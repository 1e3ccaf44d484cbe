#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py        (from the root of a checkout)

Checks, for each workload:
1. two traced runs with the same seed give exactly equal counts
   (decoded-block fraction, blocks per query, index layout, jobs, stages
   and tasks per operation);
2. a different seed gives a different query pool / entry order;
3. a deliberately falsified result (``--corrupt 1``) is caught: the run
   reports ``failed`` > 0 and ``correct`` false, while the clean runs
   of 1. report no failure.
Exits non-zero if any check fails.  About six benchmark runs, ~6 minutes.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = "5"
COUNTS = {
    "serve": ["wand.decoded_block_frac", "wand.blocks_per_query",
              "wand.plan_jobs", "wand.exec_jobs", "wand.exec_stages",
              "wand.exec_tasks", "index_build.build_jobs",
              "index_build.finalize_jobs", "index_build.blocks_per_posting",
              "index_build.bytes_per_posting"],
    "entries": ["index_build.build_jobs", "index_build.finalize_jobs",
                "index_build.blocks_per_posting",
                "index_build.bytes_per_posting"],
}


def bench(workload: str, seed: int, trace: int, corrupt: int = 0) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", SECONDS, "--trace", str(trace),
         "--corrupt", str(corrupt)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path[:0] = [HERE, os.getcwd()]
    import entries
    import serve

    failures = []

    def check(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    check(serve.query_pool(1) != serve.query_pool(2),
          "serve: another seed gives another query pool")
    orders = {tuple(random.Random(s).sample(entries.ENTRIES, len(entries.ENTRIES)))
              for s in range(1, 6)}
    check(len(orders) > 1, "entries: another seed gives another entry order")

    for w in ("serve", "entries"):
        names = COUNTS[w] + [m for m in
                             (f"entry_queries.{e}_jobs" for e in entries.ENTRIES)
                             if w == "entries"]
        ra, rb = bench(w, 7, 1), bench(w, 7, 1)
        check(ra["failed"] == 0 == rb["failed"] and ra["correct"] and rb["correct"],
              f"{w}: clean runs report no failure")
        a, b = ra["metrics"], rb["metrics"]
        for m in names:
            check(a[m]["value"] == b[m]["value"] and a[m]["value"] > 0,
                  f"{w}: {m} repeats with the same seed "
                  f"({a[m]['value']} vs {b[m]['value']})")
        bad = bench(w, 7, 0, corrupt=1)
        check(bad["failed"] > 0 and not bad["correct"],
              f"{w}: a falsified result is caught "
              f"(failed {bad['failed']} of {bad['attempted']})")
    print(f"{len(failures)} failed checks")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
