#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|entries --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run gets a fresh work directory
under ``.perfbench/`` (its ``TMPDIR``, ``SPARK_LOCAL_DIRS``, generated
inputs and index), runs the workload in a child process while sampling
the peak RSS of that process tree from ``/proc``, removes the work
directory, and prints a table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` its per-layer metrics, and the
spans and the per-layer table are kept under ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "entries")
TIME_LIMIT_S = 170  # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_EVERY_S = 0.25  # a /proc scan costs ~3 ms; keep the sampler's CPU share small


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(ppid, session id) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[3])
    except (OSError, IndexError, ValueError):
        return None


def _session_pids(sid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _proc_stat(p)
            if st is not None and st[1] == sid:
                out.append(int(p))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _proc_stat(p)
            if st is not None:
                children.setdefault(st[0], []).append(int(p))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def stop_session(sid: int) -> None:
    """Kill whatever the child left in its session and wait until it is gone."""
    for _ in range(100):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not stop")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="falsify one result before the check (self-test)")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(root, "document_retrieval_system_spark")):
        print("perfbench: run from the root of a checkout of the program",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    tracedir = os.path.join(base, "trace", f"{args.workload}-seed{args.seed}")
    # the JVM's temp files go to the work directory too, and it keeps no
    # perf-data file under /tmp
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYTHONPATH=root, PYSPARK_PYTHON=sys.executable, PYTHONHASHSEED="0",
               SPARK_DRIVER_MEM="2g")
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--corrupt", str(args.corrupt), "--workdir", work,
           "--tracedir", tracedir, "--out", out]
    # on SIGTERM, unwind through the finally below so the child is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    peak = 0
    t0 = time.monotonic()
    child = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr,
                             start_new_session=True)
    try:
        while child.poll() is None:
            peak = max(peak, tree_rss_bytes(child.pid))
            if time.monotonic() - t0 > TIME_LIMIT_S:
                print("perfbench: run exceeded its time limit", file=sys.stderr)
                break
            time.sleep(RSS_EVERY_S)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        stop_session(child.pid)
        try:
            with open(out) as f:
                res = json.load(f)
        except OSError:
            res = None
        shutil.rmtree(work, ignore_errors=True)
    if child.returncode != 0 or res is None:
        print(f"perfbench: workload run failed (exit {child.returncode})",
              file=sys.stderr)
        return 1

    peak_mb = peak / 2**20
    if args.trace:
        wanted = spec["per_layer"]
        have = dict(res["layers"],
                    **{"process_tree.peak_rss_mb": {"value": peak_mb, "unit": "MB"}})
    else:
        wanted = spec["end_to_end"]
        have = res["metrics"]
    metrics = {}
    for m in wanted:
        v = have.get(m["name"], {"value": 0.0})["value"]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for line in res["notes"]:
        print(line)
    print(f"peak_rss_mb={peak_mb:.1f} MB (process tree: Python driver, JVM, Python workers)")
    for name, m in metrics.items():
        print(f"{name:<44}{m['value']:>14.6g} {m['unit']}")
    print(f"error_rate={res['failed'] / max(1, res['attempted']):.4f} "
          f"({res['failed']} of {res['attempted']})")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
