"""One workload run in its own process: start Spark, run, write a JSON record.

Started by ``run.py`` with a fresh ``TMPDIR``/``SPARK_LOCAL_DIRS`` and the
checkout on ``PYTHONPATH``.  Spark runs at ``local[<cores>]`` and is
driven from this one thread.
"""

import time

T_PROC = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

# layer -> the end-to-end metric (and workload) it should move
MOVES = {
    "wand.plan": "latency_p50_s, ops_per_s on serve",
    "wand.exec": "latency_p50_s on serve",
    "index_build.corpus": "wand.plan_s, then latency_p50_s on serve",
    "index_build.build": "setup_s on serve and entries",
    "index_build.finalize": "setup_s on serve and entries",
    "index_build.tokenize": "setup_s on serve (traced runs only)",
    "corpus.generate": "setup_s on serve",
    "entries.warmup": "setup_s on entries",
    "serve.query": "latency_p50_s, ops_per_s on serve",
    "entry_queries": "latency_p50_s, ops_per_s on entries",
}


def span_table(tracer) -> list[str]:
    """Per span name: count, total and self time, jobs, stages, tasks."""
    rows: dict[str, list[float]] = {}
    for sp in tracer.spans:
        t = tracer.totals(sp)
        r = rows.setdefault(sp["name"], [0, 0.0, 0.0, 0, 0, 0])
        r[0] += 1
        r[1] += t["dur"]
        r[2] += t["self"]
        r[3] += sp["jobs"]
        r[4] += sp["stages"]
        r[5] += sp["tasks"]
    out = [f"{'span':<36}{'n':>5}{'total_s':>10}{'self_s':>10}"
           f"{'jobs':>7}{'stages':>8}{'tasks':>8}  should move"]
    for name, (n, tot, slf, j, s, k) in rows.items():
        key = "entry_queries" if name.startswith("entry_queries.") else name
        out.append(f"{name:<36}{n:>5}{tot:>10.3f}{slf:>10.3f}{j:>7}{s:>8}{k:>8}"
                   f"  {MOVES.get(key, '-')}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", type=int, default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--tracedir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from common import Run, calib_s
    from tracing import NullTracer, Tracer

    import entries
    import serve
    from document_retrieval_system_spark.session import get_spark

    workloads = {"serve": serve, "entries": entries}
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job's status for the traced job counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    run = Run()
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    calib = [calib_s()]
    try:
        workloads[args.workload].run(spark, args, tracer, run, T_PROC)
        calib.append(calib_s())
        if tracer.enabled:
            run.layers["host.calib_s"] = (sum(calib) / len(calib), "s")
            n_ops = max(1, run.attempted)
            run.layers["trace.overhead_s"] = (tracer.bookkeeping_s / n_ops, "s")
            os.makedirs(args.tracedir, exist_ok=True)
            tracer.write(os.path.join(args.tracedir, "spans.jsonl"))
            table = span_table(tracer)
            with open(os.path.join(args.tracedir, "layers.txt"), "w") as f:
                f.write("\n".join(table) + "\n")
            run.notes += table
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(run.to_json(), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
