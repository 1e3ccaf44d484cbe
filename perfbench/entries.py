"""``entries``: oracle-checked entry queries over a fixed sf0.01 table set.

Set-up (not timed): ``WARMUP_PASSES`` passes over the entries; the first
builds the entry index cache in the run's fresh ``TMPDIR`` and pays the
cold-JVM cost, the others let the JIT settle.  Timed: passes over the
entries, each pass in an order shuffled by the seed, until the run's
seconds are spent.  Checked: every result's hash equals the hash of the
entry's DuckDB oracle SQL.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from common import drift_ratio, geomean, median
from serve import trace_builds

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["documents", "events"]
# one family per engine path: the raw-text scorer, the compressed index,
# and the dedup / sketch operators
FAMILIES = {
    "ranked": ["r3_bm25_topk"],
    "indexed": ["r3_bm25_wand"],
    "operators": ["dedup_minhash_lsh", "sketch_distinct"],
}
ENTRIES = [e for fam in FAMILIES.values() for e in fam]
# untimed passes before timing starts, the first of them cold: entry
# latencies keep falling over the first few passes as the JVM warms, and a
# median taken on that slope moves with the host's speed
WARMUP_PASSES = 3


def _table_hash():
    """``table_hash`` from tools/verify_contract.py: the normalization the
    contract check hashes results with."""
    path = os.path.join(os.getcwd(), "tools", "verify_contract.py")
    spec = importlib.util.spec_from_file_location("verify_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def oracle_hashes(table_hash) -> dict[str, str]:
    """Run each entry's oracle SQL on DuckDB over the fixed tables."""
    import duckdb

    from document_retrieval_system_spark.entry_queries import QUERIES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        out = {}
        for name in ENTRIES:
            sql = QUERIES[name][1]
            res = con.sql(sql() if callable(sql) else sql)
            out[name] = table_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def _execute(spark, name: str) -> tuple[list[str], list[tuple]]:
    from document_retrieval_system_spark.entry_queries import QUERIES

    sdf = QUERIES[name][0](spark, DATA)
    return list(sdf.columns), [tuple(r) for r in sdf.collect()]


def run(spark, args, tracer, run, t_proc: float) -> None:
    table_hash = _table_hash()
    rng = random.Random(args.seed)
    undo = trace_builds(tracer) if tracer.enabled else (lambda: None)
    try:
        for w in range(WARMUP_PASSES):
            for name in rng.sample(ENTRIES, len(ENTRIES)):
                with tracer.span("entries.warmup", op=f"warmup{w}-{name}"):
                    _execute(spark, name)
    finally:
        undo()

    times: dict[str, list[float]] = {e: [] for e in ENTRIES}
    ops: list[tuple[str, float]] = []
    hashes: list[tuple[str, str | None]] = []
    t_start = time.perf_counter()
    setup_s = t_start - t_proc
    order: list[str] = []
    # a closed loop until the deadline, in passes whose order the seed
    # shuffles; the last pass may end early, and every entry gets at least
    # two timed executions
    while len(ops) < 2 * len(ENTRIES) or time.perf_counter() - t_start < args.seconds:
        if not order:
            order = rng.sample(ENTRIES, len(ENTRIES))
        name = order.pop()
        t = time.perf_counter()
        try:
            with tracer.span("entry_queries." + name, op=f"op{len(ops)}-{name}"):
                out = _execute(spark, name)
        except Exception as ex:  # a failed entry counts, the run goes on
            run.notes.append(f"entry {name} failed: {type(ex).__name__}: {ex}")
            out = None
        d = time.perf_counter() - t
        times[name].append(d)
        ops.append((name, d))
        hashes.append((name, None if out is None else table_hash(*out)))
    wall = time.perf_counter() - t_start

    # ---- correctness (not timed) ----
    t = time.perf_counter()
    want = oracle_hashes(table_hash)
    if args.corrupt:
        hashes[0] = (hashes[0][0], "0" * 16)
    run.attempted = len(hashes)
    run.failed = sum(1 for name, h in hashes if h != want[name])

    meds = {e: median(ts) for e, ts in times.items()}
    gm = geomean(list(meds.values()))
    run.metrics["setup_s"] = (setup_s, "s")
    run.metrics["latency_p50_s"] = (gm, "s")
    run.metrics["ops_per_s"] = (len(ops) / wall, "1/s")
    run.notes += [
        f"entries: {len(ops)} executions of {len(ENTRIES)} entries in {wall:.2f} s, one client thread",
        f"entry_geomean_s={gm:.4f} s  oracle check={time.perf_counter() - t:.2f} s",
        "  ".join(f"{e}={meds[e]:.3f}" for e in ENTRIES),
    ]

    if tracer.enabled:
        tracer.count_jobs()
        L = run.layers
        for e in ENTRIES:
            spans = tracer.named("entry_queries." + e)
            L[f"entry_queries.{e}_s"] = (meds[e], "s")
            L[f"entry_queries.{e}_jobs"] = (sum(s["jobs"] for s in spans) / len(spans), "count")
        for fam, names in FAMILIES.items():
            L[f"entry_queries.{fam}_geomean_s"] = (geomean([meds[e] for e in names]), "s")
        builds = [sp for sp in tracer.spans if sp["name"] == "index_build.build"]
        if builds:
            b, layout = tracer.totals(builds[0]), builds[0]["layout"]
            fin = tracer.named("index_build.finalize")[0]
            L["index_build.build_s"] = (b["dur"], "s")
            L["index_build.build_docs_per_s"] = (layout[2] / b["dur"], "docs/s")
            L["index_build.build_jobs"] = (b["jobs"], "count")
            L["index_build.finalize_s"] = (fin["dur"], "s")
            L["index_build.finalize_jobs"] = (fin["jobs"], "count")
            L["index_build.bytes_per_posting"] = (layout[0], "B/posting")
            L["index_build.blocks_per_posting"] = (layout[1], "ratio")
        L["trace.latency_p50_s"] = (gm, "s")
        L["host.drift_ratio"] = (drift_ratio(ops), "ratio")
