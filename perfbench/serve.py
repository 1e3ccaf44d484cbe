"""``serve``: block-max WAND top-20 queries over one fixed index snapshot.

Set-up (not timed): generate a topic-clustered corpus from the seed,
write it to parquet, build the sharded index, and run every query shape
once.  Timed: one client thread in a closed loop; each query is
``bm25_wand_search(...).collect()``.  Checked: every distinct query's
top-k equals an exhaustive BM25 top-k over every posting of its terms.
"""

from __future__ import annotations

import math
import os
import random
import time

from pyspark.sql import functions as F

from common import drift_ratio, median, tail

N_PAGES = 2000
TOPICS = 32
N_SHARDS = 2
POOL_SIZE = 500
TOP_K = 20
ZH_SHARE = 0.2
COUNT_QUERIES = 10  # traced runs count jobs and blocks over this prefix
# every query shape (multi-term en, topical en, zh, all-OOV) runs before
# timing, WARMUP_ROUNDS times: with one round the JIT state at the start of
# the timed phase varied from run to run, and so did the latency median
WARMUP = [("data search index", "en"), ("topicaawordb engine", "en"),
          ("数据 检索", "zh"), ("qzxvk wvqpt", "en")]
WARMUP_ROUNDS = 3


def query_pool(seed: int) -> list[tuple[str, str]]:
    """500 queries of 1-5 terms: Zipf head words, topical words, OOV
    words, and ~20% Chinese."""
    from document_retrieval_system_spark.sources.corpus import (
        EN_VOCAB,
        ZH_WORDS,
        topic_vocab,
    )

    rng = random.Random(seed)
    en_w = [1.0 / (r + 1) for r in range(len(EN_VOCAB))]
    zh_w = [1.0 / (r + 1) for r in range(len(ZH_WORDS))]
    pool = []
    for _ in range(POOL_SIZE):
        if rng.random() < ZH_SHARE:
            words = rng.choices(ZH_WORDS, weights=zh_w, k=rng.randint(1, 3))
            pool.append((" ".join(words), "zh"))
            continue
        words = []
        for _ in range(rng.randint(1, 5)):
            r = rng.random()
            if r < 0.5:
                words.append(rng.choices(EN_VOCAB, weights=en_w)[0])
            elif r < 0.9:
                words.append(rng.choice(topic_vocab(rng.randrange(TOPICS))))
            else:
                words.append("".join(rng.choice("qxzjv") for _ in range(6)))
        pool.append((" ".join(words), "en"))
    return pool


def query_stream(seed: int, pool: list, n: int = 5000) -> list[tuple[str, str]]:
    """Draws with Zipf popularity over the pool, so popular queries repeat."""
    rng = random.Random(seed ^ 0x5EED)
    weights = [1.0 / (r + 1) for r in range(len(pool))]
    return rng.choices(pool, weights=weights, k=n)


class TracedReader:
    """An IndexReader whose ``corpus()`` calls are recorded as spans."""

    def __init__(self, reader, tracer):
        self._reader = reader
        self._tracer = tracer

    def corpus(self):
        with self._tracer.span("index_build.corpus"):
            return self._reader.corpus()

    def __getattr__(self, name):
        return getattr(self._reader, name)


def index_layout(spark, index_dir: str) -> tuple[float, float, int]:
    """(on-disk bytes per posting, blocks per posting, documents) of an index.

    The bytes are those of the index's data; the manifest event log is left
    out, because it records commit times and so its compressed size changed
    by a few bytes between runs of the same seed."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        IndexReader,
        manifest_stats,
    )

    st = manifest_stats(IndexReader(spark, index_dir).manifest())
    manifest = IndexPaths(index_dir).manifest
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(index_dir) if not d.startswith(manifest)
        for f in fs
    )
    return size / st["postings"], st["blocks"] / st["postings"], st["docs_parsed"]


def trace_builds(tracer):
    """Record ``build_index`` and ``finalize_index`` calls as spans, by
    wrapping the module attributes the program looks them up through; each
    build span also gets the built index's ``index_layout``.  Returns an
    undo function."""
    from document_retrieval_system_spark.operators import index_build as ib

    orig_build, orig_fin = ib.build_index, ib.finalize_index

    def build_index(spark, *a, **kw):
        with tracer.span("index_build.build") as sp:
            out = orig_build(spark, *a, **kw)
        # read now: a caller may move the index once it returns
        sp["layout"] = index_layout(spark, out.root)
        return out

    def finalize_index(*a, **kw):
        with tracer.span("index_build.finalize"):
            return orig_fin(*a, **kw)

    ib.build_index, ib.finalize_index = build_index, finalize_index

    def undo():
        ib.build_index, ib.finalize_index = orig_build, orig_fin

    return undo


def _rows(rows) -> list[tuple[str, float]]:
    return [(r["doc_id"], r["score"]) for r in rows]


def exhaustive_topk(reader, keys: list[tuple[str, str]]) -> dict:
    """Exhaustive BM25 top-k of every key: every posting of every query
    term, decoded by the program's ``flat_postings`` in one pass and
    scored here with the reference formula."""
    from document_retrieval_system_spark.functions.analyzer import process_text
    from document_retrieval_system_spark.operators.search import flat_postings
    from document_retrieval_system_spark.oracle import (
        BM25_B,
        BM25_K1,
        DEFAULT_MIN_SCORE,
    )

    terms = {key: process_text(*key) for key in keys}
    vocab = sorted({t for ts in terms.values() for t in ts})
    out = {key: [] for key in keys}
    if not vocab:
        return out
    corpus = reader.corpus()
    n, avgdl = corpus["total_docs"], corpus["avg_doc_length"]
    dfs = {r["term"]: r["df"] for r in
           reader.term_stats().filter(F.col("term").isin(vocab)).collect()}
    postings: dict[str, list] = {}
    for r in flat_postings(reader.postings().filter(F.col("term").isin(vocab))).collect():
        postings.setdefault(r["term"], []).append(
            ((r["shard"], r["local_no"]), r["tf"], r["doc_len"]))
    doc_ids = {(r["shard"], r["local_no"]): r["doc_id"] for r in
               reader.docs().select("shard", "local_no", "doc_id").collect()}
    for key, ts in terms.items():
        weights: dict[str, float] = {}
        for t in ts:
            df = dfs.get(t, 0)
            if df > 0:
                weights[t] = weights.get(t, 0.0) + math.log((n - df + 0.5) / (df + 0.5) + 1)
        scores: dict[tuple, float] = {}
        for t, w in weights.items():
            for doc, tf, dl in postings.get(t, []):
                norm = tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
                scores[doc] = scores.get(doc, 0.0) + w * norm
        hits = sorted((-s, doc_ids[d]) for d, s in scores.items() if s >= DEFAULT_MIN_SCORE)
        out[key] = [(d, -s) for s, d in hits[:TOP_K]]
    return out


def same_topk(got: list | None, want: list) -> bool:
    """Same doc_ids in the same order, scores equal to 1e-12 relative
    (the tolerance tests/test_wand.py pins between WAND and exhaustive)."""
    return got is not None and [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(a, b, rel_tol=1e-12) for (_, a), (_, b) in zip(got, want))


def run(spark, args, tracer, run, t_proc: float) -> None:
    from document_retrieval_system_spark.operators import index_build as ib
    from document_retrieval_system_spark.operators.wand import bm25_wand_search
    from document_retrieval_system_spark.sources.corpus import pages_df

    sc = spark.sparkContext
    pages_dir = os.path.join(args.workdir, "pages")
    index_dir = os.path.join(args.workdir, "index")
    undo = trace_builds(tracer) if tracer.enabled else (lambda: None)
    try:
        t = time.perf_counter()
        with tracer.span("corpus.generate"):
            pages_df(spark, N_PAGES, seed=args.seed, topics=TOPICS).write.parquet(pages_dir)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        ib.build_index(spark, spark.read.parquet(pages_dir), index_dir, n_shards=N_SHARDS)
        build_s = time.perf_counter() - t
    finally:
        undo()
    reader = ib.IndexReader(spark, index_dir)
    qreader = TracedReader(reader, tracer) if tracer.enabled else reader
    t = time.perf_counter()
    for q, lang in WARMUP * WARMUP_ROUNDS:
        bm25_wand_search(reader, q, lang=lang, max_results=TOP_K).collect()
    warm_s = time.perf_counter() - t

    pool = query_pool(args.seed)
    stream = query_stream(args.seed, pool)
    counters = None
    if tracer.enabled:
        counters = {"total_blocks": sc.accumulator(0), "decoded_blocks": sc.accumulator(0)}
    lat: list[float] = []
    results: list[tuple[tuple[str, str], list | None]] = []
    blocks: list[tuple[int, int]] = []  # running (total, decoded) per query
    t_start = time.perf_counter()
    setup_s = t_start - t_proc
    deadline = t_start + args.seconds
    for i, (q, lang) in enumerate(stream):
        t = time.perf_counter()
        try:
            with tracer.span("serve.query", op=f"q{i}"):
                with tracer.span("wand.plan"):
                    df = bm25_wand_search(qreader, q, lang=lang, max_results=TOP_K,
                                          counters=counters)
                with tracer.span("wand.exec"):
                    rows = df.collect()
            results.append(((q, lang), _rows(rows)))
        except Exception as ex:  # a failed query counts, the loop goes on
            run.notes.append(f"query {q!r} failed: {type(ex).__name__}: {ex}")
            results.append(((q, lang), None))
        lat.append(time.perf_counter() - t)
        if counters is not None:
            blocks.append((counters["total_blocks"].value, counters["decoded_blocks"].value))
        # traced runs always reach COUNT_QUERIES, so counts cover one fixed prefix
        if time.perf_counter() >= deadline and (counters is None or i + 1 >= COUNT_QUERIES):
            break
    wall = time.perf_counter() - t_start
    n = len(lat)

    # ---- correctness (not timed) ----
    if args.corrupt:  # the self-test's deliberately wrong result
        i = next(i for i, (_, rows) in enumerate(results) if rows)
        key, rows = results[i]
        results[i] = (key, [(rows[0][0], rows[0][1] * 1.000001)] + rows[1:])
    keys = sorted({k for k, _ in results})
    want = exhaustive_topk(reader, keys)
    run.attempted = n
    run.failed = sum(1 for k, rows in results if not same_topk(rows, want[k]))

    p50 = median(lat)
    run.metrics["setup_s"] = (setup_s, "s")
    run.metrics["latency_p50_s"] = (p50, "s")
    run.metrics["ops_per_s"] = (n / wall, "1/s")
    tp, tv = tail(lat)
    run.notes += [
        f"serve: {n} queries ({len(keys)} distinct) in {wall:.2f} s, one client thread, closed loop",
        f"query_p50_s={p50:.4f} s  "
        + (f"query_p{tp}_s={tv:.4f} s  " if tp else "no tail percentile (< 20 queries)  ")
        + f"queries_per_s={n / wall:.3f}",
        f"set-up steps: session+imports={setup_s - gen_s - build_s - warm_s:.2f} s  "
        f"generate={gen_s:.2f} s  build={build_s:.2f} s  warm-up={warm_s:.2f} s",
    ]

    if tracer.enabled:
        _layers(spark, tracer, run, blocks, lat, pages_dir)


def _layers(spark, tracer, run, blocks, lat, pages_dir) -> None:
    """Per-layer metrics.  Times are medians over every timed query;
    counts are per query over the first COUNT_QUERIES of the stream,
    which every traced run of a seed executes, so they repeat exactly."""
    from document_retrieval_system_spark.operators.index_build import (
        add_doc_identity,
        tokenize_docs,
    )

    with tracer.span("index_build.tokenize"):
        pages = add_doc_identity(spark.read.parquet(pages_dir), N_SHARDS)
        tokenize_docs(pages).write.format("noop").mode("overwrite").save()
    tracer.count_jobs()
    L = run.layers
    k = COUNT_QUERIES
    plans, execs = tracer.named("wand.plan"), tracer.named("wand.exec")
    corpus = [sum(tracer.totals(c)["dur"] for c in tracer.spans
                  if c["parent"] == sp["id"] and c["name"] == "index_build.corpus")
              for sp in tracer.spans if sp["name"] == "wand.plan"]
    L["wand.plan_s"] = (median([p["dur"] for p in plans]), "s")
    L["wand.plan_jobs"] = (sum(p["jobs"] for p in plans[:k]) / k, "count")
    L["index_build.corpus_s"] = (median(corpus), "s")
    L["wand.exec_s"] = (median([e["dur"] for e in execs]), "s")
    for c in ("jobs", "stages", "tasks"):
        L[f"wand.exec_{c}"] = (sum(e[c] for e in execs[:k]) / k, "count")
    total, decoded = blocks[k - 1]
    L["wand.decoded_block_frac"] = (decoded / total if total else 0.0, "ratio")
    L["wand.blocks_per_query"] = (decoded / k, "count")
    build_sp = next(sp for sp in tracer.spans if sp["name"] == "index_build.build")
    build = tracer.totals(build_sp)
    bytes_pp, blocks_pp, _ = build_sp["layout"]
    fin = tracer.named("index_build.finalize")[0]
    L["index_build.build_s"] = (build["dur"], "s")
    L["index_build.build_jobs"] = (build["jobs"], "count")
    L["index_build.build_docs_per_s"] = (N_PAGES / build["dur"], "docs/s")
    L["index_build.tokenize_s"] = (tracer.named("index_build.tokenize")[0]["dur"], "s")
    L["index_build.finalize_s"] = (fin["dur"], "s")
    L["index_build.finalize_jobs"] = (fin["jobs"], "count")
    L["index_build.blocks_per_posting"] = (blocks_pp, "ratio")
    L["index_build.bytes_per_posting"] = (bytes_pp, "B/posting")
    L["trace.latency_p50_s"] = (median(lat), "s")
    L["host.drift_ratio"] = (drift_ratio([("query", x) for x in lat]), "ratio")
    run.notes.append(f"index_bytes_per_posting={bytes_pp:.4f}")
