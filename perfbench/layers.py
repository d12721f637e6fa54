"""The traced run's per-layer metrics.

After the workload's traced rounds, ``layer_metrics`` calls into every
layer of the package once more, from outside, on the same generated
inputs, each call under a span. The span's Spark job groups give its
jobs, stages, tasks, executor run and CPU time, shuffle and spill. Every
layer is measured in every traced run, whichever the workload: a call
the workload's rounds already made runs warm, any other call is that
call's first in the session. Each call is followed by its documented
release, and what it still leaves cached is reported as
``cache.rdds_after.<op>`` / ``cache.mb_after.<op>``.
"""

from __future__ import annotations

import os
import statistics
import time

from spark_env import COUNTERS, cached_mb, persisted_ids
from workloads import (
    DEDUP_ARGS,
    Bench,
    Workload,
    _build_index,
    _queries_pdf,
    check_index,
    dedup_problem,
    percolate_problem,
    tree_query,
)

TOPK_CALLS = 5
COMPILE_TREES = 10
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "run_ms": "ms",
         "cpu_ms": "ms", "shuffle_mb": "MiB", "spill_mb": "MiB"}


class _Sweep:
    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.spark = bench.spark
        self.tr = bench.tracer
        self.m: dict[str, tuple[float, str]] = {}
        self.keep: list = []  # frames the sweep needs cached throughout

    def put(self, name: str, value: float, unit: str) -> None:
        self.m[name] = (float(value), unit)

    def counters(self, prefix: str, span) -> None:  # type: ignore[no-untyped-def]
        c = self.tr.counters(span)
        for k in COUNTERS:
            self.put(f"{prefix}.{k}", c[k], UNITS[k])

    def frame(self, pdf):  # type: ignore[no-untyped-def]
        df = self.b.frame(pdf)
        self.keep.append(df)
        return df

    def report(self, op: str, left: set[int]) -> None:
        """Report the RDDs ``op`` left cached after its documented
        release, then drop them so the next call starts clean. Spark's
        cache registry is cleared as a whole, so that a later call
        persisting the same plan caches it again; the sweep's own frames
        are cached again after it."""
        self.put(f"cache.rdds_after.{op}", len(left), "count")
        self.put(f"cache.mb_after.{op}", cached_mb(self.spark, left), "MiB")
        if left:
            self.spark.catalog.clearCache()
            for df in self.keep:
                df.persist()
                df.count()

    def leftovers(self, op: str, before: set[int]) -> None:
        self.report(op, persisted_ids(self.spark) - before)


def layer_metrics(bench: Bench, wl: Workload, rounds: list[float]) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from sparksearchengine_spark import Q, analyzer_expr, query_from_json, query_to_json, upsert_index
    from sparksearchengine_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_dedup,
        minhash_signatures,
    )
    from sparksearchengine_spark.operators.joindsl import prepare_dsl_queries

    sw = _Sweep(bench)
    tr, inp, spark = bench.tracer, bench.inputs, bench.spark
    wl.release()  # no index over the same documents may stay cached
    pdf = inp.docs.to_pandas(inp.seed)
    docs = sw.frame(pdf)

    # functions/analyzers: an action that only tokenizes
    with tr.span("analyzers.tokenize") as s:
        n_tok = docs.select(F.sum(F.size(analyzer_expr(F.col("text"), "simple")))).collect()[0][0]
    want = inp.oracle.total_tokens()
    bench.verify("analyzers.tokenize", None if n_tok == want else f"{n_tok} tokens, expected {want}")
    sw.put("analyzers.tokenize_s", s.seconds, "s")
    sw.put("analyzers.cpu_ms", tr.counters(s)["cpu_ms"], "ms")

    # operators/index: a build, kept as the index the later calls use
    before = persisted_ids(spark)
    with tr.span("index.build") as s:
        with tr.span("index.build.call") as c:
            idx = _build_index(docs)
        with tr.span("index.build.materialize") as m:
            idx.postings.count()
            idx.termstats.count()
    index_ids = persisted_ids(spark) - before
    sw.put("index.build.call_s", c.seconds, "s")
    sw.put("index.build.materialize_s", m.seconds, "s")
    sw.counters("index.build", s)
    sw.put("index.mb", cached_mb(spark, index_ids), "MiB")
    bench.verify("index.build", check_index(idx, inp.oracle, ["w0", "w1", "w100"]))
    sw.keep += [idx.postings, idx.termstats]

    changes = sw.frame(inp.cdc[0].changes.to_pandas(inp.seed + 1))
    before = persisted_ids(spark)
    with tr.span("index.upsert") as s:
        with tr.span("index.upsert.call") as c:
            new = upsert_index(idx, changes, deletes=inp.cdc[0].deletes)
        with tr.span("index.upsert.materialize") as m:
            new.postings.count()
            new.termstats.count()
    sw.put("index.upsert.call_s", c.seconds, "s")
    sw.put("index.upsert.materialize_s", m.seconds, "s")
    sw.counters("index.upsert", s)
    bench.verify("index.upsert", check_index(new, inp.after[0], inp.cdc[0].unique_terms[:3]))
    # operators/search + functions/scoring: scored postings of a new index
    with tr.span("search.scored_postings") as s:
        new.scored_postings("text").count()
    sw.put("search.scored_postings_s", s.seconds, "s")
    new.unpersist()
    sw.leftovers("upsert", before)

    # operators/search: batch_search, query_join, single-query top-k
    qdf = sw.frame(_queries_pdf(inp.queries))
    qj = sw.frame(pdf[pdf.doc_id.isin(inp.qjoin_ids)][["doc_id", "text"]]
                  .rename(columns={"doc_id": "qid"}))
    scored = idx.scored_postings("text")
    scored.count()
    sw.keep.append(scored)
    hits = 0
    for op, prefix, make in (
        ("batch_search", "search.batch",
         lambda: idx.batch_search(qdf, k=10, field="text")),
        ("query_join", "search.qjoin",
         lambda: idx.query_join(qj, text_col="text", field="text", k=5, other_id_col="qid")
         .select("qid", "match_doc_id", "score", "rank")),
    ):
        before = persisted_ids(spark)
        with tr.span(prefix) as s:
            with tr.span(prefix + ".call") as c:
                lazy = make()
            with tr.span(prefix + ".action") as a:
                rows = lazy.collect()
        sw.put(prefix + ".call_s", c.seconds, "s")
        sw.put(prefix + ".action_s", a.seconds, "s")
        sw.counters(prefix, s)
        sw.leftovers(op, before)
        hits = hits or len(rows)
    terms = sorted({t for q in inp.queries for t in q})
    dfs = {r["term"]: r["df_t"] for r in idx.term_counts().where(F.col("term").isin(terms)).collect()}
    addressed = sum(dfs.get(t, 0) for q in inp.queries for t in set(q))
    sw.put("search.postings_per_hit", addressed / max(1, hits), "count")

    topq = Q.field("text").match_text(" ".join(inp.queries[0]))
    idx.search(topq, k=10).collect()
    topk = []
    for _ in range(TOPK_CALLS):
        with tr.span("search.topk") as s:
            idx.search(topq, k=10).collect()
        topk.append(s.seconds * 1e3)
    sw.put("search.topk_ms", statistics.median(topk), "ms")

    # plans: compile (no action) and serde round trip per distinct tree
    trees = [tree_query(t) for t in inp.trees]
    compile_ms = []
    for q in trees[:COMPILE_TREES]:
        with tr.span("plans.compile") as s:
            idx.compile(q)
        compile_ms.append(s.seconds * 1e3)
    sw.put("plans.compile_ms", statistics.median(compile_ms), "ms")
    serde_us = []
    for q in trees:
        t0 = time.perf_counter()
        query_from_json(query_to_json(q))
        serde_us.append((time.perf_counter() - t0) * 1e6)
    sw.put("plans.serde_us", statistics.median(serde_us), "us")

    # operators/joindsl: normalization alone, then the two table calls
    js = [query_to_json(q) for q in trees]
    dsl = sw.frame(pd.DataFrame({"qid": np.arange(len(inp.tree_rows), dtype=np.int64),
                                 "q": [js[t] for t in inp.tree_rows]}))
    with tr.span("joindsl.normalize") as s:
        prepared = prepare_dsl_queries(idx, dsl, "q", "qid")
        prepared.count()
    prepared.unpersist()
    sw.put("joindsl.normalize_s", s.seconds, "s")
    for op, prefix, call in (
        ("query_join_dsl", "joindsl.join",
         lambda: idx.query_join_dsl(dsl, query_col="q", k=10, other_id_col="qid")
         .select("qid", "match_doc_id", "score", "rank").collect()),
        ("percolate", "joindsl.percolate",
         lambda: idx.percolate_dsl_df(dsl, query_col="q", id_col="qid").toPandas()),
    ):
        before = persisted_ids(spark)
        with tr.span(prefix) as s:
            out = call()
        if op == "percolate":
            bench.verify(op, percolate_problem(out, inp))
        sw.put(prefix + ".action_s", s.seconds, "s")
        sw.counters(prefix, s)
        idx.release_caches()
        sw.leftovers(op, before)

    # the build's documented release
    sw.keep = [df for df in sw.keep if all(df is not x for x in (idx.postings, idx.termstats, scored))]
    idx.unpersist()
    sw.report("build", index_ids & persisted_ids(spark))

    # operators/dedup: signatures, LSH candidates, the full dedup
    ddf = sw.frame(inp.dedup_docs.to_pandas(inp.seed + 7))
    with tr.span("dedup.signatures") as s:
        minhash_signatures(ddf, "doc_id", "text").count()
    sw.put("dedup.signatures_s", s.seconds, "s")
    before = persisted_ids(spark)
    n_cand = minhash_lsh_candidates(minhash_signatures(ddf, "doc_id", "text"), 64, 16).count()
    sw.leftovers("lsh_candidates", before)
    before = persisted_ids(spark)
    with tr.span("dedup") as s:
        pairs = minhash_lsh_dedup(ddf, id_col="doc_id", text_col="text", **DEDUP_ARGS).collect()
    sw.put("dedup.action_s", s.seconds, "s")
    sw.put("dedup.docs_per_s", len(inp.dedup_docs.ids) / s.seconds, "1/s")
    sw.counters("dedup", s)
    sw.leftovers("dedup", before)
    bench.verify("dedup", dedup_problem(pairs, inp))
    sw.put("dedup.candidates", n_cand, "count")
    sw.put("dedup.verified", len(pairs), "count")
    sw.put("dedup.verified_per_candidate", len(pairs) / max(1, n_cand), "ratio")

    sw.put("trace.round_s", statistics.median(rounds), "s")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
    os.makedirs(out, exist_ok=True)
    tr.dump(os.path.join(out, f"trace-{wl.name}-{inp.seed}.json"),
            {"metrics": {k: v for k, (v, _) in sw.m.items()}})
    return {k: {"value": v, "unit": u} for k, (v, u) in sw.m.items()}
