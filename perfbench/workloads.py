"""The benchmark's inputs and its workloads.

Each workload is a closed loop with one client: a round calls the
engine's public API one call after another, and every call's output is
checked against the oracle outside the timer. A call whose output
disagrees counts as a failed operation.
"""

from __future__ import annotations

import statistics
import sys
import time
from typing import Callable

import numpy as np

from corpus import (
    distinct_queries,
    length_strata,
    make_cdc,
    make_dedup_docs,
    make_docs,
    make_trees,
    zipf_rows,
)
from oracle import Oracle, jaccard, same_ranking, topk_mismatch
from spark_env import Tracer

# input sizes (see README.md for why these and not the 10k-doc corpus)
N_DOCS = 400
CDC_BATCHES = 1
N_QUERIES = 500
N_QJOIN = 32
N_TREES = 75
N_DSL_ROWS = 300
N_DEDUP_BASE = 200
N_DEDUP_SOURCES = 15
SAMPLE = 20  # queries / trees per call whose full top-k is checked
DEDUP_ARGS = dict(n=3, num_hashes=64, bands=16, threshold=0.8)


class Inputs:
    """Every input of every workload, generated from one seed. Each part
    draws from its own child stream, so a workload's inputs do not depend
    on which other parts were generated."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(6)]
        self.docs = make_docs(rng[0], N_DOCS)
        self.cdc = make_cdc(rng[1], self.docs, CDC_BATCHES)
        self.queries = distinct_queries(rng[2], N_QUERIES)
        self.qjoin_ids = length_strata(self.docs, N_QJOIN)
        self.trees = make_trees(rng[4], self.docs, N_TREES)
        self.tree_rows = zipf_rows(rng[4], N_TREES, N_DSL_ROWS)
        self.dedup_docs, self.planted = make_dedup_docs(rng[5], N_DEDUP_BASE, N_DEDUP_SOURCES)
        self.sample = [int(i) for i in rng[3].choice(N_QUERIES, SAMPLE, replace=False)]
        self.oracle = Oracle.of(self.docs)
        # oracle states after each CDC batch, in order
        self.after = []
        o = self.oracle
        for b in self.cdc:
            o = o.apply_cdc(b.changes, b.deletes)
            self.after.append(o)

    def fresh_queries(self, b: int) -> list[list[str]]:
        """Queries run on the index right after CDC batch ``b``: each
        changed doc's planted term, the three rarest terms of each deleted
        doc, and a slice of the ad-hoc queries."""
        batch, before = self.cdc[b], (self.after[b - 1] if b else self.oracle)
        out = [[u] for u in batch.unique_terms]
        for d in batch.deletes:
            toks = sorted(set(before.toks[d]), key=lambda t: (before.df(t), t))
            out.append(toks[:3])
        return out + self.queries[:10]

    def tree_json(self) -> list[str]:
        from sparksearchengine_spark import query_to_json

        return [query_to_json(tree_query(t)) for t in self.trees]


def tree_query(spec):  # type: ignore[no-untyped-def]
    """The engine's query AST for a ``corpus.TreeSpec``."""
    from sparksearchengine_spark import F_, Q

    f = Q.field("text")
    if spec.kind == "any":
        return f.match_any(*spec.terms)
    if spec.kind == "all_views":
        return f.match_all(*spec.terms) & F_.ge("views", spec.min_views)
    return f.match_phrase(" ".join(spec.terms))


class Bench:
    """What the workloads share: the session, the inputs, the tracer and
    the per-operation timings and failure counts."""

    def __init__(self, spark, inputs: Inputs, tracer: Tracer) -> None:  # type: ignore[no-untyped-def]
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.times: dict[str, list[float]] = {}
        self.counting = True
        self.attempted = 0
        self.failed = 0
        self.round_s = 0.0

    def op(self, name: str, fn: Callable, check: Callable):  # type: ignore[no-untyped-def]
        """Run one timed call, then check its result outside the timer."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        if self.counting:
            self.times.setdefault(name, []).append(dt)
            self.round_s += dt
        self.verify(name, check(out))
        return out

    def verify(self, name: str, problem: "str | None") -> None:
        """Count one checked operation; ``problem`` says what was wrong."""
        if problem:
            print(f"FAILED {name}: {problem}", file=sys.stderr)
        if self.counting:
            self.attempted += 1
            self.failed += bool(problem)

    def frame(self, pdf):  # type: ignore[no-untyped-def]
        """A cached, materialized DataFrame from a pandas frame."""
        df = self.spark.createDataFrame(pdf).persist()
        df.count()
        return df

    def median(self, name: str) -> float:
        return statistics.median(self.times[name])


def _hits(rows, key: str, doc: str = "doc_id") -> dict[int, list[tuple[int, float]]]:  # type: ignore[no-untyped-def]
    """Group result rows into per-key (doc, score) lists in rank order."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[key], r["rank"] if r["rank"] is not None else 0)):
        lst = out.setdefault(int(r[key]), [])
        if r[doc] is not None:
            lst.append((int(r[doc]), float(r["score"])))
    return out


def _first_problem(problems) -> "str | None":  # type: ignore[no-untyped-def]
    return next((p for p in problems if p), None)


def _build_index(docs_df):  # type: ignore[no-untyped-def]
    from sparksearchengine_spark import Corpus, TextOptions

    return Corpus(docs_df, id_col="doc_id", text_cols={"text": TextOptions()}).build_index()


def check_index(idx, o: Oracle, terms: list[str]) -> "str | None":  # type: ignore[no-untyped-def]
    """Postings rows, sampled df and the field statistics of an index."""
    from pyspark.sql import functions as F

    n = idx.postings.count()
    if n != o.postings_rows():
        return f"{n} postings rows, expected {o.postings_rows()}"
    got = {r["term"]: r["df_t"] for r in idx.termstats.where(F.col("term").isin(terms)).collect()}
    for t in terms:
        if got.get(t, 0) != o.df(t):
            return f"df({t}) = {got.get(t, 0)}, expected {o.df(t)}"
    fs = idx.fieldstats["text"]
    if fs.doc_count != o.doc_count or abs(fs.avgdl - o.avgdl) > 1e-9:
        return f"fieldstats {fs.doc_count}/{fs.avgdl}, expected {o.doc_count}/{o.avgdl}"
    return None


class Workload:
    """One workload: ``setup`` builds its Spark-side state from the
    inputs, ``round`` runs one round of timed calls, ``release`` drops
    what ``setup`` cached."""

    name = ""

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.inp = bench.inputs

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> None:
        raise NotImplementedError

    def release(self) -> None:
        self.b.spark.catalog.clearCache()

    def summary(self) -> dict[str, float]:
        """The workload's own per-call figures, for the detail line."""
        return {}


class Ingest(Workload):
    """Cold index builds, then CDC batches through ``upsert_index``, each
    followed by one ``batch_search`` on the fresh index."""

    name = "ingest"

    def setup(self) -> None:
        b, inp = self.b, self.inp
        self.docs_df = b.frame(inp.docs.to_pandas(inp.seed))
        self.changes = [b.frame(c.changes.to_pandas(inp.seed + 1 + i)) for i, c in enumerate(inp.cdc)]
        self.fresh = [
            b.frame(_queries_pdf(inp.fresh_queries(i))) for i in range(len(inp.cdc))
        ]
        rng = np.random.default_rng(inp.seed)
        probe = [f"w{i}" for i in range(5)] + [f"w{int(r)}" for r in rng.integers(5, 40_000, 10)]
        self.df_terms = []
        for c in inp.cdc:
            probe = probe + c.unique_terms[:3] + sorted(set(inp.oracle.toks[c.deletes[0]]))[:3]
            self.df_terms.append(probe)

    def _build(self):  # type: ignore[no-untyped-def]
        idx = _build_index(self.docs_df)
        idx.postings.count()
        idx.termstats.count()
        return idx

    def _upsert(self, idx, i: int):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark import upsert_index

        new = upsert_index(idx, self.changes[i], deletes=self.inp.cdc[i].deletes)
        new.postings.count()
        new.termstats.count()
        return new

    def _check_fresh(self, i: int) -> Callable:
        inp = self.inp
        o, batch = inp.after[i], inp.cdc[i]
        qs = inp.fresh_queries(i)
        gone = {d for c in inp.cdc[: i + 1] for d in c.deletes}

        def check(rows) -> "str | None":  # type: ignore[no-untyped-def]
            hits = _hits(rows, "query_id")
            for qid, q in enumerate(qs):
                got = hits.get(qid, [])
                if gone & {d for d, _ in got}:
                    return f"deleted doc returned for query {q}"
                if qid < len(batch.unique_terms) and (not got or got[0][0] != batch.changes.ids[qid]):
                    return f"changed doc {batch.changes.ids[qid]} not first for {q}"
                bad = topk_mismatch(got, o.bm25(q), 10)
                if bad:
                    return f"query {q}: {bad}"
            return None

        return check

    def round(self) -> None:
        b, inp = self.b, self.inp
        idx = b.op("build", self._build,
                   lambda x: check_index(x, inp.oracle, self.df_terms[0]))
        for i in range(len(inp.cdc)):
            new = b.op("upsert", lambda: self._upsert(idx, i),
                       lambda x: check_index(x, inp.after[i], self.df_terms[i]))
            idx.unpersist()
            idx = new
            b.op("fresh_query",
                 lambda: idx.batch_search(self.fresh[i], k=10, field="text").collect(),
                 self._check_fresh(i))
        idx.unpersist()

    def summary(self) -> dict[str, float]:
        return {
            "build_s": self.b.median("build"),
            "upsert_s": self.b.median("upsert"),
            "fresh_query_s": self.b.median("fresh_query"),
        }


def _queries_pdf(queries: list[list[str]]):  # type: ignore[no-untyped-def]
    import pandas as pd

    return pd.DataFrame({"query_id": np.arange(len(queries), dtype=np.int64),
                         "qtext": [" ".join(q) for q in queries]})


class Serve(Workload):
    """Read-only traffic on an index built in set-up: ``batch_search``
    over distinct ad-hoc queries and a ``query_join`` of corpus docs,
    where no two queries share a term set, then ``query_join_dsl`` over a
    table of serialized trees repeated with Zipf weights."""

    name = "serve"

    def setup(self) -> None:
        import pandas as pd

        b, inp = self.b, self.inp
        pdf = inp.docs.to_pandas(inp.seed)
        self.docs_df = b.frame(pdf)
        self.idx = _build_index(self.docs_df)
        self.idx.scored_postings("text").count()
        self.qdf = b.frame(_queries_pdf(inp.queries))
        self.qj = b.frame(
            pdf[pdf.doc_id.isin(inp.qjoin_ids)][["doc_id", "text"]].rename(columns={"doc_id": "qid"})
        )
        js = inp.tree_json()
        self.dsl = b.frame(pd.DataFrame({
            "qid": np.arange(N_DSL_ROWS, dtype=np.int64),
            "q": [js[t] for t in inp.tree_rows],
        }))
        self._expected: dict = {}

    def _expect(self, key, fn):  # type: ignore[no-untyped-def]
        """Oracle answers are the same every round: compute each once."""
        if key not in self._expected:
            self._expected[key] = fn()
        return self._expected[key]

    def _bm25(self, key, terms) -> dict[int, float]:  # type: ignore[no-untyped-def]
        return self._expect(("bm25", key), lambda: self.inp.oracle.bm25(terms))

    def _tree_docs(self, t: int) -> set[int]:
        return self._expect(("tree", t), lambda: self.inp.oracle.tree_docs(self.inp.trees[t]))

    def _check_batch(self, rows) -> "str | None":  # type: ignore[no-untyped-def]
        hits = _hits(rows, "query_id")
        return _first_problem(
            topk_mismatch(hits.get(q, []), self._bm25(("q", q), self.inp.queries[q]), 10)
            for q in self.inp.sample
        )

    def _check_qjoin(self, rows) -> "str | None":  # type: ignore[no-untyped-def]
        hits = _hits(rows, "qid", "match_doc_id")
        if set(hits) != set(self.inp.qjoin_ids):
            return "query_join lost query rows"
        toks = self.inp.oracle.toks
        return _first_problem(
            topk_mismatch(hits[d], self._bm25(("d", d), toks[d]), 5)
            for d in self.inp.qjoin_ids[:8]
        )

    def _check_join(self, rows) -> "str | None":  # type: ignore[no-untyped-def]
        inp = self.inp
        hits = _hits(rows, "qid", "match_doc_id")
        if len(hits) != N_DSL_ROWS:
            return f"{len(hits)} query rows back, expected {N_DSL_ROWS}"
        first: dict[int, list] = {}
        for qid, t in enumerate(inp.tree_rows):
            got, want = hits[qid], self._tree_docs(t)
            if not {d for d, _ in got} <= want:
                return f"row {qid}: doc outside its tree {inp.trees[t]}"
            if len(got) != min(10, len(want)):
                return f"row {qid}: {len(got)} hits, expected {min(10, len(want))}"
            if t in first and not same_ranking(first[t], got):
                return f"rows sharing tree {t} disagree"
            first.setdefault(t, got)
        sampled = [t for t in sorted(first) if inp.trees[t].kind == "any"][:SAMPLE]
        return _first_problem(
            topk_mismatch(first[t], self._bm25(("t", t), inp.trees[t].terms), 10) for t in sampled
        )

    def round(self) -> None:
        b, idx = self.b, self.idx
        b.op("batch_search",
             lambda: idx.batch_search(self.qdf, k=10, field="text").collect(),
             self._check_batch)
        b.op("query_join",
             lambda: idx.query_join(self.qj, text_col="text", field="text", k=5, other_id_col="qid")
             .select("qid", "match_doc_id", "score", "rank").collect(),
             self._check_qjoin)
        b.op("query_join_dsl",
             lambda: idx.query_join_dsl(self.dsl, query_col="q", k=10, other_id_col="qid")
             .select("qid", "match_doc_id", "score", "rank").collect(),
             self._check_join)
        idx.release_caches()

    def summary(self) -> dict[str, float]:
        return {
            "batch_qps": N_QUERIES / self.b.median("batch_search"),
            "qjoin_rows_per_s": N_QJOIN / self.b.median("query_join"),
            "dsl_rows_per_s": N_DSL_ROWS / self.b.median("query_join_dsl"),
            "distinct_tree_share": len(set(self.inp.tree_rows)) / N_DSL_ROWS,
        }


def percolate_problem(pdf, inp: Inputs) -> "str | None":  # type: ignore[no-untyped-def]
    """Every row gets exactly the docs its tree matches."""
    got: dict[int, set[int]] = {}
    for q, d in zip(pdf["query_id"].tolist(), pdf["doc_id"].tolist()):
        got.setdefault(int(q), set()).add(int(d))
    if len(pdf) != sum(len(s) for s in got.values()):
        return "duplicate (query, doc) match"
    docs: dict[int, set[int]] = {}
    for qid, t in enumerate(inp.tree_rows):
        if t not in docs:
            docs[t] = inp.oracle.tree_docs(inp.trees[t])
        if got.get(qid, set()) != docs[t]:
            return f"row {qid}: {len(got.get(qid, ()))} matches, expected {len(docs[t])}"
    return None


def dedup_problem(rows, inp: Inputs) -> "str | None":  # type: ignore[no-untyped-def]
    """Every reported pair is a true near-duplicate with the Jaccard the
    engine reports, and every planted pair at 0.9 or more is found."""
    toks = dict(zip(inp.dedup_docs.ids, inp.dedup_docs.toks))
    found = set()
    for r in rows:
        a, c = int(r["id_a"]), int(r["id_b"])
        true = jaccard(toks[a], toks[c])
        if true < DEDUP_ARGS["threshold"] or abs(true - r["jaccard"]) > 1e-9:
            return f"pair ({a}, {c}) jaccard {r['jaccard']}, true {true}"
        found.add((min(a, c), max(a, c)))
    missed = {
        (p.source, p.copy) for p in inp.planted
        if jaccard(toks[p.source], toks[p.copy]) >= 0.9
    } - found
    return f"missed planted pairs {sorted(missed)[:3]}" if missed else None


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
