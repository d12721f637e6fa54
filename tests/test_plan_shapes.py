"""Plan-shape invariants: the registry-wide serial-stage audit, pinned on
a representative sample, and the tokens-once-per-row rule of every
token-exploding pipeline (bottom of the file).

A full-registry sweep (all 163 entries, r9) found every
``Exchange SinglePartition`` in every plan sits over one of exactly
three benign shapes — a partial SCALAR aggregate (the normal two-stage
agg merge), a ``LocalLimit`` (global top-k final merge, ≤ k rows), or
``distributed_prefix``'s per-partition offsets frame (≤ |partitions| x
|groups| rows). Never over raw data: no operator funnels the corpus
through one task. This test pins that property on one entry per plan
family so a regression (someone writes ``Window.orderBy`` with no
partition key over data, or a global sort without a limit) fails fast.

BroadcastNestedLoopJoin / CartesianProduct occurrences are governed at
the SOURCE level by ``test_broadcast_allowlist.py`` (every such site
declares its bound) — plan strings can't see the bound, so they are not
re-checked here.
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

# one entry per plan family that showed a SinglePartition in the sweep
SAMPLE = [
    "qc02_filter_cmp",      # scalar filter aggregate
    "qc12_index_stats",     # multi-branch index stats aggregates
    "qc19_bucketed_term",   # bucketed-save scan + scalar agg
    "vocab_top",            # distributed_prefix offsets frame
    "search_decay",         # global top-k (LocalLimit merge)
    "curation_report",      # curation gate scalar aggregates
    "table_corr",           # decimal-cast correlation aggregates
    "pr_curve",             # r10: grouped-cumulative eval family
    "pagerank",             # r10: iterative link-graph family
    "rank_pages",           # r11: probed broadcast rank-transfer join
]

_BENIGN_CHILD = re.compile(
    r"HashAggregate\(keys=\[\]"        # partial scalar agg
    r"|SortAggregate\(key=\[\]"        # partial scalar agg (sort-based)
    r"|LocalLimit"                     # global top-k merge, <= k rows
    r"|HashAggregate\(keys=\[_dp_pid"  # distributed_prefix offsets
)


class TestNoSerialDataStage:
    @pytest.mark.parametrize("name", SAMPLE)
    def test_single_partition_only_over_bounded_frames(self, spark, name):
        import __spark_entry__ as entry

        df = entry.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            child = lines[i + 1].strip() if i + 1 < len(lines) else ""
            assert _BENIGN_CHILD.search(child), (
                f"{name}: SinglePartition over a non-bounded child — "
                f"the data is funneling through one task:\n{child}\n"
                f"full plan:\n{plan}"
            )


# -- tokens once per row ---------------------------------------------------
# Every token-exploding pipeline must run its analyzer once per input row
# (functions/analyzers.py::explode_tokens). The failure mode is silent —
# same rows, 1 + n analyzer runs per n-token row — so it is pinned on the
# optimized plan: the analyzer's expression must occur exactly once.
# "simple" is a SQL expression chain; "english" is a pandas UDF, which the
# optimizer extracts into one ArrowEvalPython node per evaluation.
_ANALYZER_MARK = {"simple": "split(lower(", "english": "_tok("}


def _occurrences(df, analyzer):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count(_ANALYZER_MARK[analyzer])


@pytest.fixture(scope="module")
def token_frames(spark):
    docs = spark.createDataFrame(
        [
            (1, "The cats sat on the mat"),
            (2, "dogs RUN fast, dogs run"),
            (3, None),
            (4, ""),
            (5, "!! -- ??"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(10, "cats and dogs"), (11, "run run"), (12, None)],
        "qid long, q string",
    )
    return docs, queries


class TestTokensOncePerRow:
    @pytest.mark.parametrize("analyzer", sorted(_ANALYZER_MARK))
    def test_postings_frame(self, token_frames, analyzer):
        # build_index and upsert_index's delta build both run this frame
        from sparksearchengine_spark import Corpus, TextOptions

        docs, _ = token_frames
        pf = Corpus(
            docs, text_cols={"text": TextOptions(analyzer=analyzer)}
        )._postings_frame()
        assert _occurrences(pf, analyzer) == 1

    @pytest.mark.parametrize("analyzer", sorted(_ANALYZER_MARK))
    def test_stream_postings(self, token_frames, analyzer):
        from sparksearchengine_spark.streaming.stream import stream_postings

        docs, _ = token_frames
        sp = stream_postings(docs, analyzer=analyzer)
        assert _occurrences(sp, analyzer) == 1

    @pytest.mark.parametrize("analyzer", sorted(_ANALYZER_MARK))
    def test_percolator_registry(self, token_frames, analyzer):
        from sparksearchengine_spark.streaming.stream import (
            prepare_percolator,
        )

        _, queries = token_frames
        reg = prepare_percolator(queries, "qid", "q", analyzer)
        try:
            # persisted: the optimized plan prints the cached physical plan
            assert _occurrences(reg, analyzer) == 1
            assert {r["query_id"] for r in reg.collect()} == {10, 11}
        finally:
            reg.unpersist()

    @pytest.mark.parametrize("analyzer", sorted(_ANALYZER_MARK))
    # dedup_queries=True reads the query rows in two branches, each
    # analyzing once: the query-terms explode and the join-back's
    # execution hash (_qh)
    @pytest.mark.parametrize("dedup, expected", [(False, 1), (True, 2)])
    def test_query_join_query_terms(
        self, token_frames, analyzer, dedup, expected
    ):
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.operators.search import query_join

        docs, queries = token_frames
        # the index side analyzes with "whitespace" (neither mark), so
        # every occurrence in the plan is the query side's
        idx = Corpus(
            docs,
            text_cols={
                "text": TextOptions(
                    analyzer="whitespace", query_analyzer=analyzer
                )
            },
        ).build_index()
        try:
            # require_all keeps _nq (the query's term count) live, so
            # the plan needs both the count and the explode of the tokens
            j = query_join(
                idx,
                queries,
                text_col="q",
                field="text",
                other_id_col="qid",
                dedup_queries=dedup,
                require_all=True,
            )
            assert _occurrences(j, analyzer) == expected
        finally:
            idx.unpersist()


class TestTokenlessDocs:
    """NULL, empty and punctuation-only text yields no postings and no
    doc_count — the outer generator's null row must not leak through.
    Docs 1 and 2 carry 6 and 5 tokens; docs 3-5 carry none."""

    @pytest.mark.parametrize("path", ["build_index", "stream_postings"])
    def test_no_postings_no_doc_count(self, token_frames, path):
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.functions.scoring import ScoringConfig
        from sparksearchengine_spark.operators.index import SearchIndex
        from sparksearchengine_spark.streaming.stream import stream_postings

        docs, _ = token_frames
        corpus = Corpus(docs, text_cols={"text": TextOptions()})
        if path == "build_index":
            idx = corpus.build_index()
        else:
            # the streamed-postings index path (load_incremental_index)
            idx = SearchIndex._from_postings(
                corpus, stream_postings(docs), ScoringConfig(), persist=False
            )
        try:
            rows = idx.postings.collect()
            assert {r["doc_id"] for r in rows} == {1, 2}
            assert all(r["term"] for r in rows)
            assert {(r["doc_id"], r["dl"]) for r in rows} == {(1, 6), (2, 5)}
            fs = idx.fieldstats["text"]
            assert (fs.doc_count, fs.avgdl) == (2, 5.5)
        finally:
            idx.unpersist()
