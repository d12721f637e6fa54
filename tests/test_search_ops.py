"""Search execution operators (SURVEY §2.5): top-k, batch search, query
join, lookups, stats — on the tiny corpus and the sf0.001 documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparksearchengine_spark.plans.ast import Q


class TestTopK:
    def test_search_rank_order(self, tiny_index):
        res = tiny_index.search(Q.field("text").match_term("a"), k=10).collect()
        assert [r["rank"] for r in res] == [1, 2]
        assert res[0]["score"] >= res[1]["score"]
        assert res[0]["doc_id"] == 1  # tf=2 beats tf=1

    def test_k_truncates(self, tiny_index):
        res = tiny_index.search(Q.field("text").match_any("a", "b", "c"), k=2)
        assert res.count() == 2

    def test_with_elements(self, tiny_index):
        res = tiny_index.search(
            Q.field("text").match_term("a"), k=5, with_elements=True
        )
        assert "text" in res.columns and "views" in res.columns

    def test_select_cols_projection(self, tiny_index):
        res = tiny_index.search(
            Q.field("text").match_term("a"), k=5, select_cols=["views"]
        )
        assert "views" in res.columns and "text" not in res.columns

    def test_aggregating_search_driver_side(self, tiny_index):
        top = tiny_index.aggregating_search(Q.field("text").match_term("a"), k=5)
        assert len(top) == 2
        assert top[0][1] >= top[1][1]
        assert top[0][0]["doc_id"] == 1

    def test_topk_ties_break_on_doc_id(self, docs_index):
        res = docs_index.search(Q.all(), k=5).collect()
        assert [r["doc_id"] for r in res] == sorted(r["doc_id"] for r in res)


class TestBatchSearch:
    def test_per_query_topk(self, spark, tiny_index):
        qdf = spark.createDataFrame(
            [(100, "a"), (200, "b c"), (300, "zz")],
            "query_id long, qtext string",
        )
        res = tiny_index.batch_search(qdf, k=2, field="text").collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(r)
        assert sorted(r["doc_id"] for r in by_q[100]) == [1, 2]
        assert len(by_q[200]) == 2  # k=2 of 3 matches
        assert 300 not in by_q  # no hits -> no rows
        for rows in by_q.values():
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == list(range(1, len(rows) + 1))

    def test_per_query_k_col(self, spark, tiny_index):
        qdf = spark.createDataFrame(
            [(1, "a b c", 1), (2, "a b c", 3)],
            "query_id long, qtext string, k int",
        )
        res = tiny_index.batch_search(qdf, k=10, field="text", k_col="k")
        counts = {
            r["query_id"]: r["n"]
            for r in res.groupBy("query_id").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {1: 1, 2: 3}

    def test_k_col_larger_than_default_k_not_truncated(self, spark, tiny_index):
        # per-query k above the function-level k must be honored (the
        # window cutoff is max(k_col), not k)
        qdf = spark.createDataFrame(
            [(1, "a b c", 3)], "query_id long, qtext string, k int"
        )
        res = tiny_index.batch_search(qdf, k=1, field="text", k_col="k")
        assert res.count() == 3

    def test_shuffle_hash_fallback_equals_broadcast(self, spark, tiny_index):
        qdf = spark.createDataFrame(
            [(100, "a"), (200, "b c")], "query_id long, qtext string"
        )
        bc = tiny_index.batch_search(qdf, k=5, field="text", broadcast_queries=True)
        sh = tiny_index.batch_search(qdf, k=5, field="text", broadcast_queries=False)
        assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))

    def test_salted_topk_equals_plain(self, spark, docs_index):
        qdf = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(5)], "query_id long, qtext string"
        )
        plain = docs_index.batch_search(qdf, k=5, field="text")
        salted = docs_index.batch_search(qdf, k=5, field="text", salt_buckets=4)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_mixed_analyzer_fields(self, spark):
        """A batch spanning fields with DIFFERENT analyzers must run
        (VERDICT r5 'What's missing' #2): one analysis branch per
        analyzer, unioned into the shared plan. Each query's rows must
        equal its single-query search()."""
        from sparksearchengine_spark import Corpus, Q, TextOptions

        df = spark.createDataFrame(
            [
                (1, "Alpha Beta!", "alpha beta!"),
                (2, "beta", "Beta gamma"),
                (3, "Gamma alpha", "delta"),
            ],
            "doc_id long, title string, body string",
        )
        idx = Corpus(
            df,
            id_col="doc_id",
            text_cols={
                # whitespace keeps case+punctuation; simple folds both —
                # the same qtext analyzes differently per field
                "title": TextOptions(analyzer="whitespace"),
                "body": TextOptions(analyzer="simple"),
            },
        ).build_index()
        qdf = spark.createDataFrame(
            [
                (100, "Alpha Beta!", "title"),
                (200, "Alpha Beta!", "body"),
                (300, "beta", "title"),
            ],
            "query_id long, qtext string, f string",
        )
        got = {
            (r.query_id, r.doc_id, round(r.score, 6))
            for r in idx.batch_search(qdf, k=5, field_col="f").collect()
        }
        want = set()
        for qid, text, fld in [
            (100, "Alpha Beta!", "title"),
            (200, "Alpha Beta!", "body"),
            (300, "beta", "title"),
        ]:
            for r in idx.search(
                Q.field(fld).match_text(text), k=5
            ).collect():
                want.add((qid, r.doc_id, round(r.score, 6)))
        assert got == want
        # sanity: the two analyzers really disagree on this qtext
        assert {(q, d) for q, d, _ in got if q == 100} != {
            (100, d) for q, d, _ in got if q == 200
        }


class TestBatchSearchDsl:
    """E5 generalized: heterogeneous per-query DSL ASTs in one batch
    (VERDICT r5 'What's missing' #1 — reference
    `SearchableRDD.scala:194-197` accepts ANY DslQuery per id)."""

    @staticmethod
    def _per_query(index, qs, k=5):  # type: ignore[no-untyped-def]
        """{query_id: {(doc_id, 6dp score, rank)}} from one search() per
        query (queries without hits absent)."""
        out: dict = {}
        for qid, q in qs:
            for r in index.search(q, k=k).collect():
                out.setdefault(qid, set()).add(
                    (r.doc_id, round(r.score, 6), r.rank)
                )
        return out

    @staticmethod
    def _batched(index, surface, qs, k=5, **kw):  # type: ignore[no-untyped-def]
        """The same mapping from one batch call: a driver list through
        batch_search_dsl, or a serialized query column through
        query_join_dsl."""
        from sparksearchengine_spark.plans.serde import query_to_json

        if surface == "batch_search_dsl":
            rows = index.batch_search_dsl(qs, k=k, **kw).collect()
            key, doc = "query_id", "doc_id"
        else:
            other = index.postings.sparkSession.createDataFrame(
                [(qid, query_to_json(q)) for qid, q in qs],
                "qid long, q string",
            )
            rows = index.query_join_dsl(
                other, "q", k=k, other_id_col="qid", **kw
            ).collect()
            key, doc = "qid", "match_doc_id"
        out: dict = {}
        for r in rows:
            if r[doc] is not None:
                out.setdefault(r[key], set()).add(
                    (r[doc], round(r.score, 6), r.rank)
                )
        return out

    def _mixed_queries(self):
        from sparksearchengine_spark import F_, Q
        from sparksearchengine_spark.plans.ast import MatchWildcard

        return [
            (1, Q.field("text").match_term("a")),
            (2, Q.field("text").match_all("b", "c")),
            (3, Q.field("text").match_phrase("b c")),
            (4, Q.field("text").match_text("a c") & F_.gt("views", 15)),
            (5, Q.field("text").match_any("a", "zz")),
            (6, ~Q.field("text").match_term("c")),
            (7, MatchWildcard("text", "b*")),
        ]

    def test_matches_per_query_search(self, tiny_index):
        """Every query's batch rows must equal its single search()."""
        got: dict = {}
        for r in tiny_index.batch_search_dsl(
            self._mixed_queries(), k=5
        ).collect():
            got.setdefault(r.query_id, set()).add(
                (r.doc_id, round(r.score, 6), r.rank)
            )
        for qid, q in self._mixed_queries():
            want = {
                (r.doc_id, round(r.score, 6), r.rank)
                for r in tiny_index.search(q, k=5).collect()
            }
            assert got.get(qid, set()) == want, f"query {qid}"

    def test_duplicate_asts_share_plan(self, tiny_index):
        from sparksearchengine_spark import Q

        ph = Q.field("text").match_phrase("b c")
        res = tiny_index.batch_search_dsl(
            [(1, ph), (2, ph), (3, ph)], k=3
        )
        rows = res.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, set()).add((r.doc_id, r.score))
        assert by_q[1] == by_q[2] == by_q[3] and by_q[1]
        # one compiled phrase plan serves all three ids: the batched
        # plan carries exactly as many positions-HOF filters as ONE
        # compiled phrase query, not three times as many
        def final_exists(frame):
            # count only the final AQE plan — the "Initial Plan"
            # sections repeat operators verbatim
            s = frame._jdf.queryExecution().executedPlan().toString()
            return s.split("== Initial Plan ==")[0].count("exists(")

        single = final_exists(tiny_index.compile(ph))
        assert single >= 1
        assert final_exists(res) == single

    def test_termset_class_is_one_join(self, tiny_index):
        from sparksearchengine_spark import Q

        # 3 term-class queries of different kinds -> ONE postings join
        res = tiny_index.batch_search_dsl(
            [
                (1, Q.field("text").match_term("a")),
                (2, Q.field("text").match_any("b", "c")),
                (3, Q.field("text").match_all_text("a c")),
            ],
            k=5,
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # no union branches at all: everything collapsed into the data-
        # driven plan (Union absent) — and exactly one join with the
        # scored-postings cache
        assert "Union" not in plan

    def test_many_phrases_one_plan_and_exact(self, tiny_index):
        """Distinct exact phrases execute as DATA in one shared plan
        (r6) — results must equal per-query search(), including a
        duplicate-term phrase, and the plan must carry exactly ONE
        positions-HOF filter regardless of phrase count."""
        from sparksearchengine_spark import Q

        # corpus: d1=[a,b,a] d2=[a,c] d3=[b,b,c,c]
        phrases = [
            (1, Q.field("text").match_phrase("b c")),   # d3
            (2, Q.field("text").match_phrase("b a")),   # d1
            (3, Q.field("text").match_phrase("b b")),   # d3 (dup term)
            (4, Q.field("text").match_phrase("c a")),   # none
            (5, Q.field("text").match_phrase("a c", slop=1)),  # sloppy
            (6, Q.field("text").match_phrase("b c", slop=2)),  # sloppy
        ]
        res = tiny_index.batch_search_dsl(phrases, k=5)
        got: dict = {}
        for r in res.collect():
            got.setdefault(r.query_id, set()).add(
                (r.doc_id, round(r.score, 6), r.rank)
            )
        for qid, q in phrases:
            want = {
                (r.doc_id, round(r.score, 6), r.rank)
                for r in tiny_index.search(q, k=5).collect()
            }
            assert got.get(qid, set()) == want, f"phrase query {qid}"
        plan = (
            res._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert plan.count("exists(") == 1

    def test_duplicate_ids_raise(self, tiny_index):
        from sparksearchengine_spark import Q

        with pytest.raises(ValueError, match="duplicate query ids"):
            tiny_index.batch_search_dsl(
                [(1, Q.field("text").match_term("a")), (1, Q.field("text").match_term("b"))]
            )

    def test_max_plans_guard(self, tiny_index):
        from sparksearchengine_spark import Q

        qs = [
            (i, Q.field("text").match_phrase(f"a b{'!' * (i % 3)}") | Q.field("text").match_term(f"t{i}"))
            for i in range(5)
        ]
        with pytest.raises(ValueError, match="max_plans"):
            tiny_index.batch_search_dsl(qs, k=3, max_plans=2)

    def test_empty_batch(self, tiny_index):
        res = tiny_index.batch_search_dsl([], k=3)
        assert res.count() == 0
        assert res.columns == ["query_id", "doc_id", "score", "rank"]
        # empty input must produce the SAME schema as non-empty calls
        # when element columns are requested (r6 review)
        res2 = tiny_index.batch_search_dsl([], k=3, select_cols=["views"])
        assert res2.count() == 0
        assert "views" in res2.columns

    def test_element_column_collision_raises(self, spark):
        from sparksearchengine_spark import Corpus, Q, TextOptions

        df = spark.createDataFrame(
            [(1, "a b", 0.5)], "doc_id long, text string, score double"
        )
        idx = Corpus(
            df, id_col="doc_id", text_cols={"text": TextOptions()}
        ).build_index()
        with pytest.raises(ValueError, match="collide"):
            idx.search(
                Q.field("text").match_term("a"), k=3, with_elements=True
            )
        # projecting the non-colliding columns still works
        ok = idx.search(
            Q.field("text").match_term("a"), k=3, select_cols=["text"]
        )
        assert "text" in ok.columns

    def test_duplicate_clause_termset_routes_to_compiler(self, tiny_index):
        from sparksearchengine_spark import Q

        # match_min(2, 'a','a','b') weights duplicates — must match the
        # single-query compiler exactly
        q = Q.field("text").match_min(2, "a", "a", "b")
        got = {
            (r.doc_id, round(r.score, 6))
            for r in tiny_index.batch_search_dsl([(9, q)], k=5).collect()
        }
        want = {
            (r.doc_id, round(r.score, 6))
            for r in tiny_index.search(q, k=5).collect()
        }
        assert got == want

    def test_unknown_field_raises(self, tiny_index):
        from sparksearchengine_spark import Q

        with pytest.raises(ValueError, match="not a searchable"):
            tiny_index.batch_search_dsl(
                [(1, Q.field("nope").match_term("a"))]
            )

    def test_boost_and_or_fold_into_data_plan(self, tiny_index):
        """Boost(term-class) and Or-of-term-classes normalize into the
        weighted data plan (r6): no per-AST compile, no Union in the
        physical plan, scores == search() at 6dp."""
        from sparksearchengine_spark import Q

        f = Q.field("text")
        qs = [
            (1, f.match_term("a").boost(2.5)),
            (2, f.match_term("a") | f.match_any("b", "c").boost(3.0)),
            (3, f.match_term("b") | f.match_term("b")),  # weight accumulates
            (4, f.match_text("a zz") | f.match_term("c")),
        ]
        res = tiny_index.batch_search_dsl(qs, k=5)
        plan = (
            res._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Union" not in plan  # everything folded into ONE plan
        got: dict = {}
        for r in res.collect():
            got.setdefault(r.query_id, set()).add(
                (r.doc_id, round(r.score, 6), r.rank)
            )
        for qid, q in qs:
            want = {
                (r.doc_id, round(r.score, 6), r.rank)
                for r in tiny_index.search(q, k=5).collect()
            }
            assert got.get(qid, set()) == want, f"query {qid}"

    def test_filtered_queries_share_signature_plan(self, tiny_index):
        """And(term-class, filters) runs as data grouped by filter
        SIGNATURE (r6): N same-shaped queries with different values
        cost one plan — max_plans=1 must accept 10 of them — and each
        query's rows equal its single search(). Compare and in-set
        filters alike, as a driver list and as a query column (one
        executor serves both)."""
        from sparksearchengine_spark import F_, Q

        f = Q.field("text")
        for kind, filt in (
            ("gt", lambda i: F_.gt("views", 5 * i)),
            ("isin", lambda i: F_.isin("views", 10 * (i % 4), 30, 5 * i)),
        ):
            qs = [(i, f.match_any("a", "b", "c") & filt(i)) for i in range(10)]
            want = self._per_query(tiny_index, qs)
            for surface in ("batch_search_dsl", "query_join_dsl"):
                got = self._batched(tiny_index, surface, qs, max_plans=1)
                assert got == want, (kind, surface)
        # views thresholds really bite: higher thresholds, fewer docs
        qs = [(i, f.match_any("a", "b", "c") & F_.gt("views", 5 * i)) for i in (0, 5)]
        want = self._per_query(tiny_index, qs)
        assert len(want.get(0, set())) > len(want.get(5, set()))

    def test_filter_kinds_as_data(self, spark, tiny_index):
        """range / in-set / exists / missing filters all ride the
        signature data path with per-query values; parity vs search().
        A mixed bag of signatures in one batch stays correct — and on a
        warmed index builds its plan with no job, no persisted frame
        and nothing registered on the index."""
        from sparksearchengine_spark import F_, Q
        from sparksearchengine_spark.operators.search import percolate_dsl

        f = Q.field("text")
        qs = [
            (1, f.match_term("a") & F_.between("views", 5, 25)),
            (2, f.match_term("a") & F_.isin("views", 10, 30)),
            (3, f.match_any("a", "b") & F_.exists("tag")),
            (4, f.match_any("a", "b") & F_.missing("tag")),
            (5, f.match_term("c") & F_.eq("tag", "y")),
            (6, f.match_term("c") & F_.isin("tag", "x", "z")),
        ]
        got = self._batched(tiny_index, "batch_search_dsl", qs)
        assert got == self._per_query(tiny_index, qs)

        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        caches = len(tiny_index._phrase_caches)
        persisted = jsc.getPersistentRDDs().size()
        sc.setLocalProperty("spark.jobGroup.id", "dsl-no-materialize")
        try:
            ranked = tiny_index.batch_search_dsl(qs, k=5)
            fired = percolate_dsl(tiny_index, qs)
            jobs = sc.statusTracker().getJobIdsForGroup("dsl-no-materialize")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(jobs) == [], f"plan construction ran jobs {list(jobs)}"
        ranked.collect()
        fired.collect()
        assert len(tiny_index._phrase_caches) == caches
        assert jsc.getPersistentRDDs().size() == persisted

    def test_unsupported_filters_fall_back_to_compiler(
        self, tiny_corpus, tiny_index
    ):
        """None values and negative operands can't ride the data path
        but must still answer correctly via the compiled branch — as do
        filter values of other types (date, datetime, Decimal, numpy
        scalars), which also never take a serde round trip."""
        import datetime as dt
        from decimal import Decimal

        import numpy as np

        from sparksearchengine_spark import Corpus, F_, Q, TextOptions
        from sparksearchengine_spark.plans.ast import CompareFilter

        f = Q.field("text")
        qs = [
            (1, f.match_term("a") & CompareFilter("tag", "=", None)),
            (2, f.match_term("a") & F_.gt("views", 5) & ~f.match_term("c")),
        ]
        got = self._batched(tiny_index, "batch_search_dsl", qs)
        assert got == self._per_query(tiny_index, qs)

        typed = Corpus(
            tiny_corpus.select(
                "*",
                F.expr("date_add(DATE'2024-03-01', views)").alias("day"),
                F.expr("TIMESTAMP'2024-03-01 12:00:00' + make_interval(0, 0, 0, 0, views)").alias("ts"),
                (F.col("views") / 8).cast("decimal(6,3)").alias("price"),
            ),
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple", positions=True)},
        ).build_index()
        try:
            qs = [
                (1, f.match_any("a", "b", "c") & F_.ge("day", dt.date(2024, 3, 21))),
                (2, f.match_any("a", "b", "c") & F_.lt("ts", dt.datetime(2024, 3, 2, 12))),
                (3, f.match_any("a", "b", "c") & F_.eq("price", Decimal("2.5"))),
                (4, f.match_any("a", "b", "c") & F_.ge("views", np.int64(20))),
                (5, f.match_any("a", "b", "c") & F_.lt("views", np.float64(25.0))),
                (6, f.match_any("a", "b", "c") & F_.isin("views", np.int64(10), np.int64(30))),
                (7, f.match_any("a", "b", "c") & F_.between("day", dt.date(2024, 3, 5), dt.date(2024, 3, 25))),
            ]
            want = self._per_query(typed, qs)
            assert len(want) == len(qs)  # every filter keeps some doc
            assert self._batched(typed, "batch_search_dsl", qs) == want
        finally:
            typed.unpersist()

    def test_or_with_matchall_operand_stays_general(self, tiny_index):
        """Or with a min_match>1 operand cannot flatten (threshold
        semantics) — must still be correct via the compiled path."""
        from sparksearchengine_spark import Q

        f = Q.field("text")
        q = f.match_all("a", "b") | f.match_term("c")
        got = {
            (r.doc_id, round(r.score, 6))
            for r in tiny_index.batch_search_dsl([(1, q)], k=5).collect()
        }
        want = {
            (r.doc_id, round(r.score, 6))
            for r in tiny_index.search(q, k=5).collect()
        }
        assert got == want

    def test_parsed_string_batch(self, tiny_index):
        """Saved query STRINGS batch through parse_query ->
        batch_search_dsl; results equal parsing + searching singly."""
        from sparksearchengine_spark.operators.search import (
            batch_search_parsed,
        )
        from sparksearchengine_spark.plans.parser import parse_query

        saved = [
            (1, "a"),
            (2, '"b c"'),
            (3, "a AND NOT c"),
            (4, "b^2 OR zz"),
        ]
        got: dict = {}
        for r in batch_search_parsed(tiny_index, saved, k=5).collect():
            got.setdefault(r.query_id, set()).add(
                (r.doc_id, round(r.score, 6))
            )
        for qid, s in saved:
            want = {
                (r.doc_id, round(r.score, 6))
                for r in tiny_index.search(parse_query(s), k=5).collect()
            }
            assert got.get(qid, set()) == want, f"string query {qid}"
        with pytest.raises(ValueError, match="query id 9"):
            batch_search_parsed(tiny_index, [(9, 'a AND (')], k=5)

    def test_with_elements_and_select_cols(self, tiny_index):
        from sparksearchengine_spark import Q

        res = tiny_index.batch_search_dsl(
            [(1, Q.field("text").match_term("a"))],
            k=5,
            select_cols=["views"],
        )
        rows = res.collect()
        assert set(res.columns) == {
            "query_id", "doc_id", "score", "rank", "views",
        }
        # corpus views: d1=10 d2=20; both contain 'a'
        assert {(r.doc_id, r.views) for r in rows} == {(1, 10), (2, 20)}
        full = tiny_index.batch_search_dsl(
            [(1, Q.field("text").match_term("a"))], k=5,
            with_elements=True,
        )
        assert "text" in full.columns and "tag" in full.columns


class TestQueryJoin:
    def test_self_join_finds_self(self, docs_df, docs_index):
        sample = docs_df.where(F.col("doc_id") < 5)
        res = docs_index.query_join(
            sample, text_col="text", field="text", k=10, other_id_col="doc_id"
        )
        rows = res.select("doc_id", "match_doc_id", "rank").collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["doc_id"], []).append(r)
        assert set(by_q) == {0, 1, 2, 3, 4}
        for qid, matches in by_q.items():
            # a doc matches every one of its own terms, so it must appear;
            # it need not be rank 1 (the corpus has near-duplicates whose
            # higher tf on rare terms legitimately out-scores the original)
            assert qid in {m["match_doc_id"] for m in matches}
            assert sorted(m["rank"] for m in matches) == list(
                range(1, len(matches) + 1)
            )

    def test_rows_without_matches_kept(self, spark, tiny_index):
        other = spark.createDataFrame(
            [(1, "a"), (2, "zz qq")], "id long, t string"
        )
        res = tiny_index.query_join(
            other, text_col="t", field="text", k=2, other_id_col="id"
        )
        no_match = res.where(F.col("id") == 2).collect()
        assert len(no_match) == 1 and no_match[0]["match_doc_id"] is None

    def test_require_all(self, spark, tiny_index):
        other = spark.createDataFrame([(1, "a b")], "id long, t string")
        res = tiny_index.query_join(
            other, text_col="t", field="text", k=5,
            other_id_col="id", require_all=True,
        )
        assert sorted(r["match_doc_id"] for r in res.collect()) == [1]

    def test_collect_matches_nested_shape(self, spark, tiny_index):
        from sparksearchengine_spark.operators.search import collect_matches

        other = spark.createDataFrame([(1, "a")], "id long, t string")
        res = tiny_index.query_join(
            other, text_col="t", field="text", k=5, other_id_col="id"
        )
        nested = collect_matches(res, ["id"]).collect()
        assert len(nested) == 1
        assert [m["match_doc_id"] for m in nested[0]["matches"]] == [1, 2]


class TestQueryJoinRowFilters:
    """row_filters: the queryGenerator-style per-row filter AND
    (reference `SearchableRDD.scala:259-269` generates arbitrary
    DslQuery per row; attribute constraints execute here as data)."""

    def test_equals_per_row_search(self, spark, tiny_index):
        from sparksearchengine_spark import F_, Q

        # corpus views: d1=10 d2=20 d3=30
        other = spark.createDataFrame(
            [(1, "a b c", 5), (2, "a b c", 15), (3, "a b c", 25)],
            "id long, t string, min_views int",
        )
        res = tiny_index.query_join(
            other,
            text_col="t",
            field="text",
            k=5,
            other_id_col="id",
            row_filters=[("views", ">", "min_views")],
        )
        got: dict = {}
        for r in res.collect():
            if r["match_doc_id"] is not None:
                got.setdefault(r["id"], set()).add(
                    (r["match_doc_id"], round(r["score"], 6))
                )
        for qid, mv in [(1, 5), (2, 15), (3, 25)]:
            q = Q.field("text").match_text("a b c") & F_.gt("views", mv)
            want = {
                (r.doc_id, round(r.score, 6))
                for r in tiny_index.search(q, k=5).collect()
            }
            assert got.get(qid, set()) == want, f"row {qid}"

    def test_dedup_path_distinguishes_filter_values(self, spark, tiny_index):
        # same text, different thresholds: must NOT collapse to one query
        other = spark.createDataFrame(
            [(1, "a b c", 5), (2, "a b c", 25)],
            "id long, t string, min_views int",
        )
        plain = tiny_index.query_join(
            other, text_col="t", field="text", k=5, other_id_col="id",
            row_filters=[("views", ">", "min_views")],
        )
        dedup = tiny_index.query_join(
            other, text_col="t", field="text", k=5,
            row_filters=[("views", ">", "min_views")], dedup_queries=True,
        )
        canon = lambda df: sorted(
            (r["id"], r["match_doc_id"], r["rank"])
            for r in df.collect()
        )
        assert canon(plain) == canon(dedup)
        # and row 1 really sees more matches than row 2
        n1 = len([r for r in plain.collect() if r["id"] == 1 and r["match_doc_id"] is not None])
        n2 = len([r for r in plain.collect() if r["id"] == 2 and r["match_doc_id"] is not None])
        assert n1 > n2

    def test_bad_filter_args_raise(self, spark, tiny_index):
        other = spark.createDataFrame(
            [(1, "a", 5)], "id long, t string, mv int"
        )
        with pytest.raises(ValueError, match="row_filters op"):
            tiny_index.query_join(
                other, text_col="t", field="text", other_id_col="id",
                row_filters=[("views", "~", "mv")],
            )
        with pytest.raises(ValueError, match="row_filters column"):
            tiny_index.query_join(
                other, text_col="t", field="text", other_id_col="id",
                row_filters=[("views", ">", "nope")],
            )


class TestQueryJoinDedup:
    """dedup_queries=True must be a pure optimization: row-for-row equal
    to the id path, including on duplicate-heavy inputs where the
    dropDuplicates guard actually fires."""

    def test_dedup_equals_id_path_on_duplicates(self, docs_df, docs_index):
        # 15 query rows, every text repeated 3x — the zipfian-log shape
        dup = (
            docs_df.where(F.col("doc_id") < 5)
            .select("doc_id", "text")
            .withColumn("copy", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))))
            .select(
                (F.col("doc_id") * 10 + F.col("copy")).alias("qid"), "text"
            )
        )
        cols = ["qid", "match_doc_id", "score", "rank"]
        on = docs_index.query_join(
            dup, text_col="text", field="text", k=3,
            other_id_col="qid", dedup_queries=True,
        ).select(*cols)
        off = docs_index.query_join(
            dup, text_col="text", field="text", k=3,
            other_id_col="qid", dedup_queries=False,
        ).select(*cols)
        assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))

    def test_dedup_key_separator_unambiguous(self, spark):
        """ADVICE r2: the whitespace analyzer passes \\x1f through inside a
        token, so ['a\\x1fb'] and ['a','b'] are DISTINCT term sets and must
        not collide into one execution (the old concat_ws('\\x1f') key did)."""
        from sparksearchengine_spark import Corpus, TextOptions

        corpus = spark.createDataFrame(
            [(1, "a b")], "doc_id long, text string"
        )
        idx = Corpus(
            corpus, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="whitespace")},
        ).build_index()
        other = spark.createDataFrame(
            [(1, "a\x1fb"), (2, "b a")], "id long, t string"
        )
        res = idx.query_join(
            other, text_col="t", field="text", k=5,
            other_id_col="id", dedup_queries=True,
        ).collect()
        by_id = {r["id"]: r for r in res}
        assert by_id[1]["match_doc_id"] is None  # no term 'a\x1fb' indexed
        assert by_id[2]["match_doc_id"] == 1

    def test_dedup_reserved_columns_raise(self, spark, tiny_index):
        other = spark.createDataFrame(
            [(1, "a", "user-data")], "id long, t string, _qh string"
        )
        with pytest.raises(ValueError, match="_qh"):
            tiny_index.query_join(
                other, text_col="t", field="text", k=2,
                other_id_col="id", dedup_queries=True,
            )


class TestPlanShape:
    """Physical-plan regression guards: the scale properties SURVEY §4
    promises must be visible in the executed plan, not just fast today."""

    def test_query_join_no_shuffle_before_topk(self, docs_df, docs_index):
        res = docs_index.query_join(
            docs_df.limit(10), text_col="text", field="text", k=3,
            other_id_col="doc_id",
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # per-query top-k must prune partition-locally before the exchange
        assert "WindowGroupLimit" in plan
        # the query side must broadcast (no shuffle of the postings side)
        assert "BroadcastExchange" in plan

    def test_query_join_large_other_no_query_broadcast(self, docs_df, docs_index):
        """The corpus-scale self-join (reference
        `examples/SearchableRDDExamples.scala:68-82`) must NOT broadcast
        the query side — it takes the shuffle-hash path, and produces the
        same rows as the broadcast plan."""
        res = docs_index.query_join(
            docs_df, text_col="text", field="text", k=3,
            other_id_col="doc_id", broadcast_queries=False,
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
        small = docs_df.where(F.col("doc_id") < 5)
        bc = docs_index.query_join(
            small, text_col="text", field="text", k=3,
            other_id_col="doc_id", broadcast_queries=True,
        ).select("doc_id", "match_doc_id", "rank")
        sh = docs_index.query_join(
            small, text_col="text", field="text", k=3,
            other_id_col="doc_id", broadcast_queries=False,
        ).select("doc_id", "match_doc_id", "rank")
        assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))

    def test_small_query_frame_without_id_still_broadcasts(
        self, spark, tiny_index
    ):
        """The synthesized-id branch localCheckpoints `other`, whose
        LogicalRDD stats degrade to the defaultSizeInBytes sentinel — the
        broadcast decision must be taken from the caller's frame, or a
        10-row query side would shuffle the postings."""
        other = spark.createDataFrame(
            [(i, "a b") for i in range(10)], "n long, t string"
        )
        res = tiny_index.query_join(other, text_col="t", field="text", k=2)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan

    def test_broadcast_decision_launches_no_job(self, spark, docs_df, docs_index):
        """VERDICT r2 #4: deciding broadcast-vs-shuffle-hash must be a
        driver-side stats estimate, not a probe job — at 100 TB the old
        limit+count probe re-ran the whole query-side plan once per call."""
        docs_index.scored_postings("text")  # warm the postings cache
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "probe-check")
        try:
            docs_index.query_join(
                docs_df.limit(50), text_col="text", field="text", k=3,
                other_id_col="doc_id",
            )  # plan construction only — no action
            jobs = sc.statusTracker().getJobIdsForGroup("probe-check")
            assert list(jobs) == [], f"broadcast decision launched jobs {jobs}"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def test_probe_band_is_memoized(self, spark, docs_df, monkeypatch):
        """When stats are ambiguous (no row count, mid-band size), the
        exact probe may run ONCE per distinct plan — repeat calls must be
        answered from the cache with no job."""
        from sparksearchengine_spark.operators import search as S

        monkeypatch.setattr(S, "BROADCAST_TINY_QUERY_BYTES", 0)
        monkeypatch.setattr(S, "_PROBE_CACHE", {})
        frame = docs_df.where(F.col("n_chars") > 0)  # no rowCount stat
        sc = spark.sparkContext
        assert S.decide_broadcast(frame, 100_000) is True
        assert len(S._PROBE_CACHE) == 1
        sc.setLocalProperty("spark.jobGroup.id", "probe-memo-check")
        try:
            assert S.decide_broadcast(frame, 100_000) is True
            jobs = sc.statusTracker().getJobIdsForGroup("probe-memo-check")
            assert list(jobs) == [], "second call must hit the cache"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def test_highlight_snippets(self, spark):
        from sparksearchengine_spark.operators.search import (
            highlight_snippets,
        )

        df = spark.createDataFrame(
            [
                (1, "The Quick brown fox jumps over the lazy dog"),
                (2, "nothing relevant here"),
                (3, "fox at the very start"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["match_term"], r["match_pos"], r["snippet"])
            for r in highlight_snippets(
                df, ["fox", "lazy"], before=6, after=6
            ).collect()
        }
        assert got[1] == ("fox", 17, "brown fox jumps")
        assert got[2] == (None, None, None)
        # window clamps at the string start
        assert got[3] == ("fox", 1, "fox at th")

    def test_highlight_positions_index_original_text(self, spark):
        # Turkish dotted I: lower('İ') is TWO chars, so a
        # locate-over-lower approach drifts one char per occurrence;
        # positions must index the ORIGINAL string
        from sparksearchengine_spark.operators.search import (
            highlight_snippets,
        )

        text = "İİİ the fox ran"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = highlight_snippets(df, ["fox"], before=4, after=4).collect()[0]
        assert text[r["match_pos"] - 1 : r["match_pos"] + 2] == "fox"
        assert r["snippet"] == "the fox ran"

    def test_highlight_earliest_term_wins(self, spark):
        from sparksearchengine_spark.operators.search import (
            highlight_snippets,
        )

        df = spark.createDataFrame(
            [(1, "zz aa")], "doc_id long, text string"
        )
        r = highlight_snippets(df, ["aa", "zz"]).collect()[0]
        assert r["match_term"] == "zz" and r["match_pos"] == 1

    def test_search_offset_paginates(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_any("dup", "spark")
        full = docs_index.search(q, k=10).orderBy("rank").collect()
        page2 = docs_index.search(q, k=5, offset=5).orderBy("rank").collect()
        assert [r["doc_id"] for r in page2] == [
            r["doc_id"] for r in full[5:10]
        ]
        assert [r["rank"] for r in page2] == [6, 7, 8, 9, 10]

    def test_search_offset_past_end_is_empty(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        total = docs_index.compile(q).count()
        assert (
            docs_index.search(q, k=5, offset=total + 100).count() == 0
        )

    def test_search_negative_offset_raises(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        with _pytest.raises(ValueError, match="offset"):
            docs_index.search(
                _Q.field("text").match_term("dup"), k=5, offset=-1
            )

    def test_search_after_cursor_paginates(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_any("dup", "spark")
        full = docs_index.search(q, k=10).orderBy("rank").collect()
        cursor = (full[4]["score"], full[4]["doc_id"])
        page2 = (
            docs_index.search(q, k=5, search_after=cursor)
            .orderBy("rank")
            .collect()
        )
        assert [r["doc_id"] for r in page2] == [
            r["doc_id"] for r in full[5:10]
        ]
        # cursor pages are page-local: rank restarts at 1
        assert [r["rank"] for r in page2] == [1, 2, 3, 4, 5]

    def test_search_after_walks_whole_result_set(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        total = docs_index.compile(q).count()
        full = docs_index.search(q, k=total).orderBy("rank").collect()
        walked, cursor, k = [], None, 7
        while True:
            page = (
                docs_index.search(q, k=k, search_after=cursor)
                .orderBy("rank")
                .collect()
            )
            if not page:
                break
            walked.extend(page)
            cursor = (page[-1]["score"], page[-1]["doc_id"])
        assert [r["doc_id"] for r in walked] == [
            r["doc_id"] for r in full
        ]

    def test_search_after_with_offset_raises(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        with _pytest.raises(ValueError, match="search_after"):
            docs_index.search(
                _Q.field("text").match_term("dup"),
                k=5,
                offset=5,
                search_after=(1.0, 0),
            )

    def test_grouped_search_caps_per_group(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_any("dup", "spark")
        got = docs_index.grouped_search(q, "lang", k=2).collect()
        from collections import Counter

        per = Counter(r["group"] for r in got)
        assert all(v <= 2 for v in per.values()) and len(per) > 1
        assert all(r["rank"] in (1, 2) for r in got)

    def test_facet_counts(self, docs_index, docs_df):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        got = docs_index.facet_counts(q, ["lang"]).collect()
        n_match = docs_index.compile(q).count()
        assert sum(r["n_docs"] for r in got) == n_match
        assert all(r["facet"] == "lang" for r in got)
        # score stats variant carries the extra columns
        s = docs_index.facet_counts(
            q, ["lang"], include_score_stats=True
        ).collect()
        assert all(r["sum_score"] >= r["max_score"] > 0 for r in s)

    def test_facet_counts_empty_cols_raise(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        with _pytest.raises(ValueError, match="non-empty"):
            docs_index.facet_counts(_Q.field("text").match_term("dup"), [])

    def test_highlight_empty_terms_raise(self, spark):
        import pytest as _pytest

        from sparksearchengine_spark.operators.search import (
            highlight_snippets,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="non-empty"):
            highlight_snippets(df, [])

    def test_highlight_is_scan_stage(self, spark, docs_df):
        from sparksearchengine_spark.operators.search import (
            highlight_snippets,
        )

        plan = highlight_snippets(
            docs_df, ["dup", "spark"]
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_tiny_bytes_shortcut_respects_row_budget(self, spark, docs_df):
        """The certainly-small byte bound is calibrated for the default
        100k-row budget; a caller with a budget of 10 rows must not
        inherit it (1 MB of packed ids can hold millions of rows) — the
        decision falls through to the exact probe instead."""
        from sparksearchengine_spark.operators import search as S

        frame = docs_df.where(F.col("n_chars") > 0)  # no rowCount stat
        _, size = S._plan_stats(frame)
        assert size <= S.BROADCAST_TINY_QUERY_BYTES  # would pass untightened
        S._PROBE_CACHE.clear()
        assert S.decide_broadcast(frame, 10) is False  # 500 rows > 10

    def test_with_elements_broadcasts_hits_not_corpus(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        res = docs_index.search(
            _Q.field("text").match_term("dup"), k=5, with_elements=True
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # the ≤k hits side is the build/broadcast side (left), never the corpus
        assert "BuildLeft" in plan, plan

    def test_search_topk_is_take_ordered(self, docs_index):
        hits = docs_index.compile(Q.field("text").match_term("dup")).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(10)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        # orderBy+limit must compile to per-partition top-k + tree merge,
        # never a global sort
        assert "TakeOrderedAndProject" in plan

    def test_postings_build_single_exchange(self, docs_index):
        """The build shuffles ONCE (raw docs by doc_id); the tf/positions
        aggregate must reuse that partitioning (subset-key clustering),
        never add a second exchange."""
        plan = (
            docs_index.postings._jdf.queryExecution().executedPlan().toString()
        )
        # AQE prints the plan twice (Final + Initial); count the final only
        final = plan.split("== Initial Plan ==")[0]
        n_exchange = final.count("Exchange hashpartitioning")
        assert n_exchange == 1, plan

    def test_minhash_signatures_aggregate_is_codegen(self, spark, docs_df):
        """Signature mins must run inside a codegen'd HashAggregate, not an
        interpreted per-row HOF expression."""
        from sparksearchengine_spark.operators.dedup import minhash_signatures

        sigs = minhash_signatures(docs_df, "doc_id", "text", 3, 8)
        plan = sigs._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        assert "xxhash64" in plan

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        q = li.where(F.col("l_quantity") == 10.0).select("l_orderkey")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(l_quantity), EqualTo(l_quantity,10.0)" in plan
        # column pruning: the scan must not read every column
        assert "l_comment" not in plan


class TestLookups:
    def test_get_element(self, tiny_index):
        from sparksearchengine_spark.operators.search import get_element

        row = get_element(tiny_index, 2)
        assert row is not None and row["views"] == 20
        assert get_element(tiny_index, 999) is None

    def test_get_elements_bulk_with_missing(self, tiny_index):
        res = tiny_index.get_elements([1, 3, 999]).collect()
        by_id = {r["requested_id"]: r for r in res}
        assert set(by_id) == {1, 3, 999}
        assert by_id[1]["views"] == 10
        assert by_id[999]["text"] is None  # missing -> NULL columns


class TestStats:
    def test_doc_counts(self, tiny_index):
        rows = tiny_index.doc_counts().collect()
        assert {r["field"]: r["doc_count"] for r in rows} == {"text": 3}

    def test_term_counts(self, tiny_index):
        rows = tiny_index.term_counts().collect()
        got = {r["term"]: (r["total_tf"], r["df_t"]) for r in rows}
        assert got == {"a": (3, 2), "b": (3, 2), "c": (3, 2)}

    def test_indices_info(self, tiny_index):
        info = tiny_index.indices_info()
        assert info["num_terms"] == 3
        assert info["num_postings"] == 6  # distinct (doc, term) pairs
        assert info["fields"]["text"]["doc_count"] == 3
        assert info["num_documents"] == 3

    def test_indices_info_size_bytes(self, spark, tiny_corpus, docs_df):
        """Reference IndicesInfo.sizeBytes analog: positive plan-stat
        sizes, monotone with corpus size, and the total is the sum of
        the parts. createDataFrame-backed corpora have no Catalyst size,
        so these opt into the measured estimate."""
        from sparksearchengine_spark import Corpus, TextOptions

        small = Corpus(
            tiny_corpus, id_col="doc_id",
            text_cols={"text": TextOptions()},
        ).build_index().indices_info(measure_sizes=True)
        big = Corpus(
            docs_df, id_col="doc_id",
            text_cols={"text": TextOptions()},
        ).build_index().indices_info(measure_sizes=True)
        for info in (small, big):
            assert info["postings_size_bytes"] > 0
            assert info["termstats_size_bytes"] > 0
            assert info["corpus_size_bytes"] > 0
            assert info["size_bytes"] == (
                info["postings_size_bytes"]
                + info["termstats_size_bytes"]
                + info["corpus_size_bytes"]
            )
        assert big["size_bytes"] > small["size_bytes"]

    def test_indices_info_no_silent_scan(self, tiny_index):
        """A metadata call must never cost O(data): without
        measure_sizes=True an unknown Catalyst size reports -1 instead
        of falling back to a full-frame measurement."""
        info = tiny_index.indices_info()
        # tiny_index is createDataFrame-backed -> unknown sentinel
        assert info["corpus_size_bytes"] == -1
        assert info["size_bytes"] == -1
        # counts are still served (metadata / cheap aggregates)
        assert info["num_postings"] == 6

    def test_indices_info_per_partition(self, docs_index):
        """M5 per-partition breakdown (reference
        `PartitionsIndexLuceneRDD.scala:547-566`): rows sum to the
        aggregate numbers."""
        from sparksearchengine_spark.operators.stats import (
            _measured_size_bytes,
        )

        info = docs_index.indices_info(per_partition=True)
        parts = info["partitions"]
        assert len(parts) >= 1
        assert sum(p["n_postings"] for p in parts) == info["num_postings"]
        assert all(p["bytes"] > 0 for p in parts)
        assert sum(p["bytes"] for p in parts) == _measured_size_bytes(
            docs_index.postings
        )

    def test_indices_info_saved_reports_parquet_bytes(
        self, tmp_path, tiny_corpus
    ):
        """A loaded (parquet-backed) index reports actual file bytes in
        its plan stats — still positive and internally consistent."""
        from sparksearchengine_spark import Corpus, SearchIndex, TextOptions

        idx = Corpus(
            tiny_corpus, id_col="doc_id",
            text_cols={"text": TextOptions()},
        ).build_index()
        path = str(tmp_path / "sized")
        idx.save(path)
        loaded = SearchIndex.load(tiny_corpus.sparkSession, path, tiny_corpus)
        info = loaded.indices_info()
        # parquet-backed parts report real file bytes with no scan...
        assert info["postings_size_bytes"] > 0
        assert info["termstats_size_bytes"] > 0
        # ...while the passed-in createDataFrame corpus has no Catalyst
        # size, so the unmeasured total is honestly unknown
        assert info["corpus_size_bytes"] == -1
        assert info["size_bytes"] == -1
        measured = loaded.indices_info(measure_sizes=True)
        assert measured["corpus_size_bytes"] > 0
        assert measured["size_bytes"] >= measured["postings_size_bytes"]


class TestPersistence:
    def test_save_load_roundtrip(self, tmp_path, tiny_corpus, tiny_index):
        from sparksearchengine_spark import SearchIndex

        path = str(tmp_path / "idx")
        tiny_index.save(path)
        loaded = SearchIndex.load(
            tiny_corpus.sparkSession, path, tiny_corpus
        )
        orig = tiny_index.search(Q.field("text").match_term("a"), k=5).collect()
        got = loaded.search(Q.field("text").match_term("a"), k=5).collect()
        assert sorted(map(tuple, orig)) == sorted(map(tuple, got))

    def test_stored_cols_projection_save(self, tmp_path, spark, docs_df):
        """Storeable reduced payload (reference `Indexable.scala:16-19`,
        `StoreableExample.scala:36-45`): save(stored_cols=[...]) persists
        only the named columns; the on-disk corpus lacks the rest, yet
        queries on the indexed-but-unstored text field still work and
        get_element serves the projection."""
        from sparksearchengine_spark import (
            Corpus,
            SearchIndex,
            TextOptions,
        )

        idx = Corpus(
            docs_df,
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index()
        path = str(tmp_path / "idx_stored")
        idx.save(path, stored_cols=["source"])

        stored = spark.read.parquet(path + "/corpus")
        assert sorted(stored.columns) == ["doc_id", "source"]
        assert "text" not in stored.columns

        loaded = SearchIndex.load(spark, path)
        # search on the indexed-but-unstored field still answers
        orig = idx.search(Q.field("text").match_term("dup"), k=5).collect()
        got = loaded.search(Q.field("text").match_term("dup"), k=5).collect()
        assert sorted(map(tuple, orig)) == sorted(map(tuple, got))
        # element lookup serves the projected payload
        some_id = orig[0]["doc_id"]
        el = loaded.get_element(some_id)
        assert el is not None and sorted(el.asDict()) == ["doc_id", "source"]

    def test_stored_cols_with_doc_buckets(self, tmp_path, spark, docs_df):
        from sparksearchengine_spark import (
            Corpus,
            SearchIndex,
            TextOptions,
        )

        idx = Corpus(
            docs_df,
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index()
        path = str(tmp_path / "idx_stored_bucketed")
        idx.save(path, doc_buckets=4, stored_cols=["lang"])
        loaded = SearchIndex.load(spark, path)
        el = loaded.get_element(3)
        assert el is not None and sorted(el.asDict()) == ["doc_id", "lang"]

    def test_stored_cols_unknown_column_raises(self, tmp_path, tiny_index):
        import pytest

        with pytest.raises(ValueError, match="stored_cols"):
            tiny_index.save(str(tmp_path / "bad"), stored_cols=["nope"])

    def test_phrase_cache_released_on_unpersist(self, spark, tiny_corpus):
        """Phrase queries persist a per-query postings scan; unpersist()
        must release those too (no leaked cached blocks in a long session)."""
        from sparksearchengine_spark import Corpus, TextOptions

        idx = Corpus(
            tiny_corpus,
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple", positions=True)},
        ).build_index()
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        idx.search(Q.field("text").match_phrase("b b"), k=5).collect()
        assert len(idx._phrase_caches) == 1
        idx.unpersist()
        assert len(idx._phrase_caches) == 0
        assert jsc.getPersistentRDDs().size() <= before

    def test_bucket_by_term_same_results(self, tiny_index):
        b = tiny_index.bucket_by_term(2)
        q = Q.field("text").match_any("a", "c")
        assert sorted(map(tuple, b.search(q, k=5).collect())) == sorted(
            map(tuple, tiny_index.search(q, k=5).collect())
        )

    def test_term_bucketed_save_prunes_scan(self, tmp_path, docs_df, docs_index):
        """The durable bucket_by_term: a saved term-bucketed layout must
        (a) answer queries identically and (b) prune the postings scan to
        the query terms' buckets via PartitionFilters."""
        from sparksearchengine_spark import SearchIndex
        from sparksearchengine_spark.operators.index import term_bucket

        path = str(tmp_path / "bidx")
        n = 8
        docs_index.save(path, term_buckets=n)
        loaded = SearchIndex.load(docs_df.sparkSession, path, docs_df)
        assert loaded.term_buckets == n

        q = Q.field("text").match_any("dup", "spark")
        want = docs_index.search(q, k=10).collect()
        got = loaded.search(q, k=10).collect()
        assert sorted(map(tuple, want)) == sorted(map(tuple, got))

        plan = (
            loaded.compile(q)._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan
        assert "_tbucket" in plan, plan
        # the driver-side bucket fn must agree with the Spark-side one:
        # the pruned buckets appear literally in the partition filter
        bks = {term_bucket(t, n) for t in ("dup", "spark")}
        assert any(str(b) in plan for b in bks)

    def test_doc_bucketed_save_prunes_lookup(self, tmp_path, docs_df, docs_index):
        """E11/E12 point-lookup layout (VERDICT r2 #7): a doc-bucketed
        saved corpus must serve get_element(s) from a partition-pruned
        scan, not a full-corpus filter — and return identical rows."""
        from sparksearchengine_spark import SearchIndex
        from sparksearchengine_spark.operators.index import doc_bucket

        path = str(tmp_path / "didx")
        n = 8
        docs_index.save(path, doc_buckets=n)
        # no corpus_df passed: the saved corpus IS the corpus
        loaded = SearchIndex.load(docs_df.sparkSession, path)
        assert loaded.doc_buckets == n

        want = docs_index.get_element(7)
        got = loaded.get_element(7)
        assert got is not None and want is not None
        assert got["text"] == want["text"]

        ids = [3, 7, 999999]  # incl. a missing id -> NULL columns
        res = loaded.get_elements(ids)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "_dbucket" in plan, plan
        bks = {doc_bucket(i, n) for i in ids}
        assert any(str(b) in plan for b in bks)
        rows = {r["requested_id"]: r for r in res.collect()}
        assert rows[999999]["text"] is None
        assert rows[3]["text"] is not None
        # output schema carries no internal bucket column
        assert "_dbucket" not in res.columns
        # queries on the loaded index still answer identically
        q = Q.field("text").match_any("dup", "spark")
        assert sorted(map(tuple, loaded.search(q, k=5).collect())) == sorted(
            map(tuple, docs_index.search(q, k=5).collect())
        )

    def test_explicit_corpus_overrides_stored_snapshot(
        self, tmp_path, docs_df, docs_index
    ):
        """Passing corpus_df to load() must win EVERYWHERE, incl. point
        lookups — otherwise get_element(s) would silently serve stale
        rows from the save-time snapshot."""
        from sparksearchengine_spark import SearchIndex

        path = str(tmp_path / "didx2")
        docs_index.save(path, doc_buckets=4)
        enriched = docs_df.withColumn("extra", F.lit("fresh"))
        loaded = SearchIndex.load(docs_df.sparkSession, path, enriched)
        got = loaded.get_element(3)
        assert got is not None and got["extra"] == "fresh"
        assert "extra" in loaded.get_elements([3]).columns


class TestPlanShapeRound2:
    """Plan guards for the round-2 operators: the shuffle counts their
    docstrings promise must hold in the executed plan."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_asof_join_single_exchange(self, spark):
        from sparksearchengine_spark.operators.asof import asof_join

        l = spark.createDataFrame([(1, 10, "a")], "k long, ts long, tag string")
        r = spark.createDataFrame([(1, 5, 1.0)], "k long, ts long, px double")
        plan = self._plan(asof_join(l, r, on="k"))
        # one key shuffle for the window; no join operator at all
        assert plan.count("Exchange") == 1
        assert "Join" not in plan

    def test_repetition_metrics_zero_exchanges(self, docs_df):
        from sparksearchengine_spark.operators.textstats import (
            repetition_metrics,
        )

        assert self._plan(repetition_metrics(docs_df)).count("Exchange") == 0

    def test_sampling_zero_exchanges(self, docs_df):
        from sparksearchengine_spark.operators.sampling import (
            stratified_sample,
            train_test_split,
        )

        assert (
            self._plan(train_test_split(docs_df, "doc_id")).count("Exchange")
            == 0
        )
        assert (
            self._plan(
                stratified_sample(docs_df, "lang", {"en": 0.5}, "doc_id")
            ).count("Exchange")
            == 0
        )

    def test_batch_multiterm_one_vocab_scan(self, docs_index):
        """VERDICT r6 #6: the wildcard/regex/fuzzy batch path intersects
        patterns against termstats in ONE dictionary pass per batch —
        the plan must not grow a scan (or a nested-loop join) per
        pattern, and postings must join only the MATCHED terms via a
        hash join (never evaluate a LIKE/regex/levenshtein)."""
        from sparksearchengine_spark.operators.search import (
            batch_search_dsl,
        )
        from sparksearchengine_spark.plans.ast import Q

        f = Q.field("text")
        one = batch_search_dsl(
            docs_index, [(1, f.match_wildcard("du*"))], k=3
        )
        many = batch_search_dsl(
            docs_index,
            [
                (1, f.match_wildcard("du*")),
                (2, f.match_wildcard("sp?rk")),
                (3, f.match_regex("ta.+")),
                (4, f.match_fuzzy("dup", max_edits=1)),
                (5, f.match_fuzzy("spark", max_edits=2)),
            ],
            k=3,
        )
        p1, p5 = self._plan(one), self._plan(many)
        # the vocabulary intersection is an equi-join on `field` with
        # the pattern predicates as ONE post-join filter — no nested
        # loop, no cartesian, however many patterns ride the batch
        for p in (p1, p5):
            assert "BroadcastNestedLoopJoin" not in p, p
            assert "CartesianProduct" not in p, p
            assert "BroadcastHashJoin" in p, p
        # scan count must not scale with the pattern count: termstats
        # is read once per batch, not once per pattern
        assert p5.count("InMemoryTableScan") == p1.count(
            "InMemoryTableScan"
        ), (p1, p5)
        # the pattern predicates evaluate at a single site (the generic
        # like/rlike/levenshtein OR-condition on the one vocab join),
        # never per pattern and never on the postings side
        assert p1.count("levenshtein") == 1, p1
        assert p5.count("levenshtein") == 1, p5


class TestFieldTypes:
    """SURVEY §1.2 parity: SeqField per-element indexing (improvement over
    the reference's wholesale toString), nested struct refs, explicit
    rejection of non-text columns."""

    @pytest.fixture(scope="class")
    def typed_df(self, spark):
        return spark.createDataFrame(
            [
                (1, ["red apple", "green pear"], ("alice", "ny")),
                (2, ["blue sky"], ("bob", "sf")),
                (3, None, ("carol", None)),
            ],
            "doc_id long, tags array<string>, "
            "author struct<name:string,city:string>",
        )

    def test_array_column_indexes_per_element(self, typed_df):
        from sparksearchengine_spark import Corpus, Q, TextOptions

        idx = Corpus(
            typed_df, id_col="doc_id", text_cols={"tags": TextOptions()}
        ).build_index()
        ids = lambda q: sorted(
            r["doc_id"] for r in idx.compile(q).collect()
        )
        assert ids(Q.field("tags").match_term("apple")) == [1]
        assert ids(Q.field("tags").match_phrase("red apple")) == [1]
        # NULL array -> no postings, doc simply unmatchable
        assert ids(Q.field("tags").match_any("red", "blue")) == [1, 2]

    def test_nested_struct_field(self, typed_df):
        from sparksearchengine_spark import Corpus, Q, TextOptions

        idx = Corpus(
            typed_df, id_col="doc_id",
            text_cols={"author.name": TextOptions()},
        ).build_index()
        hits = idx.compile(Q.field("author.name").match_term("alice"))
        assert [r["doc_id"] for r in hits.collect()] == [1]

    def test_non_text_column_rejected(self, typed_df):
        from sparksearchengine_spark import Corpus, TextOptions

        with pytest.raises(ValueError, match="must be string"):
            Corpus(
                typed_df, id_col="doc_id",
                text_cols={"doc_id": TextOptions()},
            ).build_index()

    def test_unresolvable_column_rejected(self, typed_df):
        from sparksearchengine_spark import Corpus, TextOptions

        with pytest.raises(ValueError, match="not resolvable"):
            Corpus(
                typed_df, id_col="doc_id",
                text_cols={"author.nope": TextOptions()},
            )


class TestDocKeywords:
    def test_topk_tfidf_per_doc(self, spark, tiny_index):
        from sparksearchengine_spark.operators.stats import doc_keywords

        rows = doc_keywords(tiny_index, "text", k=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # every doc gets <= 2 keywords, ranked 1..n, tfidf non-increasing
        for doc, rs in by_doc.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            assert all(
                rs[i]["tfidf"] >= rs[i + 1]["tfidf"] for i in range(len(rs) - 1)
            )
        # doc 1 = [a, b, a]: 'a' has tf 2 -> its top keyword
        assert by_doc[1][0]["term"] == "a"

    def test_no_extra_exchange_after_postings(self, spark, tiny_index):
        from sparksearchengine_spark.operators.stats import doc_keywords

        plan = doc_keywords(tiny_index, "text", k=3)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestMoreLikeThis:
    def test_similar_doc_found_self_excluded(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        docs = spark.createDataFrame(
            [
                (1, "apple banana cherry apple"),
                (2, "apple banana cherry date"),   # near doc 1
                (3, "xylophone zebra quartz"),     # unrelated
            ],
            "doc_id long, text string",
        )
        idx = Corpus(
            docs, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index()
        rows = idx.more_like_this([1], "text", k=2, num_terms=3).collect()
        assert all(r["match_doc_id"] != 1 for r in rows)
        best = min(rows, key=lambda r: r["rank"])
        assert best["match_doc_id"] == 2

    def test_dataframe_id_side_matches_list(self, spark, tiny_index):
        from pyspark.sql import functions as F2

        a = tiny_index.more_like_this([1, 2], "text", k=3).collect()
        ids_df = tiny_index.corpus.df.select("doc_id").where(
            F2.col("doc_id").isin(1, 2)
        )
        b = tiny_index.more_like_this(ids_df, "text", k=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_score_equals_match_any_over_keywords(self, spark, tiny_index):
        # MLT score for a source doc == search(match_any(its keywords))
        from sparksearchengine_spark import Q
        from sparksearchengine_spark.operators.stats import doc_keywords
        from pyspark.sql import functions as F2

        kws = [
            r["term"]
            for r in doc_keywords(tiny_index, "text", k=2)
            .where(F2.col("doc_id") == 1).collect()
        ]
        mlt = {
            r["match_doc_id"]: r["score"]
            for r in tiny_index.more_like_this([1], "text", k=10,
                                               num_terms=2).collect()
        }
        full = {
            r["doc_id"]: r["score"]
            for r in tiny_index.search(
                Q.field("text").match_any(*kws), k=10
            ).collect()
            if r["doc_id"] != 1
        }
        assert mlt == full

    def test_large_source_side_takes_shuffle_hash(self, spark, tiny_index):
        # forced non-broadcast path must agree with the broadcast path
        a = sorted(map(tuple, tiny_index.more_like_this(
            [1, 2, 3], "text", k=3, broadcast_keywords=True).collect()))
        b = sorted(map(tuple, tiny_index.more_like_this(
            [1, 2, 3], "text", k=3, broadcast_keywords=False).collect()))
        assert a == b
        # the keyword->postings join must not be a broadcast when forced off
        plan = tiny_index.more_like_this(
            [1], "text", k=3, broadcast_keywords=False
        )._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan


class TestFacetCube:
    def test_cube_counts_and_grouping_id(self, tiny_index):
        from sparksearchengine_spark import Q

        out = tiny_index.facet_cube(
            Q.field("text").match_term("a"), ["tag"]
        ).collect()
        # docs 1 (tag NULL) and 2 (tag 'x') match 'a'
        rows = {(r["tag"], r["grouping_id"]): r["n_docs"] for r in out}
        assert rows[(None, 0)] == 1  # genuine NULL bucket (doc 1)
        assert rows[("x", 0)] == 1
        assert rows[(None, 1)] == 2  # the all-values rollup row
        assert len(rows) == 3

    def test_rollup_mode_prefix_sets_only(self, tiny_index):
        from sparksearchengine_spark import Q

        cube = tiny_index.facet_cube(
            Q.field("text").match_term("b"), ["tag", "views"], mode="cube"
        ).count()
        roll = tiny_index.facet_cube(
            Q.field("text").match_term("b"), ["tag", "views"], mode="rollup"
        ).count()
        assert roll < cube  # rollup omits the (·, views) grouping set

    def test_single_expand_aggregation(self, tiny_index):
        from sparksearchengine_spark import Q

        plan = (
            tiny_index.facet_cube(
                Q.field("text").match_term("a"), ["tag", "views"]
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one Expand fans the grouping sets; no per-facet union of aggs
        assert plan.count("Expand") == 1 and "Union" not in plan

    def test_matches_facet_counts_on_base_cells(self, docs_index):
        from sparksearchengine_spark import Q
        from pyspark.sql import functions as F

        q = Q.field("text").match_any("dup", "spark")
        cube = {
            r["lang"]: r["n_docs"]
            for r in docs_index.facet_cube(q, ["lang"])
            .where(F.col("grouping_id") == 0)
            .collect()
        }
        union = {
            r["value"]: r["n_docs"]
            for r in docs_index.facet_counts(q, ["lang"]).collect()
        }
        assert cube == union

    def test_bad_args_raise(self, tiny_index):
        import pytest

        from sparksearchengine_spark import Q

        with pytest.raises(ValueError):
            tiny_index.facet_cube(Q.field("text").match_term("a"), [])
        with pytest.raises(ValueError):
            tiny_index.facet_cube(
                Q.field("text").match_term("a"), ["tag"], mode="nope"
            )


class TestBm25fSearch:
    @pytest.fixture(scope="class")
    def f2_index(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        df = spark.createDataFrame(
            [
                (1, "apple", "apple banana"),
                (2, "banana", "apple apple cherry"),
                (3, "cherry", "banana"),
            ],
            "doc_id long, title string, body string",
        )
        return Corpus(
            df,
            id_col="doc_id",
            text_cols={
                "title": TextOptions(analyzer="simple", positions=False),
                "body": TextOptions(analyzer="simple", positions=False),
            },
        ).build_index()

    def test_heavier_field_wins(self, f2_index):
        out = f2_index.bm25f_search(
            "cherry", {"title": 2.0, "body": 1.0}, k=10
        ).collect()
        # doc 3 matches in the double-weighted short title; doc 2 only in
        # its longer body
        assert [r["doc_id"] for r in out] == [3, 2]
        assert out[0]["rank"] == 1 and out[0]["score"] > out[1]["score"]

    def test_single_field_ordering_matches_bm25(self, f2_index):
        from sparksearchengine_spark import Q

        # one field, one term: BM25F is a monotone transform of BM25's
        # tf/B, so the ranking must agree with the per-field engine
        ours = [
            r["doc_id"]
            for r in f2_index.bm25f_search("apple", {"body": 1.0}).collect()
        ]
        ref = [
            r["doc_id"]
            for r in f2_index.search(
                Q.field("body").match_term("apple"), k=10
            ).collect()
        ]
        assert ours == ref

    def test_union_docfreq(self, f2_index):
        # 'banana' occurs in title(2... doc3 body) — title of doc 2, body
        # of docs 1 and 3 -> union df = 3 = every doc: idf is the floor
        # for all matches; check all three docs return
        out = f2_index.bm25f_search("banana", {"title": 1.0, "body": 1.0})
        assert out.count() == 3

    def test_blend_before_saturation_beats_boosted_or(self, f2_index):
        # doc 1 has 'apple' in BOTH fields: BM25F must give it the top
        # rank for the apple query at equal weights (its blended tf is
        # highest), even though doc 2 has tf=2 in body alone
        out = f2_index.bm25f_search(
            "apple", {"title": 1.0, "body": 1.0}
        ).collect()
        assert out[0]["doc_id"] == 1

    def test_empty_query_and_bad_field(self, f2_index):
        import pytest as _pytest

        assert f2_index.bm25f_search("", {"title": 1.0}).count() == 0
        with _pytest.raises(ValueError):
            f2_index.bm25f_search("x", {"nope": 1.0})
        with _pytest.raises(ValueError):
            f2_index.bm25f_search("x", {})

    def test_k_truncates_with_rank(self, f2_index):
        out = f2_index.bm25f_search(
            "apple banana cherry", {"title": 1.0, "body": 1.0}, k=2
        ).collect()
        assert len(out) == 2
        assert [r["rank"] for r in out] == [1, 2]

    def test_field_weight_dict_order_invariant(self, f2_index):
        # N derives from max(doc_count) over scored fields, never from
        # dict insertion order (r3 review)
        a = f2_index.bm25f_search(
            "apple banana", {"title": 2.0, "body": 1.0}
        ).collect()
        b = f2_index.bm25f_search(
            "apple banana", {"body": 1.0, "title": 2.0}
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_disjoint_fields_union_df_exceeding_n_floors_idf(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        # 'x' appears in title of doc 1 and body of doc 2: union df=2 >
        # max per-field doc_count... both fields cover both docs here,
        # so craft disjoint coverage with NULLs
        df = spark.createDataFrame(
            [(1, "x", None), (2, None, "x y")],
            "doc_id long, title string, body string",
        )
        idx = Corpus(
            df,
            id_col="doc_id",
            text_cols={
                "title": TextOptions(analyzer="simple", positions=False),
                "body": TextOptions(analyzer="simple", positions=False),
            },
        ).build_index()
        out = idx.bm25f_search("x", {"title": 1.0, "body": 1.0}).collect()
        # union df(x)=2 > N=1: idf floors at 0 -> no negative penalty,
        # scores are 0 for both docs, never negative
        assert all(r["score"] >= 0.0 for r in out)


class TestSuggestTerms:
    def test_exact_term_first_then_neighbors(self, tiny_index):
        # vocab: a, b, c — suggest for 'a' at dist<=1: 'a' (dist 0) then
        # 'b','c' (dist 1, df ties broken by term asc)
        out = tiny_index.suggest_terms("a", max_dist=1, k=5).collect()
        assert [r["term"] for r in out] == ["a", "b", "c"]
        assert [r["dist"] for r in out] == [0, 1, 1]
        assert [r["rank"] for r in out] == [1, 2, 3]

    def test_max_dist_zero_is_exact_lookup(self, tiny_index):
        out = tiny_index.suggest_terms("a", max_dist=0).collect()
        assert [r["term"] for r in out] == ["a"]

    def test_no_match_empty(self, tiny_index):
        assert tiny_index.suggest_terms("zzzzzz", max_dist=1).count() == 0

    def test_df_ranks_real_vocab(self, docs_index):
        # misspell a frequent corpus token by one edit; the true token
        # must come back rank 1
        top = (
            docs_index.term_counts()
            .orderBy(F.col("df_t").desc(), F.col("term").asc())
            .first()["term"]
        )
        misspelled = top[:-1] + "zz"  # one substitution + one insert
        out = docs_index.suggest_terms(misspelled, max_dist=2, k=3).collect()
        assert out and out[0]["term"] == top

    def test_bad_args(self, tiny_index):
        with pytest.raises(ValueError):
            tiny_index.suggest_terms("a", max_dist=-1)


class TestPrfExpandSearch:
    def test_lambda_one_ranks_like_original_query(self, docs_index):
        # λ=1: the feedback distribution is weighted 0, so the scores are
        # (1/|Q|)·BM25 — same ranking as the plain query
        ours = [
            r["doc_id"]
            for r in docs_index.prf_expand_search(
                "dup spark", k=10, lam=1.0
            ).collect()
        ]
        ref = [
            r["doc_id"]
            for r in docs_index.search(
                Q.field("text").match_any("dup", "spark"), k=10
            ).collect()
        ]
        assert ours == ref

    def test_expansion_recalls_docs_without_query_terms(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        # doc 3 never contains 'apple' but shares 'banana' with the
        # feedback docs -> only the expanded query can rank it
        df = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "apple banana"),
                (3, "banana cherry"),
                (4, "unrelated words here"),
            ],
            "doc_id long, text string",
        )
        idx = Corpus(
            df, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index()
        plain = {
            r["doc_id"]
            for r in idx.search(
                Q.field("text").match_term("apple"), k=10
            ).collect()
        }
        expanded = {
            r["doc_id"]
            for r in idx.prf_expand_search(
                "apple", k=10, fb_docs=2, fb_terms=5, lam=0.5
            ).collect()
        }
        assert 3 not in plain and 3 in expanded

    def test_empty_query_empty_result(self, docs_index):
        assert docs_index.prf_expand_search("", k=5).count() == 0

    def test_rank_column_and_k(self, docs_index):
        out = docs_index.prf_expand_search("dup spark", k=4).collect()
        assert len(out) == 4
        assert [r["rank"] for r in out] == [1, 2, 3, 4]

    def test_bad_lambda(self, docs_index):
        with pytest.raises(ValueError):
            docs_index.prf_expand_search("x", lam=2.0)


class TestSignificantTerms:
    def test_jlh_hand_computed(self, tiny_index):
        out = tiny_index.significant_terms(
            Q.field("text").match_term("a"), min_doc_count=1, k=5
        ).collect()
        rows = {r["term"]: r for r in out}
        # match set {1,2}: fg(a)=2/2=1, bg(a)=2/3:
        # (1 - 2/3)*(1/(2/3)) = 0.5
        assert rows["a"]["score"] == 0.5
        assert rows["a"]["rank"] == 1
        # b and c tie negative -> term-asc order
        assert [r["term"] for r in out] == ["a", "b", "c"]
        assert rows["b"]["score"] == rows["c"]["score"] < 0

    def test_min_doc_count_filters(self, tiny_index):
        out = tiny_index.significant_terms(
            Q.field("text").match_term("a"), min_doc_count=2, k=5
        ).collect()
        # only 'a' appears in >= 2 matched docs
        assert [r["term"] for r in out] == ["a"]

    def test_query_term_surfaces_on_real_corpus(self, docs_index):
        out = docs_index.significant_terms(
            Q.field("text").match_term("dup"), k=5
        ).collect()
        assert out[0]["term"] == "dup" and out[0]["score"] > 0

    def test_bad_k(self, tiny_index):
        with pytest.raises(ValueError):
            tiny_index.significant_terms(
                Q.field("text").match_term("a"), k=0
            )


class TestNewOpPlanShapes:
    """Physical-plan assertions for the round-3 search operators: the
    small sides broadcast and nothing corpus-sized shuffles that needn't."""

    def test_prf_weight_table_broadcasts(self, docs_index):
        plan = (
            docs_index.prf_expand_search("dup spark", k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the ≤(fb_terms+|Q|)-row weight table joins the scored postings
        # via broadcast — the postings side must never be a build side
        assert "BroadcastHashJoin" in plan
        # final top-k is a TakeOrdered, not a global sort
        assert "TakeOrderedAndProject" in plan and "Sort [" not in plan

    def test_sigterms_termstats_broadcasts(self, docs_index):
        plan = (
            docs_index.significant_terms(
                Q.field("text").match_term("dup"), k=5
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_bm25f_docfreq_broadcasts_and_terms_prune(self, docs_index, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        idx = Corpus(
            docs,
            id_col="doc_id",
            text_cols={
                "text": TextOptions(analyzer="simple", positions=False),
                "source": TextOptions(analyzer="simple", positions=False),
            },
        ).build_index()
        plan = (
            idx.bm25f_search("dup src3", {"text": 1.0, "source": 2.0})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # driver-literal query terms reach the postings filter
        assert "term#" in plan and " IN " in plan

    def test_suggest_is_single_vocab_pass(self, docs_index):
        plan = (
            docs_index.suggest_terms("sparkk", max_dist=2, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Join" not in plan  # vocab scan + filter only

    def test_mmr_single_group_exchange(self, spark):
        from sparksearchengine_spark.operators.similarity import mmr_rerank

        pool = spark.createDataFrame(
            [(1, i, 1.0 / (i + 1), [float(i), 1.0]) for i in range(20)],
            "query_id long, vec_id long, cos_sim double, "
            "embedding array<double>",
        )
        plan = (
            mmr_rerank(pool, k=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # exactly one exchange: the groupBy(query_id) for applyInPandas
        assert plan.count("Exchange") == 1


class TestCompletePrefix:
    def test_prefix_ranked_by_df(self, docs_index):
        # take a real frequent term, complete on its first 3 chars: the
        # term itself must appear, ordered by df desc
        top = (
            docs_index.term_counts()
            .orderBy(F.col("df_t").desc(), F.col("term").asc())
            .first()["term"]
        )
        out = docs_index.complete_prefix(top[:3], k=10).collect()
        assert top in [r["term"] for r in out]
        dfs = [r["df_t"] for r in out]
        assert dfs == sorted(dfs, reverse=True)
        assert [r["rank"] for r in out] == list(range(1, len(out) + 1))

    def test_all_results_share_prefix(self, docs_index):
        out = docs_index.complete_prefix("th", k=20).collect()
        assert out and all(r["term"].startswith("th") for r in out)

    def test_empty_prefix_rejected(self, docs_index):
        with pytest.raises(ValueError):
            docs_index.complete_prefix("")

    def test_no_match_empty(self, tiny_index):
        assert tiny_index.complete_prefix("zzz").count() == 0

    def test_prefix_filters_before_aggregate(self, docs_index):
        """On the default field=None path the StartsWith filter must sit
        BELOW the cross-field max-df aggregation (prefix is stable under
        it), so it reaches the scan instead of filtering aggregated
        output (ADVICE r3)."""
        plan = docs_index.complete_prefix("th", k=5)._jdf.queryExecution(
        ).optimizedPlan().toString()
        agg_pos = plan.find("Aggregate")
        fil_pos = plan.find("StartsWith")
        assert agg_pos != -1 and fil_pos != -1
        # optimizedPlan prints parents first: a filter BELOW the
        # aggregate appears AFTER it in the string
        assert fil_pos > agg_pos


class TestMergeIndexes:
    def test_merged_equals_full_build(self, spark, docs_df):
        from sparksearchengine_spark import Corpus, TextOptions

        lo = docs_df.where(F.col("doc_id") < 250)
        hi = docs_df.where(F.col("doc_id") >= 250)
        opts = {"text": TextOptions(analyzer="simple", positions=True)}
        ia = Corpus(lo, id_col="doc_id", text_cols=opts).build_index()
        ib = Corpus(hi, id_col="doc_id", text_cols=opts).build_index()
        merged = ia.merge_with(ib)
        full = Corpus(
            docs_df, id_col="doc_id", text_cols=opts
        ).build_index()
        q = Q.field("text").match_any("dup", "spark")
        got = merged.search(q, k=10).collect()
        want = full.search(q, k=10).collect()
        # stats are recomputed from the union: scores bit-identical
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        # and the vocabulary-level stats agree too
        g = {
            (r["field"], r["term"]): r["df_t"]
            for r in merged.termstats.collect()
        }
        w = {
            (r["field"], r["term"]): r["df_t"]
            for r in full.termstats.collect()
        }
        assert g == w
        assert merged.fieldstats == full.fieldstats

    def test_mismatched_configs_raise(self, spark, docs_df, docs_index):
        from sparksearchengine_spark import Corpus, TextOptions

        other = Corpus(
            docs_df.where(F.col("doc_id") >= 250),
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="whitespace")},
        ).build_index()
        with pytest.raises(ValueError):
            docs_index.merge_with(other)

    def test_query_analyzer_only_diff_merges(self, spark, docs_df):
        """query_analyzer is query-time-only: two physically identical
        indexes that differ only there (e.g. a pre-r4 save loading with
        query_analyzer=None) must merge, taking the non-None side."""
        from sparksearchengine_spark import Corpus, TextOptions

        lo = docs_df.where(F.col("doc_id") < 250)
        hi = docs_df.where(F.col("doc_id") >= 250)
        ia = Corpus(
            lo, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index()
        ib = Corpus(
            hi, id_col="doc_id",
            text_cols={
                "text": TextOptions(
                    analyzer="simple", query_analyzer="simple"
                )
            },
        ).build_index()
        merged = ia.merge_with(ib)
        assert merged.corpus.text_cols["text"].query_analyzer == "simple"
        assert merged.search(Q.field("text").match_term("dup"), k=3).count() > 0

    def test_conflicting_query_analyzers_raise(self, spark, docs_df):
        from sparksearchengine_spark import Corpus, TextOptions

        lo = docs_df.where(F.col("doc_id") < 250)
        hi = docs_df.where(F.col("doc_id") >= 250)
        ia = Corpus(
            lo, id_col="doc_id",
            text_cols={
                "text": TextOptions(
                    analyzer="simple", query_analyzer="whitespace"
                )
            },
        ).build_index()
        ib = Corpus(
            hi, id_col="doc_id",
            text_cols={
                "text": TextOptions(
                    analyzer="simple", query_analyzer="folding"
                )
            },
        ).build_index()
        with pytest.raises(ValueError, match="query_analyzer"):
            ia.merge_with(ib)


class TestUpsertIndex:
    """CDC fold into an existing index (operators/index.py::upsert_index):
    result must be bit-identical to a fresh build over the post-CDC
    corpus — replaced docs, new docs, deletes, recomputed global stats."""

    @staticmethod
    def _opts():
        from sparksearchengine_spark import TextOptions

        return {"text": TextOptions(analyzer="simple", positions=True)}

    def _assert_equals_fresh_build(self, upserted, final_df):
        from sparksearchengine_spark import Corpus

        full = Corpus(
            final_df, id_col="doc_id", text_cols=self._opts()
        ).build_index(persist=False)
        q = Q.field("text").match_any("dup", "spark")
        got = upserted.search(q, k=10).collect()
        want = full.search(q, k=10).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        g = {
            (r["field"], r["term"]): r["df_t"]
            for r in upserted.termstats.collect()
        }
        w = {
            (r["field"], r["term"]): r["df_t"]
            for r in full.termstats.collect()
        }
        assert g == w
        assert upserted.fieldstats == full.fieldstats

    def test_replace_add_delete_equals_fresh_build(self, spark, docs_df):
        from sparksearchengine_spark import Corpus
        from sparksearchengine_spark.operators.index import upsert_index

        base_df = docs_df.where(F.col("doc_id") < 400)
        base = Corpus(
            base_df, id_col="doc_id", text_cols=self._opts()
        ).build_index(persist=False)
        # updates (350-399 replaced with edited text) + inserts (400-449)
        changes = docs_df.where(
            (F.col("doc_id") >= 350) & (F.col("doc_id") < 450)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" upserted")))
        deletes = [5, 10]
        up = upsert_index(base, changes, deletes=deletes, persist=False)

        final_df = (
            base_df.where(F.col("doc_id") < 350)
            .unionByName(changes)
            .where(~F.col("doc_id").isin(*deletes))
        )
        self._assert_equals_fresh_build(up, final_df)
        # corpus view reflects the CDC too
        assert up.corpus.df.where(F.col("doc_id").isin(*deletes)).count() == 0
        assert (
            up.corpus.df.where(F.col("doc_id") == 420).count() == 1
        )

    def test_delete_only(self, spark, docs_df):
        from sparksearchengine_spark import Corpus
        from sparksearchengine_spark.operators.index import upsert_index

        base = Corpus(
            docs_df, id_col="doc_id", text_cols=self._opts()
        ).build_index(persist=False)
        up = upsert_index(base, deletes=[0, 1, 2, 999_999], persist=False)
        final_df = docs_df.where(~F.col("doc_id").isin(0, 1, 2))
        self._assert_equals_fresh_build(up, final_df)

    def test_insert_only_dataframe_deletes(self, spark, docs_df):
        from sparksearchengine_spark import Corpus
        from sparksearchengine_spark.operators.index import upsert_index

        base = Corpus(
            docs_df.where(F.col("doc_id") < 100),
            id_col="doc_id",
            text_cols=self._opts(),
        ).build_index(persist=False)
        changes = docs_df.where(
            (F.col("doc_id") >= 100) & (F.col("doc_id") < 150)
        )
        dels = spark.createDataFrame([(7,)], "doc_id long")
        up = upsert_index(base, changes, deletes=dels, persist=False)
        final_df = docs_df.where(
            (F.col("doc_id") < 150) & (F.col("doc_id") != 7)
        )
        self._assert_equals_fresh_build(up, final_df)

    def test_delete_wins_over_change(self, spark, docs_df):
        from sparksearchengine_spark import Corpus
        from sparksearchengine_spark.operators.index import upsert_index

        base = Corpus(
            docs_df.where(F.col("doc_id") < 50),
            id_col="doc_id",
            text_cols=self._opts(),
        ).build_index(persist=False)
        changes = docs_df.where(F.col("doc_id").isin(10, 60))
        up = upsert_index(base, changes, deletes=[10], persist=False)
        assert up.corpus.df.where(F.col("doc_id") == 10).count() == 0
        assert (
            up.postings.where(F.col("doc_id") == 10).count() == 0
        )
        assert up.corpus.df.where(F.col("doc_id") == 60).count() == 1

    def test_bad_args_raise(self, spark, docs_df, docs_index):
        from sparksearchengine_spark.operators.index import upsert_index

        with pytest.raises(ValueError, match="changes and/or deletes"):
            upsert_index(docs_index)
        with pytest.raises(ValueError, match="missing corpus columns"):
            upsert_index(
                docs_index,
                docs_df.select("doc_id", "text"),
            )


class TestUpsertOnBucketedSave:
    def test_upsert_loaded_term_bucketed_index(
        self, tmp_path, spark, docs_df, docs_index
    ):
        # r9 fix: a loaded term-bucketed save carries the _tbucket
        # partition column, and the delta's fresh postings don't — the
        # union used to throw 'Cannot resolve column name _tbucket'.
        # Upsert must work and match the in-memory upsert's results.
        from sparksearchengine_spark import SearchIndex
        from sparksearchengine_spark.operators.index import upsert_index

        path = str(tmp_path / "ubidx")
        docs_index.save(path, term_buckets=4)
        loaded = SearchIndex.load(spark, path, docs_df)
        changes = docs_df.where(F.col("doc_id") % 100 == 7).withColumn(
            "text", F.concat(F.col("text"), F.lit(" upserted"))
        )
        up = upsert_index(loaded, changes, deletes=[1, 3], persist=False)
        up0 = upsert_index(
            docs_index, changes, deletes=[1, 3], persist=False
        )
        q = Q.field("text").match_term("upserted")
        a = sorted(map(tuple, up.search(q, k=10).collect()))
        b = sorted(map(tuple, up0.search(q, k=10).collect()))
        assert a == b and a
        assert "_tbucket" not in up.postings.columns


class TestMergeOnBucketedSave:
    def test_merge_loaded_term_bucketed_index(
        self, tmp_path, spark, docs_df
    ):
        # r9 fix (same family as the upsert one): merging a LOADED
        # term-bucketed shard with an in-memory shard used to throw
        # 'Cannot resolve column name _tbucket' — the docstring already
        # promised 'merged postings carry no bucket column'.
        from sparksearchengine_spark import (
            Corpus,
            SearchIndex,
            TextOptions,
        )
        from sparksearchengine_spark.operators.index import merge_indexes

        tc = {"text": TextOptions(analyzer="simple", positions=True)}
        a_df = docs_df.where(F.col("doc_id") < 250)
        b_df = docs_df.where(F.col("doc_id") >= 250)
        a = Corpus(a_df, id_col="doc_id", text_cols=tc).build_index()
        b = Corpus(b_df, id_col="doc_id", text_cols=tc).build_index()
        path = str(tmp_path / "ms")
        a.save(path, term_buckets=4)
        loaded = SearchIndex.load(spark, path, a_df)
        q = Q.field("text").match_any("dup", "spark")
        got = merge_indexes(loaded, b, persist=False)
        want = merge_indexes(a, b, persist=False)
        assert "_tbucket" not in got.postings.columns
        assert sorted(map(tuple, got.search(q, k=5).collect())) == sorted(
            map(tuple, want.search(q, k=5).collect())
        )
        a.unpersist()
        b.unpersist()


class TestResaveBucketedIndex:
    def test_resave_flat_and_rebucket(self, tmp_path, spark, docs_df,
                                      docs_index):
        # re-saving a LOADED bucketed index must not leak the old
        # _tbucket partition column into the new layout as a data
        # column (flat re-save), and a different term_buckets must
        # derive a fresh bucket key
        from sparksearchengine_spark import SearchIndex

        q = Q.field("text").match_any("dup", "spark")
        base = sorted(map(tuple, docs_index.search(q, k=5).collect()))
        p1 = str(tmp_path / "b8")
        docs_index.save(p1, term_buckets=8)
        loaded = SearchIndex.load(spark, p1, docs_df)

        p2 = str(tmp_path / "flat")
        loaded.save(p2)
        flat = SearchIndex.load(spark, p2, docs_df)
        assert "_tbucket" not in flat.postings.columns
        assert sorted(map(tuple, flat.search(q, k=5).collect())) == base

        p3 = str(tmp_path / "b4")
        loaded.save(p3, term_buckets=4)
        reb = SearchIndex.load(spark, p3, docs_df)
        assert reb.term_buckets == 4
        assert sorted(map(tuple, reb.search(q, k=5).collect())) == base


class TestUpsertDuplicateChanges:
    def test_duplicate_change_ids_raise(self, spark, docs_df, docs_index):
        from sparksearchengine_spark.operators.index import upsert_index

        dup = docs_df.where(F.col("doc_id") == 3).unionByName(
            docs_df.where(F.col("doc_id") == 3)
        )
        with pytest.raises(ValueError, match="multiple rows for id 3"):
            upsert_index(docs_index, dup, persist=False)


class TestUpsertPlanShape:
    def test_small_delta_broadcast_anti_join(self, spark, docs_df, docs_index):
        """A small CDC delta must anti-join the base postings via
        broadcast — the base never shuffles for the fold."""
        from sparksearchengine_spark.operators.index import upsert_index

        changes = docs_df.where(F.col("doc_id") < 5)
        up = upsert_index(docs_index, changes, persist=False)
        plan = up.postings._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


class TestRrfFuse:
    def test_hand_computed_fusion(self, spark):
        from sparksearchengine_spark.operators.search import rrf_fuse

        a = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3)], "doc_id long, rank long"
        )
        b = spark.createDataFrame(
            [(11, 1), (13, 2)], "doc_id long, rank long"
        )
        got = {r.doc_id: r for r in rrf_fuse([a, b], k=4, k_rrf=60).collect()}
        # doc 11 in both lists wins
        assert got[11].rank == 1
        want11 = round(round(1 / 62, 6) + round(1 / 61, 6), 6)
        assert got[11].rrf_score == pytest.approx(want11, abs=1e-9)
        assert got[10].rrf_score == pytest.approx(round(1 / 61, 6), abs=1e-9)
        assert set(got) == {10, 11, 12, 13}

    def test_grouped_and_weighted(self, spark):
        from sparksearchengine_spark.operators.search import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1)], "query_id long, doc_id long, rank long"
        )
        b = spark.createDataFrame(
            [(1, 11, 1), (2, 20, 2)], "query_id long, doc_id long, rank long"
        )
        got = rrf_fuse(
            [a, b], k=2, group_cols=["query_id"], weights=[1.0, 3.0]
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, {})[r.doc_id] = r
        # q1: doc 11 (weight 3 source, rank 1) beats doc 10 (weight 1)
        assert by_q[1][11].rank == 1 and by_q[1][10].rank == 2
        # q2: doc 20 sums both sources
        want20 = round(round(1 / 61, 6) + round(3 / 62, 6), 6)
        assert by_q[2][20].rrf_score == pytest.approx(want20, abs=1e-9)

    def test_bad_args(self, spark):
        from sparksearchengine_spark.operators.search import rrf_fuse

        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])
        a = spark.createDataFrame([(1, 1)], "doc_id long, rank long")
        with pytest.raises(ValueError, match="weights"):
            rrf_fuse([a, a], weights=[1.0])


class TestPassageToDoc:
    def test_maxp_hand_computed(self, spark):
        from sparksearchengine_spark.operators.search import passage_to_doc

        hits = spark.createDataFrame(
            [
                (100, 0.9),  # doc 100 best passage
                (100, 0.3),
                (200, 0.7),
                (300, 0.8),
            ],
            "doc_id long, score double",
        )
        got = {r.doc_id: r for r in passage_to_doc(hits, k=3).collect()}
        assert got[100].rank == 1 and got[100].doc_score == 0.9
        assert got[300].rank == 2 and got[200].rank == 3

    def test_sum_top_rewards_multi_passage(self, spark):
        from sparksearchengine_spark.operators.search import passage_to_doc

        hits = spark.createDataFrame(
            [(1, 0.5), (1, 0.5), (1, 0.5), (1, 0.5), (2, 0.9)],
            "doc_id long, score double",
        )
        got = {
            r.doc_id: r
            for r in passage_to_doc(
                hits, k=2, agg="sum_top", top_p=3
            ).collect()
        }
        # doc 1: top-3 of four 0.5 passages = 1.5 > doc 2's single 0.9
        assert got[1].doc_score == pytest.approx(1.5)
        assert got[1].rank == 1 and got[2].rank == 2

    def test_grouped_per_query(self, spark):
        from sparksearchengine_spark.operators.search import passage_to_doc

        hits = spark.createDataFrame(
            [(1, 10, 0.9), (1, 20, 0.5), (2, 10, 0.2), (2, 20, 0.8)],
            "query_id long, doc_id long, score double",
        )
        got = {
            (r.query_id, r.rank): r.doc_id
            for r in passage_to_doc(
                hits, k=2, group_cols=["query_id"]
            ).collect()
        }
        assert got[(1, 1)] == 10 and got[(2, 1)] == 20

    def test_bad_agg(self, spark):
        from sparksearchengine_spark.operators.search import passage_to_doc

        df = spark.createDataFrame([(1, 0.1)], "doc_id long, score double")
        with pytest.raises(ValueError, match="max\\|sum_top"):
            passage_to_doc(df, agg="mean")


class TestCollapseResults:
    def test_one_per_source(self, spark):
        from sparksearchengine_spark.operators.search import collapse_results

        hits = spark.createDataFrame(
            [
                (1, "a.com", 0.9),
                (2, "a.com", 0.8),
                (3, "b.com", 0.7),
                (4, None, 0.6),
                (5, None, 0.5),
            ],
            "doc_id long, source string, score double",
        )
        got = collapse_results(hits, "source", k=5).collect()
        ids = {r.doc_id for r in got}
        # best per source survives; NULLs are one group
        assert ids == {1, 3, 4}
        by_rank = {r.rank: r.doc_id for r in got}
        assert by_rank[1] == 1 and by_rank[2] == 3 and by_rank[3] == 4

    def test_per_group_two_and_batch_scope(self, spark):
        from sparksearchengine_spark.operators.search import collapse_results

        hits = spark.createDataFrame(
            [
                (7, 1, "a", 0.9),
                (7, 2, "a", 0.8),
                (7, 3, "a", 0.7),
                (7, 4, "b", 0.6),
                (8, 3, "a", 0.9),
            ],
            "query_id long, doc_id long, source string, score double",
        )
        got = collapse_results(
            hits, "source", k=3, group_cols=["query_id"], per_group=2
        ).collect()
        q7 = sorted(r.doc_id for r in got if r.query_id == 7)
        assert q7 == [1, 2, 4]  # top-2 of source a + source b
        assert [r.doc_id for r in got if r.query_id == 8] == [3]


class TestTermVector:
    def test_tiny_corpus_vector(self, tiny_index):
        from sparksearchengine_spark.operators.stats import term_vector

        rows = term_vector(tiny_index, 1, field="text").collect()
        got = {r.term: (r.tf, r.dl) for r in rows}
        # doc 1 = [a, b, a]
        assert got == {"a": (2, 3), "b": (1, 3)}

    def test_all_fields_and_missing_doc(self, tiny_index):
        from sparksearchengine_spark.operators.stats import term_vector

        assert term_vector(tiny_index, 999).count() == 0
        assert term_vector(tiny_index, 2).count() == 2  # [a, c]


class TestMoreLikeThisText:
    def test_matches_match_any_over_top_terms(self, docs_index):
        from sparksearchengine_spark.operators.search import (
            more_like_this_text,
        )

        got = more_like_this_text(
            docs_index, "dup dup spark merge", "text", k=5, num_terms=2
        ).collect()
        assert len(got) == 5
        assert [r.rank for r in got] == [1, 2, 3, 4, 5]
        assert all(r.score > 0 for r in got)

    def test_zero_term_text_raises(self, docs_index):
        from sparksearchengine_spark.operators.search import (
            more_like_this_text,
        )

        with pytest.raises(ValueError, match="zero terms"):
            more_like_this_text(docs_index, "!!! ???", "text")

    def test_unknown_field_and_oov_text(self, docs_index):
        from sparksearchengine_spark.operators.search import (
            more_like_this_text,
        )

        with pytest.raises(ValueError, match="not indexed"):
            more_like_this_text(docs_index, "dup", "nope")
        with pytest.raises(ValueError, match="nothing to match"):
            more_like_this_text(
                docs_index, "zzzqqqxxx vvvwwwyyy", "text"
            )


class TestExplainScores:
    """Lucene-explain analog (search.py::explain_scores)."""

    def test_totals_equal_search(self, docs_index):
        import math

        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_any("dup", "spark")
        s = {
            r["doc_id"]: r["score"]
            for r in docs_index.search(q, k=1000).collect()
        }
        e = {
            r["doc_id"]: r["score"]
            for r in docs_index.explain(q)
            .select("doc_id", "score")
            .distinct()
            .collect()
        }
        assert set(s) == set(e)
        assert all(math.isclose(s[d], e[d], rel_tol=1e-12) for d in s)

    def test_components_multiply_out(self, docs_index):
        import math

        from sparksearchengine_spark.plans.ast import Q as _Q

        rows = docs_index.explain(
            _Q.field("text").match_term("dup")
        ).collect()
        assert rows
        for r in rows:
            assert math.isclose(
                r["tscore"],
                r["weight"] * r["idf"] * r["tf_norm"],
                rel_tol=1e-12,
            )
            # BM25 tfNorm recomputed from raw stats
            fs = docs_index.fieldstats["text"]
            tfn = (r["tf"] * 2.2) / (
                r["tf"] + 1.2 * (0.25 + 0.75 * r["dl"] / fs.avgdl)
            )
            assert math.isclose(r["tf_norm"], tfn, rel_tol=1e-9)

    def test_boost_scales_weight_and_tscore(self, docs_index):
        import math

        from sparksearchengine_spark.plans.ast import Q as _Q

        base = {
            (r["doc_id"], r["term"]): r
            for r in docs_index.explain(
                _Q.field("text").match_term("dup")
            ).collect()
        }
        boosted = {
            (r["doc_id"], r["term"]): r
            for r in docs_index.explain(
                _Q.field("text").match_term("dup").boost(3.0)
            ).collect()
        }
        assert set(base) == set(boosted)
        for k, b in boosted.items():
            assert b["weight"] == 3.0
            assert math.isclose(
                b["tscore"], 3.0 * base[k]["tscore"], rel_tol=1e-12
            )

    def test_min_match_mirrors_search(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_all("dup", "merge")
        s = {r["doc_id"] for r in docs_index.search(q, k=1000).collect()}
        e = {
            r["doc_id"]
            for r in docs_index.explain(q).select("doc_id").collect()
        }
        assert s == e and s

    def test_doc_ids_prune(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        all_ids = sorted(
            r["doc_id"]
            for r in docs_index.explain(q).select("doc_id").collect()
        )
        some = all_ids[:2]
        got = {
            r["doc_id"]
            for r in docs_index.explain(q, doc_ids=some).collect()
        }
        assert got == set(some)

    def test_unsupported_shapes_raise(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        for bad in (
            _Q.field("text").match_phrase("dup merge"),
            ~_Q.field("text").match_term("dup"),
        ):
            with _pytest.raises(ValueError, match="explain_scores"):
                docs_index.explain(bad)

    def test_tfidf_decomposition_and_custom_nulls(self, spark, docs_df):
        import math

        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.functions.scoring import (
            ScoringConfig,
            register_scorer,
        )
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        tfidf_idx = Corpus(
            docs_df, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index(scoring=ScoringConfig(similarity="tfidf"))
        rows = tfidf_idx.explain(q).collect()
        assert rows
        for r in rows:
            # classic tfidf: score = sqrt(tf)·idf², so tf_norm = sqrt(tf)
            assert math.isclose(
                r["tf_norm"], math.sqrt(r["tf"]), rel_tol=1e-9
            )
            assert math.isclose(
                r["tscore"], r["idf"] * r["tf_norm"], rel_tol=1e-12
            )
        register_scorer(
            "ones", lambda tf, dl, df_t, n, avgdl: tf * 0 + 1.0
        )
        ones_idx = Corpus(
            docs_df, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index(scoring=ScoringConfig(similarity="ones"))
        r = ones_idx.explain(q).collect()[0]
        # custom scorer: no known decomposition -> NULL components
        assert r["idf"] is None and r["tf_norm"] is None
        assert r["tscore"] == 1.0


class TestRescoreSearch:
    """Two-pass rescoring (search.py::rescore_search)."""

    def test_total_mode_matches_manual_fusion(self, docs_index):
        import math

        from sparksearchengine_spark.plans.ast import Q as _Q

        base_q = _Q.field("text").match_any("dup", "spark")
        ph = _Q.field("text").match_phrase("dup merge")
        b = {
            r["doc_id"]: r["score"]
            for r in docs_index.search(base_q, k=20).collect()
        }
        p = {
            r["doc_id"]: r["score"]
            for r in docs_index.compile(ph).collect()
        }
        got = {
            r["doc_id"]: r["score"]
            for r in docs_index.rescore_search(
                base_q, ph, k=20, window=20, rescore_weight=2.0
            ).collect()
        }
        want = {
            d: b[d] + 2.0 * p[d] if d in p else b[d] for d in b
        }
        assert set(got) == set(want)
        assert all(
            math.isclose(got[d], want[d], rel_tol=1e-12) for d in got
        )

    def test_window_containment(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        base_q = _Q.field("text").match_any("dup", "spark")
        ph = _Q.field("text").match_phrase("dup merge")
        win = {
            r["doc_id"] for r in docs_index.search(base_q, k=15).collect()
        }
        got = {
            r["doc_id"]
            for r in docs_index.rescore_search(
                base_q, ph, k=15, window=15, rescore_weight=100.0
            ).collect()
        }
        assert got <= win

    def test_unmatched_docs_keep_weighted_base(self, docs_index):
        import math

        from sparksearchengine_spark.plans.ast import Q as _Q

        base_q = _Q.field("text").match_term("spark")
        ph = _Q.field("text").match_phrase("zzznope qqqnever")
        b = {
            r["doc_id"]: r["score"]
            for r in docs_index.search(base_q, k=10).collect()
        }
        got = {
            r["doc_id"]: r["score"]
            for r in docs_index.rescore_search(
                base_q, ph, k=10, window=10, query_weight=0.5
            ).collect()
        }
        assert all(
            math.isclose(got[d], 0.5 * b[d], rel_tol=1e-12) for d in got
        )

    def test_score_modes_and_guards(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        base_q = _Q.field("text").match_term("dup")
        ph = _Q.field("text").match_phrase("dup merge")
        for mode in ("multiply", "avg", "max", "min"):
            assert (
                docs_index.rescore_search(
                    base_q, ph, k=3, window=5, score_mode=mode
                ).count()
                == 3
            )
        with _pytest.raises(ValueError, match="score_mode"):
            docs_index.rescore_search(
                base_q, ph, k=3, window=5, score_mode="sum"
            )
        with _pytest.raises(ValueError, match="window"):
            docs_index.rescore_search(base_q, ph, k=10, window=5)
        with _pytest.raises(ValueError, match="RESCORE_MAX_WINDOW"):
            docs_index.rescore_search(
                base_q, ph, k=10, window=200_000
            )

    def test_rescore_plan_semi_filtered(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        plan = (
            docs_index.rescore_search(
                _Q.field("text").match_term("dup"),
                _Q.field("text").match_phrase("dup merge"),
                k=3,
                window=5,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LeftSemi" in plan


class TestDslBatchPerQueryK:
    def test_per_query_k_matches_single_search(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        qs = [
            (1, _Q.field("text").match_any("dup", "spark")),
            (2, _Q.field("text").match_term("merge")),
            (3, _Q.field("text").match_phrase("dup merge")),
        ]
        res = docs_index.batch_search_dsl(
            qs, k=2, k_by_query={1: 5, 3: 1}
        ).collect()
        got = {}
        for r in res:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        for qid, q, kk in ((1, qs[0][1], 5), (2, qs[1][1], 2), (3, qs[2][1], 1)):
            want = [
                (r["rank"], r["doc_id"], r["score"])
                for r in docs_index.search(q, k=kk).orderBy("rank").collect()
            ]
            assert sorted(got.get(qid, [])) == sorted(want), qid

    def test_k_by_query_validation(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        qs = [(1, _Q.field("text").match_term("dup"))]
        with _pytest.raises(ValueError, match=">= 1"):
            docs_index.batch_search_dsl(qs, k_by_query={1: 0})
        with _pytest.raises(ValueError, match="not in the batch"):
            docs_index.batch_search_dsl(qs, k_by_query={9: 3})


class TestFacetMetrics:
    def test_metrics_match_manual_agg(self, spark, docs_index, docs_df):
        from sparksearchengine_spark.operators.search import facet_metrics
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        out = {
            r["value"]: r
            for r in facet_metrics(
                docs_index, q, "lang", "n_chars",
                metrics=("count", "sum", "avg", "min", "max",
                         "distinct"),
            ).collect()
        }
        ids = {
            r["doc_id"] for r in docs_index.compile(q).collect()
        }
        rows = [
            r
            for r in docs_df.select("doc_id", "lang", "n_chars").collect()
            if r["doc_id"] in ids
        ]
        import collections

        want = collections.defaultdict(list)
        for r in rows:
            want[r["lang"]].append(r["n_chars"])
        assert set(out) == {str(k) for k in want}
        for lang, vals in want.items():
            o = out[str(lang)]
            assert o["n_docs"] == len(vals)
            assert o["sum_n_chars"] == float(sum(vals))
            assert o["min_n_chars"] == float(min(vals))
            assert o["max_n_chars"] == float(max(vals))
            assert o["distinct_n_chars"] == len(set(vals))
            assert abs(o["avg_n_chars"] - sum(vals) / len(vals)) < 1e-9

    def test_percentiles_and_validation(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.operators.search import facet_metrics
        from sparksearchengine_spark.plans.ast import Q as _Q

        q = _Q.field("text").match_term("dup")
        out = facet_metrics(
            docs_index, q, "lang", "n_chars",
            metrics=("count",), percentiles=(0.5, 0.999, 1.0),
        )
        # ES-style percent tags: fixed-point, no '.'/'-' in names
        for c in ("p50_n_chars", "p99_9_n_chars", "p100_n_chars"):
            assert c in out.columns, out.columns
        rows = out.collect()
        assert rows and all(r["p50_n_chars"] is not None for r in rows)
        with _pytest.raises(ValueError, match="unknown metrics"):
            facet_metrics(docs_index, q, "lang", "n_chars", metrics=("stdev",))
        with _pytest.raises(ValueError, match="percentile"):
            facet_metrics(
                docs_index, q, "lang", "n_chars", percentiles=(1.5,)
            )


class TestMultiMatchSearch:
    @pytest.fixture(scope="class")
    def mm_index(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions

        df = spark.createDataFrame(
            [
                (1, "apple", "apple banana"),
                (2, "banana", "apple apple cherry"),
                (3, "cherry", "banana"),
            ],
            "doc_id long, title string, body string",
        )
        return Corpus(
            df,
            id_col="doc_id",
            text_cols={
                "title": TextOptions(analyzer="simple", positions=False),
                "body": TextOptions(analyzer="simple", positions=False),
            },
        ).build_index()

    def _field_scores(self, idx, text):
        from sparksearchengine_spark.plans.ast import Q as _Q

        out = {}
        for f in ("title", "body"):
            for r in idx.compile(_Q.field(f).match_text(text)).collect():
                out.setdefault(r["doc_id"], {})[f] = r["score"]
        return out

    def test_best_fields_is_max_plus_tiebreak(self, mm_index):
        import math

        per = self._field_scores(mm_index, "apple banana")
        got = {
            r["doc_id"]: r["score"]
            for r in mm_index.multi_match_search(
                "apple banana", ["title", "body"], tie_breaker=0.3
            ).collect()
        }
        assert set(got) == set(per)
        for d, fs in per.items():
            vals = list(fs.values())
            want = max(vals) + 0.3 * (sum(vals) - max(vals))
            assert math.isclose(got[d], want, rel_tol=1e-12), d

    def test_most_fields_is_sum_and_boost_scales(self, mm_index):
        import math

        per = self._field_scores(mm_index, "banana")
        got = {
            r["doc_id"]: r["score"]
            for r in mm_index.multi_match_search(
                "banana", {"title": 2.0, "body": 1.0},
                match_type="most_fields",
            ).collect()
        }
        for d, fs in per.items():
            want = 2.0 * fs.get("title", 0.0) + fs.get("body", 0.0)
            assert math.isclose(got[d], want, rel_tol=1e-12), d

    def test_validation(self, mm_index):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="match_type"):
            mm_index.multi_match_search("x", ["title"], match_type="x")
        with _pytest.raises(ValueError, match="tie_breaker"):
            mm_index.multi_match_search("x", ["title"], tie_breaker=2.0)
        with _pytest.raises(ValueError, match="non-empty"):
            mm_index.multi_match_search("x", [])


class TestDslBatchMultiTerm:
    def test_multiterm_batch_equals_single_search(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        f = _Q.field("text")
        qs = [
            (1, f.match_wildcard("du*")),
            (2, f.match_regex("sp[a-z]rk")),
            (3, f.match_fuzzy("sparc", max_edits=1)),
            (4, f.match_term("merge")),          # term rides its plan
            (5, f.match_phrase("dup merge")),    # phrase rides its plan
        ]
        res = docs_index.batch_search_dsl(qs, k=50).collect()
        got = {}
        for r in res:
            got.setdefault(r["query_id"], set()).add(
                (r["doc_id"], round(r["score"], 9))
            )
        for qid, q in qs:
            want = {
                (r["doc_id"], round(r["score"], 9))
                for r in docs_index.search(q, k=50).collect()
            }
            assert got.get(qid, set()) == want, qid

    def test_multiterm_does_not_count_toward_max_plans(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        f = _Q.field("text")
        # 5 distinct multi-term queries under max_plans=1: must not raise
        qs = [
            (i, f.match_wildcard(p))
            for i, p in enumerate(["du*", "sp*", "me*", "ta*", "ha*"])
        ]
        out = docs_index.batch_search_dsl(qs, k=3, max_plans=1)
        assert out.count() > 0

    def test_one_vocab_scan_for_all_patterns(self, docs_index):
        from sparksearchengine_spark.plans.ast import Q as _Q

        f = _Q.field("text")
        qs = [
            (1, f.match_wildcard("du*")),
            (2, f.match_regex("me.*ge")),
            (3, f.match_fuzzy("sparc", max_edits=1)),
        ]
        plan = (
            docs_index.batch_search_dsl(qs, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the three patterns share ONE dictionary-side join (broadcast
        # pattern frame), not one sub-plan each
        assert plan.count("LIKE") + plan.count("like") >= 1
        assert plan.count("levenshtein") == 1

    def test_unknown_field_raises(self, docs_index):
        import pytest as _pytest

        from sparksearchengine_spark.plans.ast import Q as _Q

        with _pytest.raises(ValueError, match="searchable text column"):
            docs_index.batch_search_dsl(
                [(1, _Q.field("nope").match_wildcard("a*"))], k=3
            )


class TestValidateIndex:
    def test_fresh_index_all_ok(self, docs_index):
        rows = docs_index.validate().collect()
        assert rows and all(r["ok"] for r in rows), [
            tuple(r) for r in rows if not r["ok"]
        ]
        checks = {r["check"] for r in rows}
        assert {"postings_unique", "termstats_df", "dl_consistent"} <= checks
        assert any(c.startswith("doc_count[") for c in checks)
        assert any(c.startswith("avgdl[") for c in checks)

    def test_upserted_index_validates(self, spark, docs_df):
        from sparksearchengine_spark import Corpus, TextOptions

        base = Corpus(
            docs_df.where(F.col("doc_id") < 400),
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index(persist=False)
        changes = docs_df.where(
            (F.col("doc_id") >= 390) & (F.col("doc_id") < 420)
        )
        up = base.upsert(changes, deletes=[1, 2, 3])
        rows = up.validate().collect()
        assert all(r["ok"] for r in rows), [
            tuple(r) for r in rows if not r["ok"]
        ]

    def test_corrupted_stats_detected(self, spark, docs_df):
        import dataclasses

        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.operators.index import FieldStats

        idx = Corpus(
            docs_df.where(F.col("doc_id") < 50),
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index(persist=False)
        # sabotage the derived stats: wrong doc_count, wrong df_t
        idx.fieldstats = {
            "text": FieldStats(
                doc_count=idx.fieldstats["text"].doc_count + 7,
                avgdl=idx.fieldstats["text"].avgdl,
            )
        }
        idx.termstats = idx.termstats.withColumn(
            "df_t", F.col("df_t") + F.lit(1)
        )
        bad = {r["check"]: r for r in idx.validate().collect() if not r["ok"]}
        assert "doc_count[text]" in bad
        assert "termstats_df" in bad and bad["termstats_df"]["actual"] > 0


class TestBatchCursorPaging:
    """batch_search after_score_col/after_doc_col: per-query cursor
    paging as data — page 2 of the whole batch in one job, rows equal
    the single-query search_after path per query."""

    def test_batch_page2_equals_single_query_cursor(
        self, spark, docs_index
    ):
        from sparksearchengine_spark.operators.search import (
            batch_search,
            search,
        )
        from sparksearchengine_spark.plans.ast import Q

        texts = {1: "dup spark", 2: "table hash", 3: "merge scan"}
        qdf = spark.createDataFrame(
            [(i, t) for i, t in texts.items()],
            "query_id long, qtext string",
        )
        page1 = batch_search(docs_index, qdf, k=3, field="text")
        cursors = {
            r["query_id"]: (r["score"], r["doc_id"])
            for r in page1.where(F.col("rank") == 3).collect()
        }
        assert set(cursors) == {1, 2, 3}
        q2 = spark.createDataFrame(
            [
                (i, t, cursors[i][0], cursors[i][1])
                for i, t in texts.items()
            ],
            "query_id long, qtext string, a_s double, a_d long",
        )
        page2 = batch_search(
            docs_index, q2, k=3, field="text",
            after_score_col="a_s", after_doc_col="a_d",
        )
        got = {}
        for r in page2.collect():
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 6), r["rank"])
            )
        for i, t in texts.items():
            want = [
                (r["doc_id"], round(r["score"], 6), r["rank"])
                for r in search(
                    docs_index,
                    Q.field("text").match_text(t),
                    k=3,
                    search_after=cursors[i],
                ).collect()
            ]
            assert sorted(got.get(i, [])) == sorted(want), f"query {i}"
        # page-local ranks restart at 1
        assert all(r[2] >= 1 for rows in got.values() for r in rows)

    def test_null_cursor_is_page_one(self, spark, docs_index):
        from sparksearchengine_spark.operators.search import batch_search

        qdf = spark.createDataFrame(
            [(1, "dup spark", None, None), (2, "table hash", None, None)],
            "query_id long, qtext string, a_s double, a_d long",
        )
        paged = batch_search(
            docs_index, qdf, k=3, field="text",
            after_score_col="a_s", after_doc_col="a_d",
        )
        plain = batch_search(
            docs_index,
            qdf.select("query_id", "qtext"),
            k=3,
            field="text",
        )
        assert sorted(map(tuple, paged.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_cursor_cols_must_pair(self, spark, docs_index):
        from sparksearchengine_spark.operators.search import batch_search

        qdf = spark.createDataFrame(
            [(1, "dup", 1.0, 1)],
            "query_id long, qtext string, a_s double, a_d long",
        )
        with pytest.raises(ValueError, match="BOTH"):
            batch_search(
                docs_index, qdf, k=3, field="text", after_score_col="a_s"
            )


class TestVocabBroadcastProbe:
    """The full-vocabulary termstats side of the scored-postings joins
    must be probed, not broadcast unconditionally: at a 100-TB web
    corpus Heaps' law puts |vocab| at O(1e8-1e9) — a multi-GB broadcast.
    Small vocab -> BroadcastHashJoin; large (forced) -> ShuffledHashJoin
    with the vocab as build side (postings is never the build side).
    Each test uses DISTINCT corpus literals: Spark's cache manager
    reuses a semantically-equal persisted plan, so a same-data index
    would silently inherit the other direction's cached join."""

    def _mk(self, spark, tag, broadcast_vocab):
        from sparksearchengine_spark import Corpus, TextOptions

        df = spark.createDataFrame(
            [
                (1, f"alpha{tag} beta{tag} alpha{tag}"),
                (2, f"alpha{tag} gamma{tag}"),
                (3, f"beta{tag} beta{tag} gamma{tag}"),
            ],
            "doc_id long, text string",
        )
        idx = Corpus(
            df,
            id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple", positions=True)},
        ).build_index()
        idx.broadcast_vocab = broadcast_vocab
        return idx

    def test_small_vocab_probes_to_broadcast(self, spark):
        idx = self._mk(spark, "vbp1", None)  # probe path
        plan = (
            idx.scored_postings("text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        idx.unpersist()

    def test_forced_large_vocab_shuffle_hash(self, spark):
        idx = self._mk(spark, "vbp2", False)
        plan = (
            idx.scored_postings("text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        idx.unpersist()

    def test_both_directions_equal_results(self, spark):
        a = self._mk(spark, "vbp3", True)
        b = self._mk(spark, "vbp4", False)
        rows_a = sorted(
            (r["term"].replace("vbp3", ""), r["doc_id"], round(r["tscore"], 9))
            for r in a.scored_postings("text").collect()
        )
        rows_b = sorted(
            (r["term"].replace("vbp4", ""), r["doc_id"], round(r["tscore"], 9))
            for r in b.scored_postings("text").collect()
        )
        assert rows_a == rows_b
        a.unpersist()
        b.unpersist()

    @staticmethod
    def _positions_scored(idx):  # type: ignore[no-untyped-def]
        # the DSL phrase tier's scan: every posting of the field with
        # positions, scored through SearchIndex._score_postings_frame
        p = idx.postings.where(F.col("field") == "text")
        return idx._score_postings_frame("text", p, positions=True)

    def test_positions_scored_forced_shuffle_hash(self, spark):
        idx = self._mk(spark, "vbp5", False)
        plan = (
            self._positions_scored(idx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        idx.unpersist()

    def test_positions_scored_small_vocab_broadcasts(self, spark):
        idx = self._mk(spark, "vbp6", None)  # probe path
        plan = (
            self._positions_scored(idx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        idx.unpersist()

    def test_doc_keywords_forced_shuffle_hash(self, spark):
        # r8 verdict #1: doc_keywords joined postings to the FULL field
        # IDF table via unconditional F.broadcast — same OOM-at-100-TB
        # pattern scored_postings fixed. Must ride hint_vocab_side.
        from sparksearchengine_spark.operators.stats import doc_keywords

        idx = self._mk(spark, "vbp7", False)
        plan = (
            doc_keywords(idx, "text", k=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        idx.unpersist()

    def test_doc_keywords_small_vocab_broadcasts(self, spark):
        from sparksearchengine_spark.operators.stats import doc_keywords

        idx = self._mk(spark, "vbp8", None)  # probe path
        plan = (
            doc_keywords(idx, "text", k=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        idx.unpersist()

    def test_more_like_this_forced_shuffle_hash(self, spark):
        # The source side was probed but the vocab side two joins later
        # was broadcast unconditionally; with BOTH policies forced off,
        # no broadcast of any kind may remain in the plan.
        from sparksearchengine_spark.operators.search import more_like_this

        idx = self._mk(spark, "vbp9", False)
        plan = (
            more_like_this(
                idx, [1], "text", k=2, num_terms=2,
                broadcast_keywords=False,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        idx.unpersist()

    def test_more_like_this_small_vocab_broadcasts(self, spark):
        from sparksearchengine_spark.operators.search import more_like_this

        idx = self._mk(spark, "vbp10", None)  # probe path
        plan = (
            more_like_this(idx, [1], "text", k=2, num_terms=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        idx.unpersist()

    def test_more_like_this_both_directions_equal_results(self, spark):
        from sparksearchengine_spark.operators.search import more_like_this

        a = self._mk(spark, "vbp11", True)
        b = self._mk(spark, "vbp12", False)
        rows_a = sorted(
            (r["src_id"], r["match_doc_id"], round(r["score"], 9), r["rank"])
            for r in more_like_this(
                a, [1, 2, 3], "text", k=3, num_terms=2
            ).collect()
        )
        rows_b = sorted(
            (r["src_id"], r["match_doc_id"], round(r["score"], 9), r["rank"])
            for r in more_like_this(
                b, [1, 2, 3], "text", k=3, num_terms=2,
                broadcast_keywords=False,
            ).collect()
        )
        assert rows_a == rows_b
        a.unpersist()
        b.unpersist()


class TestCursorUlpDrift:
    """Boundary matching is 6dp-rounded on BOTH sides: a cursor that
    drifted an ulp from the recomputed score (multi-partition float sums
    are not bit-deterministic across jobs) must still match the boundary
    — neither skipping nor repeating the boundary doc."""

    def test_single_query_drifted_cursor_same_page(self, docs_index):
        import math

        from sparksearchengine_spark.operators.search import search
        from sparksearchengine_spark.plans.ast import Q

        q = Q.field("text").match_text("dup spark merge")
        page1 = search(docs_index, q, k=3).orderBy("rank").collect()
        s, d = page1[-1]["score"], page1[-1]["doc_id"]
        exact = sorted(
            (r["doc_id"], round(r["score"], 6), r["rank"])
            for r in search(docs_index, q, k=3, search_after=(s, d)).collect()
        )
        for drift in (math.ulp(s), -math.ulp(s)):
            got = sorted(
                (r["doc_id"], round(r["score"], 6), r["rank"])
                for r in search(
                    docs_index, q, k=3, search_after=(s + drift, d)
                ).collect()
            )
            assert got == exact, drift

    def test_batch_drifted_cursor_same_page(self, spark, docs_index):
        import math

        from sparksearchengine_spark.operators.search import batch_search

        qdf = spark.createDataFrame(
            [(1, "dup spark merge")], "query_id long, qtext string"
        )
        page1 = batch_search(docs_index, qdf, k=3, field="text")
        last = page1.where(F.col("rank") == 3).collect()[0]
        s, d = last["score"], last["doc_id"]

        def page2(sc):
            q2 = spark.createDataFrame(
                [(1, "dup spark merge", sc, d)],
                "query_id long, qtext string, a_s double, a_d long",
            )
            return sorted(
                (r["doc_id"], round(r["score"], 6), r["rank"])
                for r in batch_search(
                    docs_index, q2, k=3, field="text",
                    after_score_col="a_s", after_doc_col="a_d",
                ).collect()
            )

        exact = page2(s)
        assert page2(s + math.ulp(s)) == exact
        assert page2(s - math.ulp(s)) == exact


class TestCursorRoundedSort:
    """r8 ADVICE (medium): the cursor predicate compares 6dp-ROUNDED
    scores, so the page SORT must rank by the same rounded score —
    ranking full-precision while comparing rounded deterministically
    skips (or repeats) docs whose distinct scores sit within 5e-7 of
    the cursor and straddle a page boundary. Scores are injected via a
    crafted compiled-hits frame: doc 2's full-precision score is HIGHER
    than doc 1's but both round to 1.0 at 6dp, so a full-precision sort
    would emit doc 2 on page 1 and the rounded cursor would then drop
    doc 1 forever."""

    def _paged_union(self, spark, scores, k):
        from types import SimpleNamespace

        from sparksearchengine_spark.operators.search import search

        hits = spark.createDataFrame(scores, "doc_id long, score double")
        idx = SimpleNamespace(compile=lambda q: hits)
        out, cursor, pages = [], None, 0
        while pages < 10:
            page = [
                (r["doc_id"], r["score"])
                for r in search(idx, None, k=k, search_after=cursor)
                .orderBy("rank")
                .collect()
            ]
            if not page:
                break
            out.extend(page)
            cursor = (page[-1][1], page[-1][0])
            pages += 1
        return out

    def test_sub6dp_boundary_neither_skipped_nor_repeated(self, spark):
        scores = [(1, 1.0000001), (2, 1.0000004), (3, 0.5)]
        got = self._paged_union(spark, scores, k=1)
        # every doc exactly once, in (round(score,6) desc, doc_id asc)
        assert got == [(1, 1.0000001), (2, 1.0000004), (3, 0.5)]

    def test_rounded_tie_block_larger_than_page(self, spark):
        # five docs all rounding to the same 6dp score, page size 2:
        # the cursor must walk the tie block by doc_id without loss
        scores = [(i, 2.0 + i * 1e-8) for i in range(1, 6)] + [(9, 1.0)]
        got = self._paged_union(spark, scores, k=2)
        assert [d for d, _ in got] == [1, 2, 3, 4, 5, 9]
        assert len(got) == len(set(got))

    def test_batch_cursor_sub6dp_boundary(self, spark, docs_index):
        # batch path: same contract via the rank window — page-1 ranks
        # must follow (rounded score, doc_id) so a recomputed page 2
        # starting from page 1's last row never skips a rounded tie
        from sparksearchengine_spark.operators.search import batch_search

        qdf = spark.createDataFrame(
            [(1, "dup spark merge")], "query_id long, qtext string"
        )
        all_rows = [
            (r["doc_id"], round(r["score"], 6), r["rank"])
            for r in batch_search(docs_index, qdf, k=100, field="text")
            .orderBy("rank")
            .collect()
        ]
        # the window order must agree with (rounded desc, doc_id asc)
        expect = sorted(all_rows, key=lambda t: (-t[1], t[0]))
        assert [t[0] for t in all_rows] == [t[0] for t in expect]


class TestRankOrderUlpTie:
    """One rank order for every query operator: scores equal at 6 dp are
    ties broken by doc_id ascending, even when the two float sums differ
    in the last ulp and the larger one sits on the larger doc_id."""

    LOW, HIGH = 2.573396, 2.5733960000000004  # 1 ulp apart

    def test_shared_ranking(self, spark):
        import math

        from sparksearchengine_spark.operators.search import (
            _rank_order,
            ranked_topk,
            topk_per_group,
        )

        assert self.HIGH - self.LOW == math.ulp(self.LOW)
        hits = spark.createDataFrame(
            [(1, 3, self.HIGH), (1, 1, self.LOW)],
            "query_id long, doc_id long, score double",
        )
        per_query = topk_per_group(hits, ["query_id"], _rank_order(), k=2)
        single = ranked_topk(hits, _rank_order(), 2)
        for ranked in (per_query, single):
            assert [
                r["doc_id"] for r in ranked.orderBy("rank").collect()
            ] == [1, 3]

    def test_dsl_operators_and_search(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.functions.scoring import (
            ScoringConfig,
            register_scorer,
        )
        from sparksearchengine_spark.plans.ast import Q
        from sparksearchengine_spark.plans.serde import query_to_json

        # every posting scores exactly 1.0, so the Or's term weights are
        # the scores: doc 3 sums 0.1 + 0.2 = 0.30000000000000004 and
        # doc 1 scores 0.3 — one ulp lower, equal at 6 dp
        register_scorer("unit_ulp", lambda tf, dl, df_t, n, avgdl: tf * 0 + 1.0)
        docs = spark.createDataFrame(
            [(1, "c"), (3, "a b"), (5, "z")], "doc_id long, text string"
        )
        idx = Corpus(
            docs, id_col="doc_id",
            text_cols={"text": TextOptions(analyzer="simple")},
        ).build_index(scoring=ScoringConfig(similarity="unit_ulp"))
        t = Q.field("text")
        q = (
            t.match_term("a").boost(0.1)
            | t.match_term("b").boost(0.2)
            | t.match_term("c").boost(0.3)
        )
        try:
            batch = idx.batch_search_dsl([(7, q)], k=2).orderBy("rank")
            rows = [(r["doc_id"], r["score"]) for r in batch.collect()]
            assert [d for d, _ in rows] == [1, 3]
            assert rows[1][1] > rows[0][1]  # the fixture's ulp pair
            other = spark.createDataFrame(
                [(7, query_to_json(q))], "qid long, q string"
            )
            joined = idx.query_join_dsl(
                other, query_col="q", k=2, other_id_col="qid"
            ).orderBy("rank")
            assert [r["match_doc_id"] for r in joined.collect()] == [1, 3]
            single = idx.search(q, k=2).orderBy("rank")
            assert [r["doc_id"] for r in single.collect()] == [1, 3]
        finally:
            idx.release_caches()
            idx.unpersist()


class TestMatchedTermsProbe:
    """The multi-term expansion (vocabulary terms matching a pattern
    batch) has data-dependent cardinality — 'a*' on a web-corpus
    vocabulary can expand to 1e8 terms — so its join side is probed,
    never broadcast unconditionally."""

    def test_hint_data_side_directions(self, spark):
        from sparksearchengine_spark.operators.search import (
            _hint_data_side,
        )

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(50)], "id long, term string"
        )
        big = spark.range(10).select(
            F.col("id"), F.concat(F.lit("x"), F.col("id")).alias("term")
        )
        small_joined = big.join(_hint_data_side(df, max_rows=1000), "id")
        plan = small_joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        forced = big.join(_hint_data_side(df, max_rows=10), "id")
        plan2 = forced._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan2, plan2
        assert "BroadcastHashJoin" not in plan2, plan2

    def test_wildcard_results_unchanged(self, tiny_index):
        # the probed path returns the same docs as ever
        from sparksearchengine_spark.plans.ast import Q

        got = sorted(
            r["doc_id"]
            for r in tiny_index.search(
                Q.field("text").match_wildcard("a*"), k=10
            ).collect()
        )
        assert got == [1, 2]
