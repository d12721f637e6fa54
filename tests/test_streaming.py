"""Structured Streaming: windowed aggregation with watermark, session
windows, and incremental index maintenance via foreachBatch."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def doc_stream_dir(spark, tmp_path):
    """Two parquet 'arrivals' under one stream directory."""
    d = str(tmp_path / "stream_in")
    spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(3, "b b c c")], "doc_id long, text string"
    ).write.mode("append").parquet(d)
    return d


class TestIncrementalIndex:
    def test_streamed_postings_match_batch_build(
        self, spark, tmp_path, doc_stream_dir, tiny_corpus, tiny_index
    ):
        from sparksearchengine_spark.streaming import (
            incremental_index,
            load_incremental_index,
            read_document_stream,
        )

        idx_path = str(tmp_path / "idx")
        stream = read_document_stream(spark, doc_stream_dir)
        assert stream.isStreaming
        q = incremental_index(stream, idx_path)
        q.awaitTermination(120)

        # the streamed postings equal the batch build over the same rows
        batch_postings = {
            (r["term"], r["doc_id"], r["tf"], r["dl"], tuple(r["positions"]))
            for r in tiny_index.postings.collect()
        }
        streamed = spark.read.parquet(f"{idx_path}/postings")
        got = {
            (r["term"], r["doc_id"], r["tf"], r["dl"], tuple(r["positions"]))
            for r in streamed.collect()
        }
        assert got == batch_postings

        # and the loaded index answers queries like the batch one
        from sparksearchengine_spark import Q

        loaded = load_incremental_index(spark, idx_path, tiny_corpus)
        a = tiny_index.search(Q.field("text").match_term("a"), k=5).collect()
        b = loaded.search(Q.field("text").match_term("a"), k=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_replayed_batch_is_idempotent(self, spark, tmp_path, doc_stream_dir):
        """foreachBatch is at-least-once: a replayed micro-batch must
        REPLACE its postings (per-batch_id overwrite), never double-append
        them — double-appends inflate tf/df_t and corrupt scores."""
        from sparksearchengine_spark.streaming import (
            incremental_index,
            read_document_stream,
        )

        idx_path = str(tmp_path / "idx_replay")
        q = incremental_index(
            read_document_stream(spark, doc_stream_dir),
            idx_path, checkpoint=str(tmp_path / "cp1"),
        )
        q.awaitTermination(120)
        first = spark.read.parquet(f"{idx_path}/postings").count()
        # lost-checkpoint replay: same input reprocessed with the same
        # batch ids into the same output dir
        q2 = incremental_index(
            read_document_stream(spark, doc_stream_dir),
            idx_path, checkpoint=str(tmp_path / "cp2"),
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(f"{idx_path}/postings").count() == first


class TestCompaction:
    def _ingest(self, spark, tmp_path, rows):
        """Append one arrival to a shared stream dir and drain it with the
        SAME checkpoint — batch ids advance (0, 1, ...) like a real
        long-running ingest."""
        from sparksearchengine_spark.streaming import (
            incremental_index,
            read_document_stream,
        )

        d = str(tmp_path / "in_c")
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("append").parquet(d)
        idx_path = str(tmp_path / "idx_c")
        q = incremental_index(
            read_document_stream(spark, d), idx_path,
            checkpoint=str(tmp_path / "cp_c"),
        )
        q.awaitTermination(120)
        return idx_path

    def test_latest_wins_and_layout_is_flat(self, spark, tmp_path):
        import os

        from sparksearchengine_spark import Q
        from sparksearchengine_spark.streaming.stream import (
            compact_incremental_index,
            load_incremental_index,
        )

        # batch 0: docs 1,2 — batch 1 RE-INGESTS doc 1 with new text.
        # Separate stream dirs share one index dir: two batch_id dirs.
        idx_path = self._ingest(spark, tmp_path, [(1, "a b a"), (2, "a c")])
        self._ingest(spark, tmp_path, [(1, "c c d")])

        corpus = spark.createDataFrame(
            [(1, "c c d"), (2, "a c")], "doc_id long, text string"
        )
        out = str(tmp_path / "compacted")
        idx = compact_incremental_index(
            spark, idx_path, out, corpus, term_buckets=2
        )
        # updated doc: 'a' postings from batch 0's doc 1 must be gone
        a_hits = sorted(
            r["doc_id"]
            for r in idx.compile(Q.field("text").match_term("a")).collect()
        )
        assert a_hits == [2]
        c_hits = sorted(
            r["doc_id"]
            for r in idx.compile(Q.field("text").match_term("c")).collect()
        )
        assert c_hits == [1, 2]
        # no batch_id dirs in the compacted layout (term buckets instead)
        subdirs = os.listdir(os.path.join(out, "postings"))
        assert not any(s.startswith("batch_id=") for s in subdirs)
        assert any(s.startswith("_tbucket=") for s in subdirs)
        # keep='all' (load_incremental_index) is append-only: BOTH
        # versions of doc 1 coexist (a,b from batch 0 + c,d from batch 1)
        allidx = load_incremental_index(spark, idx_path, corpus)
        assert allidx.postings.where("doc_id = 1").count() == 4
        assert idx.postings.where("doc_id = 1").count() == 2


class TestWindowedAggregation:
    def test_tumbling_counts_batch_parity(self, spark):
        from sparksearchengine_spark.streaming import windowed_event_counts

        events = spark.createDataFrame(
            [
                ("2024-01-01 00:10:00", "click", 1.0),
                ("2024-01-01 00:50:00", "click", 2.0),
                ("2024-01-01 01:10:00", "view", 3.0),
            ],
            "ts_s string, event_type string, value double",
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
        out = windowed_event_counts(events, window="1 hour").collect()
        got = {
            (str(r["window_start"]), r["event_type"]): (r["cnt"], r["sum_value"])
            for r in out
        }
        assert got == {
            ("2024-01-01 00:00:00", "click"): (2, 3.0),
            ("2024-01-01 01:00:00", "view"): (1, 3.0),
        }

    def test_streaming_windowed_counts(self, spark, tmp_path):
        from sparksearchengine_spark.streaming import windowed_event_counts

        d = str(tmp_path / "ev_in")
        spark.createDataFrame(
            [
                ("2024-01-01 00:10:00", "click"),
                ("2024-01-01 00:20:00", "click"),
                ("2024-01-01 01:05:00", "view"),
            ],
            "ts_s string, event_type string",
        ).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
        ).write.parquet(d)

        stream = (
            spark.readStream.format("parquet")
            .schema("ts timestamp, event_type string")
            .load(d)
        )
        agg = windowed_event_counts(stream, window="1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from win_counts").collect()
        got = {(str(r["window_start"]), r["event_type"]): r["cnt"] for r in rows}
        assert got == {
            ("2024-01-01 00:00:00", "click"): 2,
            ("2024-01-01 01:00:00", "view"): 1,
        }


class TestStreamBatchEquivalence:
    """The SAME windowed plan, executed incrementally through Structured
    Streaming over the real sf0.001 events file, must produce the batch
    plan's exact rows — this pins incremental execution (state store agg,
    availableNow drain), not just plan shape."""

    def test_sf0001_windowed_counts_and_trending_stream_equal_batch(
        self, spark, tmp_path
    ):
        import os

        from pyspark.sql import Window

        from sparksearchengine_spark.streaming import (
            trending_keys,
            windowed_event_counts,
        )

        # file-stream sources take a directory: symlink the read-only
        # testdata file into one
        d = tmp_path / "events_dir"
        d.mkdir()
        os.symlink(
            "/root/testdata/sf0.001/events.parquet", str(d / "part-0.parquet")
        )
        raw = spark.read.parquet(str(d))
        # the file stores TIMESTAMP_NTZ; watermarks require TIMESTAMP —
        # the identical cast on both the batch and stream plans keeps the
        # comparison exact whatever the session timezone is
        to_ts = lambda df: df.withColumn("ts", F.col("ts").cast("timestamp"))  # noqa: E731
        ev = to_ts(raw)

        stream = to_ts(spark.readStream.schema(raw.schema).parquet(str(d)))
        agg = windowed_event_counts(stream, window="1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("sf_wec_eq")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.table("sf_wec_eq")

        def ckey(rows):
            return sorted(
                (
                    str(r["window_start"]),
                    str(r["window_end"]),
                    r["event_type"],
                    r["cnt"],
                    None if r["sum_value"] is None else round(r["sum_value"], 6),
                )
                for r in rows
            )

        batch_rows = ckey(windowed_event_counts(ev, window="1 hour").collect())
        stream_rows = ckey(streamed.collect())
        assert len(batch_rows) > 0
        assert stream_rows == batch_rows

        # trending = rank over the counts rollup; on a stream the rank runs
        # over the windowed-counts sink (the documented foreachBatch shape).
        # Applying it to the STREAMED counts must equal the batch plan.
        w = Window.partitionBy("window_start").orderBy(
            F.col("cnt").desc(), F.col("event_type").asc()
        )
        stream_trend = (
            streamed.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
        )
        tkey = lambda rows: sorted(  # noqa: E731
            (str(r["window_start"]), r["event_type"], r["cnt"], r["rank"])
            for r in rows
        )
        assert tkey(stream_trend.collect()) == tkey(
            trending_keys(ev, window="1 hour", k=3).collect()
        )


class TestStatefulOperator:
    def test_running_user_stats_across_batches(self, spark, tmp_path):
        from sparksearchengine_spark.streaming import running_user_stats

        d = str(tmp_path / "st_in")
        spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
        ).write.mode("append").parquet(d)
        spark.createDataFrame(
            [(1, 7.0)], "user_id long, value double"
        ).write.mode("append").parquet(d)

        stream = (
            spark.readStream.format("parquet")
            .schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")  # force multiple batches
            .load(d)
        )
        out = running_user_stats(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("user_stats")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # processing-time timeouts keep the availableNow query running
        # no-data batches forever: wait until every written row has been
        # processed, then stop it
        seen: dict = {}
        deadline = time.monotonic() + 120
        try:
            while sum(seen.values()) < 4 and time.monotonic() < deadline:
                for p in q.recentProgress:
                    seen[p["batchId"]] = p["numInputRows"]
                time.sleep(0.2)
        finally:
            q.stop()
        rows = spark.sql("select * from user_stats").collect()
        # the LAST emitted row per user carries the running totals across
        # all batches: user 1 saw 10+5+7, user 2 saw 1
        final: dict = {}
        for r in rows:
            final[r["user_id"]] = (r["n_events"], r["sum_value"], r["max_value"])
        assert final[1] == (3, 22.0, 10.0)
        assert final[2] == (1, 1.0, 1.0)


class TestSessionization:
    def test_gap_sessions(self, spark):
        from sparksearchengine_spark.streaming import sessionize

        events = spark.createDataFrame(
            [
                ("2024-01-01 00:00:00", 1),
                ("2024-01-01 00:10:00", 1),   # same session (gap 10m < 30m)
                ("2024-01-01 01:00:00", 1),   # new session (gap 50m)
                ("2024-01-01 00:05:00", 2),
            ],
            "ts_s string, user_id int",
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
        out = sessionize(events, gap="30 minutes").collect()
        per_user: dict = {}
        for r in out:
            per_user.setdefault(r["user_id"], []).append(r["n_events"])
        assert sorted(per_user[1]) == [1, 2]
        assert per_user[2] == [1]


class TestStreamDedup:
    """dedup_stream: exact-dup rows dropped across micro-batches with
    hash-only state."""

    def _run(self, spark, tmp_path, in_dir, **kwargs):
        from sparksearchengine_spark.streaming import dedup_stream

        src = (
            spark.readStream.format("parquet")
            .schema("doc_id bigint, text string, ts timestamp")
            .load(in_dir)
        )
        out_dir = str(tmp_path / "dedup_out")
        q = (
            dedup_stream(src, **kwargs)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "dedup_cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    def test_duplicates_dropped_within_watermark(self, spark, tmp_path):
        d = str(tmp_path / "in")
        rows = [
            (1, "same text", "2024-01-01 10:00:00"),
            (2, "same text", "2024-01-01 10:05:00"),  # dup, inside window
            (3, "other text", "2024-01-01 10:10:00"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts")
        ).write.mode("append").parquet(d)
        out = self._run(
            spark, tmp_path, d, ts_col="ts", watermark="1 hour"
        )
        texts = sorted(r["text"] for r in out.collect())
        assert texts == ["other text", "same text"]
        assert set(out.columns) == {"doc_id", "text", "ts"}

    def test_unbounded_fallback_without_ts(self, spark, tmp_path):
        d = str(tmp_path / "in2")
        spark.createDataFrame(
            [(1, "x y", None), (2, "x y", None), (3, "z", None)],
            "doc_id long, text string, ts timestamp",
        ).write.mode("append").parquet(d)
        out = self._run(spark, tmp_path, d)
        assert out.count() == 2

    def test_null_text_rows_group_together(self, spark, tmp_path):
        d = str(tmp_path / "in3")
        spark.createDataFrame(
            [(1, None, None), (2, None, None)],
            "doc_id long, text string, ts timestamp",
        ).write.mode("append").parquet(d)
        out = self._run(spark, tmp_path, d)
        assert out.count() == 1


class TestTrendingKeys:
    def test_topk_per_window(self, spark):
        from sparksearchengine_spark.streaming import trending_keys

        rows = [
            ("2024-01-01 10:05:00", "a"), ("2024-01-01 10:10:00", "a"),
            ("2024-01-01 10:15:00", "b"),
            ("2024-01-01 11:05:00", "c"),
        ]
        ev = spark.createDataFrame(rows, "ts string, event_type string").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        out = trending_keys(ev, k=1).collect()
        by_win = {r["window_start"].hour: r for r in out}
        assert by_win[10]["event_type"] == "a" and by_win[10]["cnt"] == 2
        assert by_win[11]["event_type"] == "c"
        assert all(r["rank"] == 1 for r in out)

    def test_tie_broken_by_key(self, spark):
        from sparksearchengine_spark.streaming import trending_keys

        rows = [("2024-01-01 10:05:00", "z"), ("2024-01-01 10:06:00", "a")]
        ev = spark.createDataFrame(rows, "ts string, event_type string").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        out = sorted(trending_keys(ev, k=2).collect(), key=lambda r: r["rank"])
        assert [r["event_type"] for r in out] == ["a", "z"]


class TestStatelessCurationOnStreams:
    """The scan-stage rule sets (Gopher / C4 / PII) are stateless row
    transforms, so they must run unchanged on a readStream source and
    produce the batch plan's exact rows — curation-at-ingest for free."""

    def test_gopher_and_c4_stream_equal_batch(self, spark, tmp_path):
        import os

        from sparksearchengine_spark.operators.textstats import (
            c4_filters,
            gopher_rules,
        )

        d = tmp_path / "docs_dir"
        d.mkdir()
        os.symlink(
            "/root/testdata/sf0.001/documents.parquet",
            str(d / "part-0.parquet"),
        )
        raw = spark.read.parquet(str(d))
        stream = spark.readStream.schema(raw.schema).parquet(str(d))

        for name, op in (
            ("gq_eq", gopher_rules),
            ("cq_eq", c4_filters),
        ):
            q = (
                op(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = sorted(
                map(tuple, spark.sql(f"SELECT * FROM {name}").collect())
            )
            want = sorted(map(tuple, op(raw).collect()))
            assert got == want and len(got) > 0

    def test_classifier_score_stream_equal_batch(self, spark, tmp_path):
        """The hashed linear classifier is a single scan-stage fold —
        quality-model inference must run at ingest identically."""
        import os

        from sparksearchengine_spark.operators.classify import (
            classifier_score,
        )

        d = tmp_path / "docs_clf_dir"
        d.mkdir()
        os.symlink(
            "/root/testdata/sf0.001/documents.parquet",
            str(d / "part-0.parquet"),
        )
        raw = spark.read.parquet(str(d))
        stream = spark.readStream.schema(raw.schema).parquet(str(d))
        w = [((i * 7) % 13) - 6 for i in range(64)]
        q = (
            classifier_score(stream, w, threshold=0)
            .writeStream.format("memory")
            .queryName("clf_eq")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql("SELECT * FROM clf_eq").collect()))
        want = sorted(map(tuple, classifier_score(raw, w, threshold=0).collect()))
        assert got == want and len(got) > 0

    def test_neardup_filter_stream_equals_batch(self, spark, tmp_path):
        """Stream-vs-static near-dedup: the foreachBatch LSH filter must
        land exactly the rows the batch anti-join keeps."""
        import os

        from sparksearchengine_spark.operators.dedup import (
            minhash_lsh_join,
        )
        from sparksearchengine_spark.streaming import (
            neardup_filter_stream,
        )

        d = tmp_path / "docs_nd_dir"
        d.mkdir()
        os.symlink(
            "/root/testdata/sf0.001/documents.parquet",
            str(d / "part-0.parquet"),
        )
        raw = spark.read.parquet(str(d))
        # static reference = the high-id half; the stream carries dups
        # of it (the synthetic corpus repeats texts across ids)
        corpus = raw.where("doc_id >= 250")
        stream = spark.readStream.schema(raw.schema).parquet(str(d))
        out = str(tmp_path / "nd_out")
        q = neardup_filter_stream(
            stream, corpus, out, threshold=0.8,
            checkpoint=str(tmp_path / "nd_ckpt"),
        )
        q.awaitTermination(180)
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
        matches = (
            minhash_lsh_join(raw, corpus, threshold=0.8)
            .select(F.col("id_l").alias("doc_id"))
            .distinct()
        )
        want = sorted(
            r["doc_id"]
            for r in raw.join(matches, "doc_id", "left_anti").collect()
        )
        assert got == want
        assert 0 < len(got) < raw.count()  # some rows were dropped


class TestPercolateStream:
    """Standing-query percolation: streamed verdicts must equal the same
    match semantics computed in batch over the same docs."""

    QUERIES = [
        (1, "dup spark"),       # matchAny by default
        (2, "zzz_nowhere"),     # matches nothing
        (3, "the data"),
    ]

    def _run(self, spark, tmp_path, require_all=False, msm=1):
        from sparksearchengine_spark.streaming.stream import (
            percolate_stream,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        d = str(tmp_path / "perc_in")
        docs.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        qdf = spark.createDataFrame(
            self.QUERIES, "query_id long, query_text string"
        )
        out = str(tmp_path / f"perc_out_{require_all}_{msm}")
        from sparksearchengine_spark.streaming.stream import (
            _percolator_caches,
            release_percolator_caches,
        )

        q = percolate_stream(
            stream, qdf, out,
            require_all=require_all, min_should_match=msm,
            checkpoint=str(tmp_path / f"cp_{require_all}_{msm}"),
        )
        q.awaitTermination(120)
        # the standing-term cache must be registered and releasable —
        # no leaked cached blocks after the query terminates (ADVICE r3)
        assert len(_percolator_caches) >= 1
        cached = _percolator_caches[-1]
        release_percolator_caches()
        assert not _percolator_caches
        assert cached.storageLevel.useMemory is False
        return spark.read.parquet(out).select(
            "query_id", "doc_id", "n_matched"
        )

    def _batch(self, spark, require_all=False, msm=1):
        from pyspark.sql import functions as F

        from sparksearchengine_spark.functions.analyzers import (
            analyzer_expr,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        qdf = spark.createDataFrame(
            self.QUERIES, "query_id long, query_text string"
        )
        dt = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(analyzer_expr(F.col("text"), "simple"))
            ).alias("term"),
        )
        qt = qdf.select(
            "query_id",
            F.size(
                F.array_distinct(
                    analyzer_expr(F.col("query_text"), "simple")
                )
            ).alias("_nq"),
            F.explode(
                F.array_distinct(
                    analyzer_expr(F.col("query_text"), "simple")
                )
            ).alias("term"),
        )
        agg = dt.join(qt, "term").groupBy("query_id", "doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.first("_nq").alias("_nq"),
        )
        if require_all:
            agg = agg.where(F.col("n_matched") == F.col("_nq"))
        elif msm > 1:
            agg = agg.where(F.col("n_matched") >= msm)
        return agg.select("query_id", "doc_id", "n_matched")

    def test_streamed_equals_batch_match_any(self, spark, tmp_path):
        got = sorted(map(tuple, self._run(spark, tmp_path).collect()))
        want = sorted(map(tuple, self._batch(spark).collect()))
        assert got == want and len(want) > 0

    def test_require_all_semantics(self, spark, tmp_path):
        got = sorted(
            map(tuple, self._run(spark, tmp_path, require_all=True).collect())
        )
        want = sorted(
            map(tuple, self._batch(spark, require_all=True).collect())
        )
        assert got == want
        # matchAll is strictly narrower than matchAny here
        assert len(got) < len(
            sorted(map(tuple, self._batch(spark).collect()))
        )

    def test_no_match_query_absent(self, spark, tmp_path):
        out = self._run(spark, tmp_path)
        assert out.where("query_id = 2").count() == 0


class TestPercolateDsl:
    """Full-DSL percolation (r6): standing queries are arbitrary ASTs;
    matches = the per-query compiled match set, scores included."""

    def _queries(self):
        from sparksearchengine_spark import F_, Q

        f = Q.field("text")
        return [
            (1, f.match_term("dup")),
            (2, f.match_phrase("table hash")),
            (3, f.match_all("dup", "spark") & F_.gt("doc_id", 100)),
            (4, f.match_term("zzz_nowhere")),
        ]

    def test_matches_per_query_compile(self, spark):
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.operators.search import percolate_dsl

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        idx = Corpus(
            docs, id_col="doc_id",
            text_cols={"text": TextOptions(positions=True)},
        ).build_index()
        got: dict = {}
        for r in percolate_dsl(idx, self._queries()).collect():
            got.setdefault(r.query_id, set()).add(
                (r.doc_id, round(r.score, 6))
            )
        for qid, q in self._queries():
            want = {
                (r.doc_id, round(r.score, 6))
                for r in idx.compile(q).collect()
            }
            assert got.get(qid, set()) == want, f"query {qid}"
        assert 4 not in got  # no-match query contributes no rows

    def test_streamed_equals_batch(self, spark, tmp_path):
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.operators.search import percolate_dsl
        from sparksearchengine_spark.streaming.stream import (
            percolate_stream_dsl,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        d = str(tmp_path / "pdsl_in")
        docs.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        out = str(tmp_path / "pdsl_out")
        tc = {"text": TextOptions(positions=True)}
        q = percolate_stream_dsl(
            stream, self._queries(), out, text_cols=tc,
            checkpoint=str(tmp_path / "pdsl_cp"),
        )
        q.awaitTermination(120)
        got = sorted(
            (r.query_id, r.doc_id, round(r.score, 6))
            for r in spark.read.parquet(out).collect()
        )
        idx = Corpus(docs, id_col="doc_id", text_cols=tc).build_index()
        want = sorted(
            (r.query_id, r.doc_id, round(r.score, 6))
            for r in percolate_dsl(idx, self._queries()).collect()
        )
        assert got == want and len(want) > 0

    def test_registry_table_stream_equals_list(self, spark, tmp_path):
        # r7: the standing-query registry as a TABLE of serialized
        # trees — streamed matches must equal the driver-list stream's
        from sparksearchengine_spark import Corpus, TextOptions
        from sparksearchengine_spark.operators.search import percolate_dsl
        from sparksearchengine_spark.plans.serde import query_to_json
        from sparksearchengine_spark.streaming.stream import (
            percolate_stream_registry,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        d = str(tmp_path / "preg_in")
        docs.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        out = str(tmp_path / "preg_out")
        tc = {"text": TextOptions(positions=True)}
        reg = spark.createDataFrame(
            [(i, query_to_json(q)) for i, q in self._queries()],
            "query_id long, query string",
        )
        q = percolate_stream_registry(
            stream, reg, out, text_cols=tc,
            checkpoint=str(tmp_path / "preg_cp"),
        )
        q.awaitTermination(120)
        got = sorted(
            (r.query_id, r.doc_id, round(r.score, 6))
            for r in spark.read.parquet(out).collect()
        )
        idx = Corpus(docs, id_col="doc_id", text_cols=tc).build_index()
        want = sorted(
            (r.query_id, r.doc_id, round(r.score, 6))
            for r in percolate_dsl(idx, self._queries()).collect()
        )
        assert got == want and len(want) > 0


class TestNeardupPreparedCorpus:
    """r12: neardup_filter_stream(prepared=) — restart-cheap streaming
    dedup off a saved/loaded LshCorpus."""

    def test_prepared_equals_inline_prepare(self, spark, tmp_path):
        import os

        from sparksearchengine_spark.operators.dedup import (
            load_lsh_corpus,
            prepare_lsh_corpus,
            save_lsh_corpus,
        )
        from sparksearchengine_spark.streaming import neardup_filter_stream

        d = tmp_path / "docs_ndp_dir"
        d.mkdir()
        os.symlink(
            "/root/testdata/sf0.001/documents.parquet",
            str(d / "part-0.parquet"),
        )
        raw = spark.read.parquet(str(d))
        corpus = raw.where("doc_id >= 250")
        # the durable path: prepare -> save -> load (as a restarted
        # job would) -> stream against the LOADED corpus
        save_lsh_corpus(
            prepare_lsh_corpus(corpus), str(tmp_path / "ndp_corpus")
        )
        loaded = load_lsh_corpus(spark, str(tmp_path / "ndp_corpus"))
        stream = spark.readStream.schema(raw.schema).parquet(str(d))
        out_p = str(tmp_path / "ndp_out_prepared")
        q = neardup_filter_stream(
            stream, None, out_p, threshold=0.8,
            checkpoint=str(tmp_path / "ndp_ckpt1"), prepared=loaded,
        )
        q.awaitTermination(180)
        stream2 = spark.readStream.schema(raw.schema).parquet(str(d))
        out_i = str(tmp_path / "ndp_out_inline")
        q2 = neardup_filter_stream(
            stream2, corpus, out_i, threshold=0.8,
            checkpoint=str(tmp_path / "ndp_ckpt2"),
        )
        q2.awaitTermination(180)
        got = sorted(r["doc_id"] for r in spark.read.parquet(out_p).collect())
        want = sorted(r["doc_id"] for r in spark.read.parquet(out_i).collect())
        assert got == want and 0 < len(got) < raw.count()
        loaded.unpersist()

    def test_validation(self, spark, tmp_path):
        import pytest as _pytest

        from sparksearchengine_spark.operators.dedup import (
            prepare_lsh_corpus,
        )
        from sparksearchengine_spark.streaming import neardup_filter_stream

        raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        stream = spark.readStream.schema(raw.schema).parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        with _pytest.raises(ValueError, match="corpus_df or prepared"):
            neardup_filter_stream(stream, None, str(tmp_path / "x"))
        with _pytest.raises(TypeError, match="LshCorpus"):
            neardup_filter_stream(
                stream, None, str(tmp_path / "x"), prepared=object()
            )
        corp = prepare_lsh_corpus(raw.limit(20), num_hashes=32, bands=8)
        with _pytest.raises(ValueError, match="disjoint buckets"):
            neardup_filter_stream(
                stream, None, str(tmp_path / "x"), prepared=corp,
                num_hashes=64, bands=16,
            )
        corp.unpersist()
