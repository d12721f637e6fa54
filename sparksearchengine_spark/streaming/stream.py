"""Structured Streaming operators: streaming ingest, windowed aggregation,
sessionization, and incremental index maintenance.

The reference predates Structured Streaming entirely (Spark 1.6; SURVEY
§2.9 "Streaming: none"), so this module is pure north-star surface. Design
rules at 100 TB:

* sources are file streams (``readStream.format("parquet")``) or any
  rate/kafka-style source the deployment provides — everything downstream
  is source-agnostic;
* event-time windows always carry a watermark so state is bounded;
* sessionization uses the built-in ``session_window`` (JVM state store) —
  no Python-state operator needed for gap sessions;
* incremental indexing appends per-batch postings via ``foreachBatch``:
  ``stream_postings`` below builds them with the batch index build's own
  tokenize/explode/aggregate (``functions/analyzers.py::postings_rows``;
  ``TestIncrementalIndex`` asserts streamed and batch-built postings are
  row-identical for the same rows). Global stats (df_t, avgdl) are NOT
  maintained per-microbatch (a streaming global aggregate would rewrite
  the whole stats table every batch); they are recomputed lazily from the
  postings table at query time — the classic refresh-on-read tradeoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sparksearchengine_spark.functions.analyzers import (
    analyzer_expr,
    explode_tokens,
    postings_rows,
)

# standing-query term tables persisted by prepare_percolator, released by
# release_percolator_caches() — mirrors SearchIndex._phrase_caches
# (operators/index.py:301) so long sessions don't accumulate cached
# blocks (ADVICE r3)
_percolator_caches: list[DataFrame] = []


def release_percolator_caches() -> None:
    """Unpersist every standing-query table cached by
    :func:`prepare_percolator` in this session. Call after the
    percolation streaming query terminates."""
    for df in _percolator_caches:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _percolator_caches.clear()


def read_document_stream(
    spark, path: str, schema: str = "doc_id bigint, text string"
) -> DataFrame:
    """File-based document stream: new parquet files under ``path`` become
    micro-batches. The scale path for continuous corpus ingestion."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with bounded state.

    (window_start, window_end, key, cnt, sum_value?) — late rows beyond the
    watermark are dropped by the state store, so executor state is
    O(windows-in-flight × keys), independent of stream length.
    """
    agg_cols = [F.count(F.lit(1)).alias("cnt")]
    if "value" in events.columns:
        agg_cols.append(F.sum("value").alias("sum_value"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(*agg_cols)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            *[c for c in ("cnt", "sum_value") if c == "cnt" or "value" in events.columns],
        )
    )


def trending_keys(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    k: int = 3,
    watermark: str = "2 hours",
) -> DataFrame:
    """Top-``k`` keys per event-time window by count — the "trending now"
    rollup: ``(window_start, window_end, key, cnt, rank)``.

    Composition: ``windowed_event_counts`` then a rank window PARTITIONED
    BY the time window (ties → key asc, deterministic). Counts shrink the
    stream to O(windows × keys) BEFORE the rank, so the sort is over the
    rollup, never the raw events.

    Rank windows are not allowed on an unterminated streaming plan
    (Spark's unsupported-operations rule), so on a stream run this inside
    ``foreachBatch`` over the windowed-counts sink — the batch plan here
    is exactly that plan; on at-rest events it runs as-is.
    """
    from pyspark.sql import Window

    counts = windowed_event_counts(
        events, ts_col=ts_col, key_col=key_col, window=window,
        watermark=watermark,
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col(key_col).asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("window_start", "window_end", key_col, "cnt", "rank")
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessions via the built-in ``session_window`` — merges
    events per key whose gaps are < ``gap`` into one growing window.
    (key, session_start, session_end, n_events). Works identically on a
    batch DataFrame (no watermark needed there), which is how the tests
    and the DuckDB oracle check it.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_postings(
    docs_stream: DataFrame,
    field: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "simple",
    positions: bool = True,
) -> DataFrame:
    """Tokenize a document stream into per-batch postings rows — the
    streaming half of ``Corpus.build_index``: the same ``postings_rows``
    shape (field, term, doc_id, tf, dl, positions). Unlike the batch
    build there is no doc_id repartition: each micro-batch tokenizes on
    its own partitioning."""
    return postings_rows(
        docs_stream,
        F.col(id_col).cast("long"),
        analyzer_expr(F.col(field), analyzer),
        field,
        positions,
    )


def incremental_index(
    docs_stream: DataFrame,
    index_path: str,
    field: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "simple",
    positions: bool = True,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Maintain a postings table from a document stream.

    foreachBatch rather than a streaming aggregation: per-batch postings
    are complete for that batch's docs (a doc arrives whole in one file),
    so a per-batch parquet write is exact — no state store, no update
    mode, scales linearly. Exactly-once requires the batch write to be
    IDEMPOTENT under foreachBatch's at-least-once replay: each batch
    overwrites its own ``batch_id=N`` partition directory, so a replayed
    micro-batch replaces its rows instead of double-appending them
    (double-appends would inflate tf/df_t and corrupt scores).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        p = stream_postings(
            batch_df, field=field, id_col=id_col,
            analyzer=analyzer, positions=positions,
        )
        p.write.mode("overwrite").parquet(
            f"{index_path}/postings/batch_id={batch_id}"
        )

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or f"{index_path}/_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_filter_stream(
    docs_stream: DataFrame,
    corpus_df: "DataFrame | None",
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    analyzer: str = "simple",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    max_bucket_size: int | None = 8192,
    prepared: "object | None" = None,
) -> StreamingQuery:
    """Curation-at-ingest near-dedup: drop incoming documents that are
    MinHash-LSH near-duplicates (Jaccard >= threshold) of a STATIC
    reference corpus (the previous crawl, a benchmark set); survivors
    land at ``out_path``.

    foreachBatch rather than a streaming join: the per-batch frame is a
    plain DataFrame, so each micro-batch runs the batch LSH machinery
    (``operators/dedup.py`` — shared deterministic hash family, banded
    candidates, exact-Jaccard verification) and anti-joins the matches
    away. A native stream-static formulation can't express this: the
    "matched ids" side derives from the stream itself, making the final
    anti-join stream-stream (stateful, watermark-bound); per-batch it
    is exact and stateless. Exactly-once via the ``incremental_index``
    pattern — every batch overwrites its own ``batch_id=N`` directory,
    so at-least-once replays replace rather than double-append.

    The reference corpus is prepared ONCE (``prepare_lsh_corpus``:
    grams + banded signatures, persisted) and shared by every
    micro-batch — per-batch work is proportional to the BATCH, not the
    corpus, and the per-batch gram cache is unpersisted when its batch
    lands (a per-batch ``minhash_lsh_join`` would recompute the corpus
    signatures every batch and leak two cached frames per batch — r3
    review). Pass ``prepared=`` (an ``LshCorpus`` from
    ``prepare_lsh_corpus`` or ``load_lsh_corpus``) to skip even that
    one pass: with ``save_lsh_corpus`` the crawl snapshot's signatures
    are computed once EVER, not once per restart (r12).

    Note the guarantee is vs the REFERENCE corpus only: two near-dup
    docs arriving in the stream both survive unless one is also in the
    reference (use ``dedup_stream`` for in-stream exact dedup, and the
    batch operators on the landed output for the global pass).
    """
    from sparksearchengine_spark.operators.dedup import (
        LshCorpus,
        _gram_arrays,
        _widen,
        lsh_join_prepared,
        prepare_lsh_corpus,
    )

    # oversize="star" (the default): this filter only needs EXISTENCE
    # of a verified match, and a star representative of an oversized
    # corpus bucket provides exactly that — without it, one mega-bucket
    # in the reference corpus would make EVERY micro-batch quadratic
    # (r11 verdict #1)
    if prepared is not None:
        # restart-cheap path (r12): a corpus prepared earlier in this
        # session, or durably via save_lsh_corpus/load_lsh_corpus — the
        # whole-corpus signature pass is NOT re-paid per restart. The
        # corpus parameters travel with the LshCorpus; the stream's
        # n/num_hashes/bands/analyzer args must not contradict them
        # (the fresh side must hash identically or nothing ever joins).
        if not isinstance(prepared, LshCorpus):
            raise TypeError(
                "prepared must be an LshCorpus (prepare_lsh_corpus / "
                f"load_lsh_corpus output), got {type(prepared).__name__}"
            )
        if (prepared.n, prepared.num_hashes, prepared.bands,
                prepared.analyzer) != (n, num_hashes, bands, analyzer):
            raise ValueError(
                "prepared corpus parameters (n={}, num_hashes={}, "
                "bands={}, analyzer={!r}) do not match the stream's "
                "(n={}, num_hashes={}, bands={}, analyzer={!r}) — the "
                "fresh side would hash into disjoint buckets".format(
                    prepared.n, prepared.num_hashes, prepared.bands,
                    prepared.analyzer, n, num_hashes, bands, analyzer,
                )
            )
        corp = prepared
    else:
        if corpus_df is None:
            raise ValueError(
                "pass either corpus_df or prepared (an LshCorpus)"
            )
        corp = prepare_lsh_corpus(
            corpus_df, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands, analyzer=analyzer,
            max_bucket_size=max_bucket_size,
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        gl = _gram_arrays(
            _widen(batch_df), id_col, text_col, n, analyzer
        ).persist()
        gl.count()  # materialize: the band table and the Jaccard
        # verify read gl from independent stages of the batch job —
        # a cold cache tokenizes the micro-batch once per branch
        # (stage-race guard, r10)
        try:
            matches = (
                lsh_join_prepared(gl, corp, threshold)
                .select(F.col("id_l").alias(id_col))
                .distinct()
            )
            kept = batch_df.join(matches, id_col, "left_anti")
            kept.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            )
        finally:
            gl.unpersist()

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or f"{out_path}/_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    docs_stream: DataFrame,
    content_cols: list[str] | None = None,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content hash has been seen
    before, keeping the first arrival.

    The state the engine must remember is ONE 128-bit hash per distinct
    document — never the text. With ``ts_col`` given, the hash is only
    remembered for ``watermark`` of event time
    (``dropDuplicatesWithinWatermark``): bounded state, the 100 TB/day
    shape, with the documented contract that a re-crawl arriving after
    the watermark is NOT dropped (dedup the at-rest corpus with
    ``operators/dedup.py`` for the global guarantee). Without ``ts_col``
    it falls back to plain ``dropDuplicates`` — exact forever, but state
    grows with the distinct-doc count; only for bounded backfills.
    """
    content_cols = content_cols or ["text"]
    from sparksearchengine_spark.operators.dedup import _self_delimited

    # injection-proof encoding shared with the batch exact_dedup
    h = F.md5(_self_delimited(content_cols))
    hashed = docs_stream.withColumn("_content_hash", h)
    if ts_col is not None:
        out = hashed.withWatermark(ts_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["_content_hash"])
    else:
        out = hashed.dropDuplicates(["_content_hash"])
    return out.drop("_content_hash")


def running_user_stats(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    idle_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum, max) that
    survives across micro-batches, via ``applyInPandasWithState``.

    This is the escape hatch for stateful logic the built-in windowed/
    session aggregations can't express (here: unbounded running totals
    with idle-timeout state eviction). State per key is three scalars —
    O(|keys|) executor memory, partitioned by ``key_col``, so it scales
    horizontally. Works only on streaming DataFrames (Spark requires a
    streaming relation for flatMapGroupsWithState).

    Output rows (one per key per batch the key appears in, plus one final
    row when a key's state times out): (key, n_events, sum_value,
    max_value, closed).

    With processing-time timeouts the query never finishes on its own
    (even under an ``availableNow`` trigger it keeps running no-data
    batches to fire timeouts), so the caller stops it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # key type comes from the input schema — hardcoding bigint broke
    # string-keyed streams at the Arrow boundary (r3 review finding)
    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, n_events bigint, sum_value double, "
        "max_value double, closed boolean"
    )
    state_schema = "n bigint, s double, m double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (k,) = key
        if state.hasTimedOut:
            n, s, m = state.get
            state.remove()
            yield pd.DataFrame(
                [(k, n, s, m, True)],
                columns=[key_col, "n_events", "sum_value", "max_value", "closed"],
            )
            return
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += len(vals)
            s += float(vals.sum()) if len(vals) else 0.0
            m = max(m, float(vals.max())) if len(vals) else m
        state.update((n, s, m))
        state.setTimeoutDuration(int(idle_timeout_ms))
        yield pd.DataFrame(
            [(k, n, s, m, False)],
            columns=[key_col, "n_events", "sum_value", "max_value", "closed"],
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _index_over_postings(postings: DataFrame, corpus_df: DataFrame,
                         id_col: str, field: str, analyzer: str):
    """SearchIndex over an externally-produced postings table, recomputing
    the global termstats/fieldstats from it."""
    from sparksearchengine_spark.functions.analyzers import TextOptions
    from sparksearchengine_spark.functions.scoring import ScoringConfig
    from sparksearchengine_spark.operators.index import Corpus, SearchIndex

    corpus = Corpus(
        corpus_df, id_col=id_col, text_cols={field: TextOptions(analyzer=analyzer)}
    )
    return SearchIndex._from_postings(
        corpus, postings, ScoringConfig(), persist=False
    )


def load_incremental_index(spark, index_path: str, corpus_df: DataFrame,
                           id_col: str = "doc_id", field: str = "text",
                           analyzer: str = "simple"):
    """Open a streamed postings table as a queryable SearchIndex, computing
    global stats on read (see module docstring for the tradeoff).

    Append-only semantics: every batch's postings count. If docs can be
    RE-ingested (updates), run :func:`compact_incremental_index` with
    ``keep='latest'`` — here a re-ingested doc would double-count."""
    # partition discovery surfaces the per-batch batch_id dirs as a
    # column; drop it — it's a write-idempotency detail, not index schema
    postings = spark.read.parquet(f"{index_path}/postings")
    if "batch_id" in postings.columns:
        postings = postings.drop("batch_id")
    return _index_over_postings(postings, corpus_df, id_col, field, analyzer)


def compact_incremental_index(
    spark,
    index_path: str,
    out_path: str,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    field: str = "text",
    analyzer: str = "simple",
    term_buckets: int | None = None,
    keep: str = "latest",
) -> "object":
    """Compact a streamed ``batch_id=N`` postings layout into the durable
    SearchIndex layout and return the loaded index.

    Two scale problems this solves for a long-running ingest stream:

    * **small files** — one directory per micro-batch means a day of
      1-minute triggers leaves ~1.4k directories of KB-sized files; scans
      pay per-file open cost. The rewrite merges them into the same
      layout ``SearchIndex.save`` produces (optionally term-bucketed, so
      term queries prune at the scan).
    * **update semantics** — ``keep='latest'``: a doc re-ingested in a
      later batch REPLACES its earlier postings (max batch_id per doc
      wins; one doc_id-keyed window, one shuffle). ``keep='all'``
      preserves load_incremental_index's append-only semantics.

    The stream can keep writing new batches to ``index_path`` while the
    compacted snapshot serves queries from ``out_path``.
    """
    from pyspark.sql import Window

    from sparksearchengine_spark.operators.index import SearchIndex

    postings = spark.read.parquet(f"{index_path}/postings")
    if "batch_id" in postings.columns:
        if keep == "latest":
            w = Window.partitionBy("doc_id")
            postings = (
                postings.withColumn("_maxb", F.max("batch_id").over(w))
                .where(F.col("batch_id") == F.col("_maxb"))
                .drop("_maxb")
            )
        elif keep != "all":
            raise ValueError(f"keep must be 'latest' or 'all', got {keep!r}")
        postings = postings.drop("batch_id")
    idx = _index_over_postings(postings, corpus_df, id_col, field, analyzer)
    idx.save(out_path, term_buckets=term_buckets)
    return SearchIndex.load(spark, out_path, corpus_df)


def prepare_percolator(
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    analyzer: str = "simple",
) -> DataFrame:
    """Standing-query term table for :func:`percolate_stream`:
    ``(query_id, term, _nq)`` with ``_nq`` = the query's distinct term
    count (for match-all / min-should-match verdicts). Built ONCE and
    persisted — the registry side of percolation never rescales with
    the stream. The cache is registered in ``_percolator_caches``; call
    :func:`release_percolator_caches` once the streaming query
    terminates."""
    out = explode_tokens(
        queries_df,
        [F.col(query_id_col).alias("query_id")],
        F.array_distinct(analyzer_expr(F.col(query_text_col), analyzer)),
        "_nq",
    ).persist()
    out.count()  # materialize: each micro-batch's match job reads the
    # registry from more than one stage (stage-race guard, r10)
    _percolator_caches.append(out)
    return out


def percolate_stream(
    docs_stream: DataFrame,
    queries_df: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    analyzer: str = "simple",
    require_all: bool = False,
    min_should_match: int = 1,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Percolation — the search engine inverted (the Elasticsearch
    percolator): queries are REGISTERED, documents ARRIVE, and each
    incoming doc is matched against every standing query — alerting,
    saved searches, routing-by-topic at ingest. Matches land at
    ``out_path/batch_id=N`` as ``(query_id, doc_id, n_matched)`` rows.

    Per micro-batch (foreachBatch, exactly-once via the idempotent
    per-batch_id overwrite, same pattern as ``incremental_index``):
    analyze the batch's text, distinct (doc, term), one PROBED join
    against the prepared standing-term table (broadcast while the
    registry is provably small; shuffle-hash with the registry as
    build side past the bound — a million-query registry's exploded
    term table must not be assumed executor-resident), one groupBy
    verdict. Work is proportional to the BATCH × query-registry
    overlap; nothing corpus-sized shuffles, no per-query loop.

    Match semantics: ``require_all`` = every query term must occur
    (matchAllText); else ``min_should_match`` of them (matchAny at the
    default 1) — the same Q9/Q10 semantics as the batch engine, so the
    streamed verdicts are pinned equal to a batch run in the tests.
    """
    qterms = prepare_percolator(
        queries_df, query_id_col, query_text_col, analyzer
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        doc_terms = explode_tokens(
            batch_df,
            [F.col(id_col).alias("doc_id")],
            F.array_distinct(analyzer_expr(F.col(text_col), analyzer)),
        )
        from sparksearchengine_spark.operators.search import (
            _hint_data_side,
        )

        agg = (
            doc_terms.join(_hint_data_side(qterms), "term")
            .groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_matched"),
                F.first("_nq").alias("_nq"),
            )
        )
        if require_all:
            agg = agg.where(F.col("n_matched") == F.col("_nq"))
        elif min_should_match > 1:
            agg = agg.where(F.col("n_matched") >= min_should_match)
        agg.select("query_id", "doc_id", "n_matched").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or f"{out_path}/_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def percolate_stream_dsl(
    docs_stream: DataFrame,
    queries: "list[tuple[int, object]]",
    out_path: str,
    id_col: str = "doc_id",
    text_cols: dict | None = None,
    max_plans: int = 64,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Percolation over the FULL query DSL (r6): standing queries are
    arbitrary ASTs — phrases, booleans, attribute filters, wildcards —
    not just term sets. Each micro-batch is indexed in place (a
    micro-batch is small; `Corpus.build_index` over it is a few
    aggregations) and matched against every registered query through
    `operators.search.percolate_dsl`, the one DSL executor — term
    classes, num/str filters, phrases and patterns as data in shared
    plans, other shapes once per distinct AST. Matches land at ``out_path/batch_id=N`` as
    ``(query_id, doc_id, score)`` rows (idempotent per-batch overwrite,
    the module's exactly-once pattern).

    ``text_cols``: the `Corpus` text-column declaration for the batch
    index (default ``{"text": TextOptions()}``) — it must cover every
    field the standing queries reference, including ``positions=True``
    for phrase queries. The batch index's caches are released after
    every batch (no leaked blocks across micro-batches).
    """
    from sparksearchengine_spark.operators.index import (
        Corpus,
        TextOptions,
    )
    from sparksearchengine_spark.operators.search import percolate_dsl

    qlist = list(queries)
    tc = text_cols or {"text": TextOptions()}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx = Corpus(batch_df, id_col=id_col, text_cols=tc).build_index()
        try:
            percolate_dsl(idx, qlist, max_plans=max_plans).write.mode(
                "overwrite"
            ).parquet(f"{out_path}/batch_id={batch_id}")
        finally:
            idx.unpersist()

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or f"{out_path}/_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def percolate_stream_registry(
    docs_stream: DataFrame,
    registry_df: DataFrame,
    out_path: str,
    query_col: str = "query",
    qid_col: str = "query_id",
    syntax: str = "json",
    default_field: str = "text",
    id_col: str = "doc_id",
    text_cols: dict | None = None,
    max_plans: int = 64,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """`percolate_stream_dsl` with the standing-query registry as a
    TABLE (r7): ``registry_df`` is a STATIC DataFrame whose rows carry
    serialized query trees (`plans.serde` JSON, or Lucene-ish strings
    with ``syntax='lucene'``) — the Elasticsearch queries-as-documents
    shape. Each micro-batch is indexed in place and matched through
    `operators.joindsl.percolate_dsl_df`, so a registry far too large to
    enumerate driver-side (the `percolate_stream_dsl` list) percolates
    with only its distinct filter signatures / general shapes touching
    the driver. Output contract identical: ``(query_id, doc_id, score)``
    rows at ``out_path/batch_id=N``, idempotent per-batch overwrite.
    The registry is NORMALIZED ONCE at stream start
    (`joindsl.prepare_dsl_queries`) and reused by every micro-batch —
    freed by :func:`release_percolator_caches` after the query
    terminates; the per-batch index is released in the ``finally``.
    """
    from sparksearchengine_spark.operators.index import (
        Corpus,
        TextOptions,
    )
    from sparksearchengine_spark.operators.joindsl import (
        percolate_dsl_df,
        prepare_dsl_queries,
    )

    tc = text_cols or {"text": TextOptions()}

    # normalize the registry ONCE at stream start (r9): the standing
    # queries are static while documents flow, so the pandas-UDF
    # normalization pass must not repeat per micro-batch — a million-
    # query registry costs one Arrow pass for the whole stream. The
    # schema inputs come from the stream (no index exists yet); the
    # cache is registry-owned and freed by release_percolator_caches.
    prepared = prepare_dsl_queries(
        None,
        registry_df,
        query_col,
        qid_col,
        syntax=syntax,
        default_field=default_field,
        text_cols=tc,
        corpus_cols=list(docs_stream.columns),
    )
    _percolator_caches.append(prepared)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx = Corpus(batch_df, id_col=id_col, text_cols=tc).build_index()
        try:
            percolate_dsl_df(
                idx,
                registry_df,
                query_col,
                qid_col,
                max_plans=max_plans,
                syntax=syntax,
                default_field=default_field,
                prepared=prepared,
            ).write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            )
        finally:
            idx.unpersist()

    writer = docs_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or f"{out_path}/_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
