"""Corpus + SearchIndex: the "inverted index" as ordinary DataFrames.

The reference builds one embedded Lucene index per data slice, with three
physical placements (reference `impl/PartitionsIndexLuceneRDD.scala:582-594`,
`DistributedIndexLuceneRDD.scala:509-525`, `BroadcastIndexLuceneRDD.scala:
633-677`) and ships serialized RAMDirectories around. Our index is three
relations that Catalyst treats like any other table:

    postings(field, term, doc_id, tf, dl, positions array<int>|null)
    termstats(field, term, df_t)                       # df_t = docFreq
    fieldstats: {field: (doc_count, avgdl)}            # 1 row/field, driver

``dl`` (document length) is **denormalized into postings** so scoring needs
no doclen join at query time; ``termstats`` is vocab-sized (≤ |vocab|) —
broadcast into query joins only when a probe proves it small, else it is
the shuffle-hash BUILD side (``hint_vocab_side``); ``fieldstats`` is two
scalars per field, resolved at compile time into literals.

Placement strategies map as (SURVEY §4.2): partition-co-located postings =
the default DataFrame partitioning; k decoupled indexes = repartition /
bucketed-write of postings by term; broadcast index = Catalyst
broadcast-hash-join of the (small) term-filtered postings side. At 100 TB
the intended layout is postings bucketed by ``term`` (`bucket_by_term`), so
a term lookup prunes to its buckets and query joins co-locate without a
shuffle of the postings side.

Scale notes:
* the postings build is one shuffle (groupBy doc_id+term) — unavoidable and
  linear; positions arrays inflate size ~3-5×, so they are per-column
  opt-out (`TextOptions(positions=False)`, the reference's
  NoPositionsStringField analog);
* stats collection is two tiny aggregates; ``doc_count``/``avgdl`` land on
  the driver as scalars (a few rows), never the postings themselves.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass, replace
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from sparksearchengine_spark.functions.analyzers import (
    TextOptions,
    analyzer_expr,
    postings_rows,
)
from sparksearchengine_spark.functions.scoring import ScoringConfig

DOC_ID = "doc_id"  # reserved result column (reference reserves "$id")
TERM_BUCKET = "_tbucket"  # partition column of a term-bucketed saved index

# Vocabulary rows (term + a stat or two, ~50 bytes each) safely broadcast
# up to ~1M rows (~50 MB build side). Past that — Heaps' law puts a 100-TB
# web corpus field at O(10^8-10^9) distinct terms — an unconditional
# broadcast OOMs every executor, so the scored-postings join falls back to
# shuffle_hash with the vocabulary as the build side (postings, the
# orders-of-magnitude-larger relation, is NEVER the build side).
VOCAB_BROADCAST_MAX_ROWS = 1_000_000


def term_bucket(term: str, n: int) -> int:
    """Driver-side bucket of a term — MUST match :func:`term_bucket_expr`.
    crc32 on purpose (not xxhash64): zlib.crc32 == Spark's crc32, so the
    query compiler can compute a term's bucket without a Spark job."""
    return zlib.crc32(term.encode("utf-8")) % n


def term_bucket_expr(col, n: int):  # type: ignore[no-untyped-def]
    return F.pmod(F.crc32(col.cast("binary")), F.lit(n))


DOC_BUCKET = "_dbucket"  # partition column of a doc-bucketed saved corpus


def doc_bucket(doc_id, n: int) -> int:  # type: ignore[no-untyped-def]
    """Driver-side bucket of a doc id — MUST match :func:`doc_bucket_expr`
    (same crc32-of-string contract as :func:`term_bucket`), so point
    lookups compute their target partition without a Spark job."""
    return zlib.crc32(str(int(doc_id)).encode("utf-8")) % n


def doc_bucket_expr(col, n: int):  # type: ignore[no-untyped-def]
    # canonicalize through long BEFORE the string cast: a DoubleType id
    # renders '7.0' and crc32('7.0') != crc32('7') — the engine's doc-id
    # contract is long everywhere else (postings build, element joins),
    # and this keeps the driver-side bucket fn exact for any numeric id
    return F.pmod(
        F.crc32(col.cast("long").cast("string").cast("binary")), F.lit(n)
    )


@dataclass(frozen=True)
class FieldStats:
    doc_count: int  # docs with ≥1 token in this field (Lucene docCount)
    avgdl: float    # average token count over those docs


class Corpus:
    """A DataFrame + declared searchable text columns.

    The reference's dynamic `Indexable.getFields` record model
    (`Indexable.scala:24-26`) collapses into: schema = the DataFrame schema,
    missing field = NULL, multi-valued field = array column.
    """

    def __init__(
        self,
        df: DataFrame,
        id_col: str = DOC_ID,
        text_cols: dict[str, TextOptions] | None = None,
        validate: bool = True,
    ) -> None:
        """``validate=False`` skips the column-resolvability check: a
        reduced-payload save (``save(stored_cols=...)``, reference
        `Indexable.scala:16-19` ``Storeable.getData``) may store FEWER
        columns than were indexed, yet the analyzer metadata for the
        indexed-only fields must survive the load for query compilation."""
        if text_cols is None:
            text_cols = {
                f.name: TextOptions()
                for f in df.schema.fields
                if f.dataType.simpleString() == "string"
            }
        for c in [id_col, *text_cols] if validate else [id_col]:
            # resolve, don't string-match: allows nested struct refs like
            # 'author.name' (the reference's dot-flattened Indexable
            # namespace, `Indexable.scala:27-38`, is native column access)
            try:
                df.select(F.col(c))
            except Exception:
                raise ValueError(
                    f"column {c!r} not resolvable in DataFrame ({df.columns})"
                ) from None
        self.df = df
        self.id_col = id_col
        self.text_cols = dict(text_cols)

    def _postings_frame(self) -> DataFrame:
        """The lazy postings table (field, term, doc_id, tf, dl,
        positions) over every searchable column — the tokenize+aggregate
        core of :meth:`build_index`, exposed separately (r13) so
        incremental consumers (``upsert_index``'s delta build) can get
        postings WITHOUT paying build_index's eager fieldstats job:
        upsert recomputes all stats from the merged postings anyway, so
        the delta's own stats collect was a thrown-away tokenize pass.
        """
        spark = self.df.sparkSession
        per_field = []
        for fname, opts in self.text_cols.items():
            # Shape: repartition RAW text by doc_id first (one row per doc,
            # pre-tokenize — the cheapest point to shuffle AND the point
            # that distributes the tokenize work: shuffling after the
            # analyzer would evaluate the regex chain on the INPUT's
            # partitioning, which for a narrow source is one core), then
            # explode to (dl, pos, term) rows, then ONE codegen'd aggregate
            # for (tf, positions). HashPartitioning(doc_id) satisfies the
            # aggregate's ClusteredDistribution(doc_id, dl, term) (subset
            # key), so no second exchange, and postings come out
            # doc_id-partitioned — which makes the (query_id, doc_id)
            # score aggregation in query_join/batch_search shuffle-free.
            # Deliberately NOT a per-row higher-order-function expression:
            # nested transform/filter HOFs are CodegenFallback (interpreted)
            # and O(|vocab_doc| * dl) per doc — measured 2-4x slower than
            # this explode+groupBy at sf0.1.
            # explicit partition count: an unnumbered repartition is fair
            # game for AQE coalescing, which would fold this small-bytes /
            # high-CPU stage (raw text is ~KB/doc, tokenize is the cost)
            # back onto 1-2 cores; a user-specified count is preserved
            nparts = max(
                spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            )
            src = F.col(fname)
            dtype = self.df.select(src).schema[0].dataType
            if isinstance(dtype, ArrayType):
                # SeqField (reference `LuceneIndexedPartition.scala:197`)
                # stringifies the whole array ("List(a, b)") before
                # tokenizing; we index per element instead (SURVEY §1.2's
                # documented improvement). Joining elements with a space
                # yields exactly the per-element token stream for every
                # shipped analyzer (all are token-level after a
                # separator split). Divergence from a Lucene position
                # gap: phrases MAY match across an element boundary.
                if not isinstance(dtype.elementType, StringType):
                    raise ValueError(
                        f"text column {fname!r} must be array<string>, "
                        f"got {dtype.simpleString()}"
                    )
                src = F.concat_ws(" ", src)
            elif not isinstance(dtype, StringType):
                # the reference falls back to lossy toString indexing
                # (`Indexable.scala:124`); we reject explicitly
                raise ValueError(
                    f"text column {fname!r} must be string or "
                    f"array<string>, got {dtype.simpleString()}"
                )
            raw = self.df.select(
                F.col(self.id_col).cast("long").alias(DOC_ID),
                src.alias("_raw"),
            ).repartition(nparts, DOC_ID)
            # the tokens are a column before the generator
            # (explode_tokens), so the analyzer runs once per doc, after
            # the shuffle
            pf = postings_rows(
                raw,
                F.col(DOC_ID),
                analyzer_expr(F.col("_raw"), opts.analyzer),
                fname,
                opts.positions,
            )
            per_field.append(pf)

        postings = per_field[0]
        for pf in per_field[1:]:
            postings = postings.unionByName(pf)
        return postings

    def build_index(
        self,
        scoring: ScoringConfig | None = None,
        persist: bool = True,
    ) -> "SearchIndex":
        """Tokenize every searchable column and materialize the index tables.

        Eager (runs two small jobs for stats), mirroring the reference's
        index build being the expensive first action
        (`PartitionsIndexLuceneRDD.scala:588-593`).
        """
        return SearchIndex._from_postings(
            self, self._postings_frame(), scoring or ScoringConfig(), persist
        )


class SearchIndex:
    """Queryable index over a Corpus. All methods return DataFrames (lazy)
    unless named ``aggregating_*`` (driver-side collect, reference E1)."""

    def __init__(
        self,
        corpus: Corpus,
        postings: DataFrame,
        termstats: DataFrame,
        fieldstats: dict[str, FieldStats],
        scoring: ScoringConfig,
        term_buckets: int | None = None,
        doc_buckets: int | None = None,
        corpus_store: DataFrame | None = None,
    ) -> None:
        self.corpus = corpus
        self.postings = postings
        self.termstats = termstats
        self.fieldstats = fieldstats
        self.scoring = scoring
        # set on indexes loaded from a term-bucketed save: postings carry a
        # _tbucket partition column and term queries prune to its buckets
        self.term_buckets = term_buckets
        # set on indexes loaded from a doc-bucketed save: `corpus_store` is
        # the corpus scan WITH its _dbucket partition column, so point
        # lookups (E11/E12) prune to their bucket's files at the scan
        self.doc_buckets = doc_buckets
        self.corpus_store = corpus_store
        self._scored_cache: dict[str, DataFrame] = {}
        # join strategy for the full-vocabulary termstats side of the
        # scored-postings joins: None = probe the vocab row count once
        # per field (decide_broadcast ladder, trust_bytes=False — an
        # aggregate's size stats lie about its cardinality), True/False
        # force the direction (tests; callers who know their vocab).
        # Set BEFORE the first scored_postings() call — decisions bake
        # into the per-field cache.
        self.broadcast_vocab: bool | None = None
        # (term, cf_t) per field, built lazily — only the LM similarity
        # family (ScoringConfig.needs_cf) ever touches it
        self._collstats_cache: dict[str, DataFrame] = {}
        # per-phrase-query persisted scans, registered by the compiler so
        # unpersist() can release them (no leaked cached blocks in a
        # long-lived session)
        self._phrase_caches: list[DataFrame] = []

    @classmethod
    def _from_postings(
        cls,
        corpus: Corpus,
        postings: DataFrame,
        scoring: ScoringConfig,
        persist: bool = True,
    ) -> "SearchIndex":
        """The index over a postings frame: persist postings and the
        termstats aggregate, collect fieldstats (one eager job), and give
        every declared field with no postings ``FieldStats(0, 0.0)``. The
        one stats path that build, merge and upsert share, so corpus-global
        statistics are computed identically whichever way the postings
        were produced."""
        if persist:
            postings = postings.persist()
        termstats = postings.groupBy("field", "term").agg(
            F.count(F.lit(1)).cast("long").alias("df_t")
        )
        if persist:
            termstats = termstats.persist()
        stats_rows = (
            postings.select("field", DOC_ID, "dl")
            .distinct()
            .groupBy("field")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.avg("dl").alias("avgdl"),
            )
            .collect()
        )
        fieldstats = {
            r["field"]: FieldStats(int(r["doc_count"]), float(r["avgdl"]))
            for r in stats_rows
        }
        for fname in corpus.text_cols:
            fieldstats.setdefault(fname, FieldStats(0, 0.0))
        return cls(
            corpus=corpus,
            postings=postings,
            termstats=termstats,
            fieldstats=fieldstats,
            scoring=scoring,
        )

    def collection_stats(self, field: str) -> DataFrame:
        """(term, cf_t) — collection term frequency (total occurrences of
        the term in the field, Lucene ``totalTermFreq``). Built lazily
        from one postings aggregation, persisted, and cached per field;
        only the LM similarities (lmd / lmjm) need it, so indexes scoring
        with BM25 / TF-IDF never pay the aggregation. ≤ |vocab| rows —
        the same broadcast-size class as termstats.
        """
        if field not in self._collstats_cache:
            cf = (
                self.postings.where(F.col("field") == field)
                .groupBy("term")
                .agg(F.sum("tf").cast("long").alias("cf_t"))
                .persist()
            )
            self._collstats_cache[field] = cf
        return self._collstats_cache[field]

    def hint_vocab_side(self, ts: DataFrame) -> DataFrame:
        """Join-strategy hint for a full-vocabulary (termstats-shaped)
        side of a postings join. Broadcast only when the vocab is
        provably small (``decide_broadcast`` ladder — exact bounded
        probe, memoized per plan, ``trust_bytes=False`` because an
        aggregate's Catalyst size stats don't model its cardinality);
        otherwise shuffle_hash with the VOCAB as build side, so the
        postings relation never builds a hash table and a 100-TB-corpus
        vocabulary (O(10^8-10^9) terms by Heaps' law) cannot OOM the
        executors. ``self.broadcast_vocab`` short-circuits the probe.
        """
        if self.broadcast_vocab is None:
            from sparksearchengine_spark.operators.search import (
                decide_broadcast,
            )

            bc = decide_broadcast(
                ts, VOCAB_BROADCAST_MAX_ROWS, trust_bytes=False
            )
        else:
            bc = self.broadcast_vocab
        return F.broadcast(ts) if bc else ts.hint("shuffle_hash")

    def prune_term_buckets(
        self, p: DataFrame, prune_terms: "DataFrame | list | set | None"
    ) -> DataFrame:
        """Term-bucket pruning for terms-AS-DATA plans (query_join_dsl /
        percolate_dsl_df): the query terms live in a column, so the
        compiler's driver-side ``isin(buckets)`` partition predicate
        cannot apply — but the bucket key is computable FROM the data.
        Derive ``crc32(term) % n`` on the query side (≤ ``term_buckets``
        distinct rows — fixed-dim, always broadcastable) and LEFT SEMI
        join it against the ``_tbucket`` partition column; Spark's
        dynamic partition pruning turns the broadcast into a runtime
        PartitionFilter on the parquet scan, so a 10k-term registry over
        a 100-TB bucketed postings layout reads only the buckets it
        touches instead of all ``n``. No-op (bucket column dropped) when
        the index isn't term-bucketed or no prune frame is given.

        ``prune_terms``: a one-column ``term`` DataFrame (terms as data
        — runtime DPP semi-join), or a driver-side iterable of term
        strings (driver literals — a STATIC ``isin`` partition
        predicate, pruned at plan time like the compiler's single-query
        path)."""
        if not self.term_buckets or TERM_BUCKET not in p.columns:
            return p
        if prune_terms is None:
            return p.drop(TERM_BUCKET)
        if not isinstance(prune_terms, DataFrame):
            bks = sorted(
                {term_bucket(t, self.term_buckets) for t in prune_terms}
            )
            return p.where(F.col(TERM_BUCKET).isin(bks)).drop(TERM_BUCKET)
        qb = prune_terms.select(
            term_bucket_expr(F.col("term"), self.term_buckets).alias(
                TERM_BUCKET
            )
        ).distinct()
        return p.join(F.broadcast(qb), TERM_BUCKET, "left_semi").drop(
            TERM_BUCKET
        )

    def _score_postings_frame(
        self, field: str, p: DataFrame, positions: bool = False
    ) -> DataFrame:
        """tscore computation over a given postings frame — shared by the
        cached full-field path, the bucket-pruned terms-as-data path and
        (``positions=True``: (doc_id, term, positions, tscore)) the DSL
        phrase tier, whose phrase terms are data, not literals."""
        fs = self.fieldstats[field]
        ts = self.termstats.where(F.col("field") == field).select(
            "term", "df_t"
        )
        if self.scoring.needs_cf:
            # LM similarities: ride cf_t on the same vocab-sized side
            ts = ts.join(self.collection_stats(field), "term")
        keep = [DOC_ID, "term", "positions"] if positions else ["term", DOC_ID]
        return p.join(self.hint_vocab_side(ts), "term").select(
            *keep,
            self.scoring.term_score(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.col("df_t").cast("double"),
                float(fs.doc_count) if fs.doc_count else 1.0,
                fs.avgdl if fs.avgdl else 1.0,
                cf_t=(
                    F.col("cf_t").cast("double")
                    if self.scoring.needs_cf
                    else None
                ),
            ).alias("tscore"),
        )

    def scored_postings(
        self,
        field: str,
        prune_terms: "DataFrame | list | set | None" = None,
    ) -> DataFrame:
        """(term, doc_id, tscore) with the per-posting score precomputed.

        A posting's score contribution depends only on (tf, dl, df_t,
        corpus stats) — never on the query — so it is computed ONCE per
        posting and cached. Query-shaped joins (batch search, query join,
        term queries) then reuse the float instead of re-evaluating the
        log/division chain per joined row; broad queries replicate each
        posting across many queries, so this is a big constant-factor win
        (measured 4x on the sf0.1 query-join). Narrow 3-column layout keeps
        the cache small; doc_id partitioning is inherited from postings.

        On a term-bucketed saved index, ``prune_terms`` (a one-column
        ``term`` frame, e.g. a percolation registry's exploded terms)
        switches to an UNCACHED bucket-pruned scan via
        :meth:`prune_term_buckets` — caching would materialize every
        bucket and defeat the pruning a 100-TB layout exists for.
        """
        if self.term_buckets and prune_terms is not None:
            return self._score_postings_frame(
                field,
                self.prune_term_buckets(
                    self.postings, prune_terms
                ).where(F.col("field") == field),
            )
        if field not in self._scored_cache:
            p = self.postings.where(F.col("field") == field)
            scored = self._score_postings_frame(field, p).persist()
            self._scored_cache[field] = scored
        return self._scored_cache[field]

    def scored_postings_union(
        self, fields: "list[str]", prune_terms: DataFrame
    ) -> DataFrame:
        """(term, doc_id, tscore, field): :meth:`scored_postings` of
        exactly ``fields``, unioned — the postings side of every
        terms-as-data join (batch search, query join, the DSL term and
        pattern tiers). A one-field batch over a ten-field corpus scans
        one field's postings, not ten.

        ``prune_terms`` (a frame with ``field`` and ``term`` columns —
        the query side's terms): on a term-bucketed index each field's
        scan is pruned to the buckets its own terms touch (DPP,
        uncached); ignored otherwise, so the cached per-field frames
        serve."""
        sp = None
        for f in fields:
            one = self.scored_postings(
                f,
                prune_terms=(
                    prune_terms.where(F.col("field") == f).select("term")
                    if self.term_buckets
                    else None
                ),
            ).withColumn("field", F.lit(f))
            sp = one if sp is None else sp.unionByName(one)
        return sp

    # -- convenience delegates (implementations live in operators/) --------

    def compile(self, query) -> DataFrame:  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.plans.compiler import compile_query

        return compile_query(query, self)

    def search(self, query, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import search

        return search(self, query, k, **kw)

    def aggregating_search(self, query, k: int = 10):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import aggregating_search

        return aggregating_search(self, query, k)

    def batch_search(self, queries_df: DataFrame, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import batch_search

        return batch_search(self, queries_df, k=k, **kw)

    def batch_search_dsl(self, queries, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import batch_search_dsl

        return batch_search_dsl(self, queries, k=k, **kw)

    def percolate_dsl(self, queries, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import percolate_dsl

        return percolate_dsl(self, queries, **kw)

    def query_join(self, other: DataFrame, text_col: str, field: str, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import query_join

        return query_join(self, other, text_col=text_col, field=field, k=k, **kw)

    def query_join_dsl(self, other: DataFrame, query_col: str, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.joindsl import query_join_dsl

        return query_join_dsl(self, other, query_col, k=k, **kw)

    def percolate_dsl_df(self, queries_df: DataFrame, query_col: str, id_col: str, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.joindsl import percolate_dsl_df

        return percolate_dsl_df(self, queries_df, query_col, id_col, **kw)

    def get_element(self, doc_id):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import get_element

        return get_element(self, doc_id)

    def get_elements(self, ids):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import get_elements

        return get_elements(self, ids)

    def more_like_this_text(self, text: str, field: str, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import more_like_this_text

        return more_like_this_text(self, text, field, k=k, **kw)

    def term_vector(self, doc_id, field: str | None = None):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import term_vector

        return term_vector(self, doc_id, field=field)

    def explain(self, query, doc_ids=None):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import explain_scores

        return explain_scores(self, query, doc_ids=doc_ids)

    def rescore_search(self, query, rescore_query, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import rescore_search

        return rescore_search(self, query, rescore_query, k=k, **kw)

    def multi_match_search(self, text: str, fields, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import (
            multi_match_search,
        )

        return multi_match_search(self, text, fields, k=k, **kw)

    def more_like_this(self, source_ids, field: str, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import more_like_this

        return more_like_this(self, source_ids, field=field, k=k, **kw)

    def facet_counts(self, query, facet_cols, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import facet_counts

        return facet_counts(self, query, facet_cols, **kw)

    def facet_cube(self, query, dims, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import facet_cube

        return facet_cube(self, query, dims, **kw)

    def bm25f_search(self, text, field_weights, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import bm25f_search

        return bm25f_search(self, text, field_weights, k=k, **kw)

    def prf_expand_search(self, text, field: str = "text", k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import (
            prf_expand_search,
        )

        return prf_expand_search(self, text, field=field, k=k, **kw)

    def grouped_search(self, query, group_col: str, k: int = 10, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.search import grouped_search

        return grouped_search(self, query, group_col, k=k, **kw)

    def explain_score(self, query, doc_id):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import explain_score

        return explain_score(self, query, doc_id)

    def validate(self):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import validate_index

        return validate_index(self)

    def suggest_terms(self, term: str, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import suggest_terms

        return suggest_terms(self, term, **kw)

    def significant_terms(self, query, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import (
            significant_terms,
        )

        return significant_terms(self, query, **kw)

    def complete_prefix(self, prefix: str, **kw):  # type: ignore[no-untyped-def]
        from sparksearchengine_spark.operators.stats import complete_prefix

        return complete_prefix(self, prefix, **kw)

    def merge_with(self, other: "SearchIndex", **kw):  # type: ignore[no-untyped-def]
        return merge_indexes(self, other, **kw)

    def upsert(self, changes=None, deletes=None, **kw):  # type: ignore[no-untyped-def]
        return upsert_index(self, changes, deletes=deletes, **kw)

    def doc_counts(self) -> DataFrame:
        from sparksearchengine_spark.operators.stats import doc_counts

        return doc_counts(self)

    def term_counts(self) -> DataFrame:
        from sparksearchengine_spark.operators.stats import term_counts

        return term_counts(self)

    def term_idfs(self) -> DataFrame:
        from sparksearchengine_spark.operators.stats import term_idfs

        return term_idfs(self)

    def indices_info(
        self, per_partition: bool = False, measure_sizes: bool = False
    ) -> dict:
        from sparksearchengine_spark.operators.stats import indices_info

        return indices_info(
            self, per_partition=per_partition, measure_sizes=measure_sizes
        )

    # -- placement / persistence ------------------------------------------

    def bucket_by_term(self, num_buckets: int) -> "SearchIndex":
        """Decoupled-index analog (reference DistributedIndexLuceneRDD's
        ``numIndices``): repartition postings by term so each query term
        resolves within one partition. Session-lived; the durable version
        is ``save(path, term_buckets=n)``, whose partitioned layout prunes
        term queries at the scan after a restart."""
        return SearchIndex(
            corpus=self.corpus,
            postings=self.postings.repartition(num_buckets, "term"),
            termstats=self.termstats,
            fieldstats=self.fieldstats,
            scoring=self.scoring,
        )

    def save(
        self,
        path: str,
        term_buckets: int | None = None,
        doc_buckets: int | None = None,
        stored_cols: list[str] | None = None,
    ) -> None:
        """Persist the index as Parquet (replaces the reference's serialized
        RAMDirectory + Kryo machinery, `LuceneIndex.scala:92-118`).

        With ``term_buckets=n`` the postings are laid out partitioned by
        ``_tbucket = crc32(term) % n`` — the durable version of
        :meth:`bucket_by_term` (a ``repartition`` dies with the session; a
        partitioned layout survives restarts). A loaded index then prunes
        term queries to their buckets at the SCAN (PartitionFilters), so a
        k-term query on a 100 TB index reads ≤ k/n of the postings files.

        With ``doc_buckets=n`` the CORPUS is also written, partitioned by
        ``_dbucket = crc32(str(doc_id)) % n`` — the E11/E12 lookup layout
        (the reference routes a point lookup to partition
        ``id % numPartitions``, `PartitionsIndexLuceneRDD.scala:403-424`;
        same idea, durable). ``get_element(s)`` on the loaded index
        compute the bucket driver-side and prune the scan to that
        bucket's files instead of filtering the whole corpus.

        ``stored_cols=[...]`` stores only the named corpus columns (the
        id column is always included) — the analog of the reference's
        ``Storeable.getData`` reduced payload (`Indexable.scala:16-19`,
        `examples/StoreableExample.scala:36-45`): index the full fields,
        persist a projection. At 100 TB this is the difference between
        re-writing the whole corpus next to the index and writing only
        what results need to carry. Passing ``stored_cols`` without
        ``doc_buckets`` still stores the (unbucketed) projected corpus,
        so the save is self-contained. Queries against indexed-but-
        unstored fields keep working on the loaded index (the postings
        carry the terms); only element payloads shrink.
        """
        store_corpus = bool(doc_buckets) or stored_cols is not None
        cdf = self.corpus.df
        if stored_cols is not None:
            keep = [self.corpus.id_col] + [
                c for c in stored_cols if c != self.corpus.id_col
            ]
            missing = [c for c in keep if c not in cdf.columns]
            if missing:
                raise ValueError(
                    f"stored_cols not in corpus: {missing} "
                    f"(have {cdf.columns})"
                )
            cdf = cdf.select(*keep)
        pw = self.postings
        if TERM_BUCKET in pw.columns:
            # re-saving a LOADED bucketed index: the old partition column
            # must not leak into the new layout as a data column (and a
            # different term_buckets below derives a fresh one)
            pw = pw.drop(TERM_BUCKET)
        if term_buckets:
            pw = pw.withColumn(
                TERM_BUCKET, term_bucket_expr(F.col("term"), term_buckets)
            )
            # one output dir per bucket; repartition by the bucket column
            # so each partition writes one file per bucket it owns
            pw = pw.repartition(term_buckets, TERM_BUCKET)
            pw.write.mode("overwrite").partitionBy(TERM_BUCKET).parquet(
                os.path.join(path, "postings")
            )
        else:
            pw.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        self.termstats.write.mode("overwrite").parquet(
            os.path.join(path, "termstats")
        )
        if doc_buckets:
            cw = cdf.withColumn(
                DOC_BUCKET,
                doc_bucket_expr(F.col(self.corpus.id_col), doc_buckets),
            )
            cw = cw.repartition(doc_buckets, DOC_BUCKET)
            cw.write.mode("overwrite").partitionBy(DOC_BUCKET).parquet(
                os.path.join(path, "corpus")
            )
        elif store_corpus:
            cdf.write.mode("overwrite").parquet(os.path.join(path, "corpus"))
        meta = {
            "term_buckets": term_buckets,
            "doc_buckets": doc_buckets,
            "stored_corpus": store_corpus,
            "stored_cols": stored_cols,
            "id_col": self.corpus.id_col,
            "text_cols": {
                f: {
                    "analyzer": o.analyzer,
                    "positions": o.positions,
                    "query_analyzer": o.query_analyzer,
                }
                for f, o in self.corpus.text_cols.items()
            },
            "fieldstats": {
                f: {"doc_count": s.doc_count, "avgdl": s.avgdl}
                for f, s in self.fieldstats.items()
            },
            "scoring": {
                "similarity": self.scoring.similarity,
                "k1": self.scoring.k1,
                "b": self.scoring.b,
                "mu": self.scoring.mu,
                "lam": self.scoring.lam,
            },
        }
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "meta.json"), "w") as fh:
            json.dump(meta, fh)

    @staticmethod
    def load(
        spark: SparkSession, path: str, corpus_df: DataFrame | None = None
    ) -> "SearchIndex":
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        doc_buckets = meta.get("doc_buckets")
        # pre-r5 saves have no flag: corpus present iff doc-bucketed
        stored = meta.get("stored_corpus", bool(doc_buckets))
        corpus_store = None
        if stored:
            if corpus_df is None:
                corpus_store = spark.read.parquet(
                    os.path.join(path, "corpus")
                )
                corpus_df = (
                    corpus_store.drop(DOC_BUCKET)
                    if doc_buckets
                    else corpus_store
                )
                if not doc_buckets:
                    corpus_store = None  # no bucket-pruned lookup path
            else:
                # an explicitly passed corpus takes precedence EVERYWHERE,
                # incl. point lookups — serving get_element(s) from the
                # save-time snapshot would silently return stale rows and
                # a different column set than index.corpus.df
                doc_buckets = None
        if corpus_df is None:
            raise ValueError(
                "corpus_df is required: this save carries no stored corpus "
                "(write one with save(path, doc_buckets=n) or "
                "save(path, stored_cols=[...]))"
            )
        corpus = Corpus(
            corpus_df,
            id_col=meta["id_col"],
            text_cols={
                f: TextOptions(
                    analyzer=o["analyzer"],
                    positions=o["positions"],
                    # absent in pre-r4 saves -> symmetric analyzers
                    query_analyzer=o.get("query_analyzer"),
                )
                for f, o in meta["text_cols"].items()
            },
            # a stored_cols projection may omit indexed text columns;
            # analyzer metadata must survive anyway (Storeable contract)
            validate=False,
        )
        return SearchIndex(
            corpus=corpus,
            postings=spark.read.parquet(os.path.join(path, "postings")),
            termstats=spark.read.parquet(os.path.join(path, "termstats")),
            fieldstats={
                f: FieldStats(s["doc_count"], s["avgdl"])
                for f, s in meta["fieldstats"].items()
            },
            scoring=ScoringConfig(**meta["scoring"]),
            term_buckets=meta.get("term_buckets"),
            doc_buckets=doc_buckets,
            corpus_store=corpus_store,
        )

    def register_cache(self, df: DataFrame) -> DataFrame:
        """Register a persisted DataFrame derived from this index so
        :meth:`unpersist` releases it — the public face of the
        ``_phrase_caches`` list the phrase compiler uses internally.
        Operators that persist intermediate frames tied to the index's
        lifetime (phrase scans, spelling candidate/transition tables)
        call this instead of reaching into private state. Returns ``df``
        for chaining.
        """
        self._phrase_caches.append(df)
        return df

    def release_caches(self) -> None:
        """Unpersist ONLY the registered derived caches (phrase scans,
        spelling tables), leaving the index's own postings/termstats
        persisted — for long-lived sessions that run many batch calls
        against one index and want to free per-call blocks between them.
        """
        for df in self._phrase_caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._phrase_caches.clear()

    def unpersist(self) -> None:
        for df in (
            self.postings,
            self.termstats,
            *self._scored_cache.values(),
            *self._collstats_cache.values(),
            *self._phrase_caches,
        ):
            try:
                df.unpersist()
            except Exception:
                pass
        self._scored_cache.clear()
        self._collstats_cache.clear()
        self._phrase_caches.clear()


def merge_indexes(
    a: "SearchIndex", b: "SearchIndex", persist: bool = True
) -> "SearchIndex":
    """Merge two indexes over DISJOINT document sets into one queryable
    index — the shard-combine operation (two crawls indexed separately,
    regional shards, an incremental delta folded into the base) without
    re-tokenizing either corpus.

    Postings union as-is (they are already the per-doc tokenized rows);
    the corpus-global statistics are RECOMPUTED from the union — df per
    term and per-field (doc_count, avgdl) — so BM25 scores from the
    merged index are bit-identical to an index built over the
    concatenated corpus (pinned in tests), not an approximation stitched
    from the shards' stats. Cost: one termstats aggregation + one
    fieldstats job over the unioned postings — no text pass.

    Doc-id disjointness is the CALLER's contract (the same contract the
    incremental-index path documents): overlapping ids double-count df
    and dl. Indexes must agree on id column, text fields, analyzers and
    scoring; bucketed-save indexes should be merged before or re-saved
    after (the merged postings carry no bucket column).
    """
    ca, cb = a.corpus, b.corpus
    if ca.id_col != cb.id_col:
        raise ValueError("indexes disagree on id_col")
    # compare only the PHYSICAL layout fields (analyzer, positions):
    # query_analyzer is a query-time-only setting — two physically
    # identical indexes that differ there (e.g. a pre-r4 save loading
    # with query_analyzer=None) merge fine, and the merged index must
    # agree on one side's query analyzer only when both set one.
    if set(ca.text_cols) != set(cb.text_cols) or any(
        (ca.text_cols[f].analyzer, ca.text_cols[f].positions)
        != (cb.text_cols[f].analyzer, cb.text_cols[f].positions)
        for f in ca.text_cols
    ):
        raise ValueError("indexes disagree on text fields/analyzers")
    merged_text_cols = {}
    for f in ca.text_cols:
        qa_a = ca.text_cols[f].query_analyzer
        qa_b = cb.text_cols[f].query_analyzer
        if qa_a is not None and qa_b is not None and qa_a != qa_b:
            raise ValueError(
                f"indexes disagree on query_analyzer for field {f!r} "
                f"({qa_a!r} vs {qa_b!r}); align them before merging"
            )
        merged_text_cols[f] = replace(
            ca.text_cols[f], query_analyzer=qa_a or qa_b
        )
    if a.scoring != b.scoring:
        raise ValueError("indexes disagree on scoring config")

    merged_corpus = Corpus(
        ca.df.unionByName(cb.df),
        id_col=ca.id_col,
        text_cols=merged_text_cols,
    )
    # a loaded term-bucketed save carries the _tbucket partition column
    # and an in-memory side doesn't — strip it so the union resolves
    # (the docstring's "merged postings carry no bucket column" contract)
    pa, pb = a.postings, b.postings
    if TERM_BUCKET in pa.columns:
        pa = pa.drop(TERM_BUCKET)
    if TERM_BUCKET in pb.columns:
        pb = pb.drop(TERM_BUCKET)
    return SearchIndex._from_postings(
        merged_corpus, pa.unionByName(pb), a.scoring, persist
    )


def upsert_index(
    base: "SearchIndex",
    changes: DataFrame | None = None,
    deletes: DataFrame | Iterable[int] | None = None,
    persist: bool = True,
    validate_unique: bool = True,
) -> "SearchIndex":
    """Fold a CDC delta (new / updated / deleted documents) into an
    existing index WITHOUT re-tokenizing the base corpus — the
    incremental-maintenance operation the reference cannot express (its
    ``PartitionsIndexLuceneRDD`` is immutable once built; updating means
    rebuilding every Lucene shard from scratch,
    `PartitionsIndexLuceneRDD.scala:588-593`).

    Semantics are exact REPLACE + DELETE: a doc id present in
    ``changes`` replaces the base document wholesale; ids in ``deletes``
    vanish. The result is bit-identical to ``build_index`` over the
    post-CDC corpus (pinned in tests): corpus-global statistics — df per
    term and per-field (doc_count, avgdl) — are RECOMPUTED from the
    merged postings by aggregation, so BM25 scores cannot drift no
    matter how many deltas have been folded.

    Cost model at 100 TB: the analyzer runs ONLY over ``changes``
    (the delta, typically ≪ 0.1 % of the corpus); the base postings
    pass through one anti-join on the touched ids — broadcast when the
    touched set is small (the common case, decided by the same
    stats-probed policy every search join uses), shuffle-hash
    otherwise — and one termstats aggregation. No text column of the
    base corpus is ever read.

    ``deletes`` accepts a DataFrame (first column = ids) or a plain id
    iterable. Ids in ``deletes`` that never existed are no-ops; ids in
    both ``changes`` and ``deletes`` end up deleted (delete wins, the
    CDC convention matching `weburl.py::cdc_latest` tombstones).

    ``changes`` must carry ONE row per id — "replace wholesale" is
    undefined for a multi-version delta, and silently indexing both
    versions would inflate df/doc_count and double-return the doc
    (r5 review finding). Checked eagerly (one aggregation over the
    delta only); compact a raw CDC stream first (`weburl.cdc_latest`
    latest-wins) or pass ``validate_unique=False`` after doing so.
    """
    from sparksearchengine_spark.operators.search import (
        decide_broadcast,
        ids_frame,
    )

    corpus = base.corpus
    spark = corpus.df.sparkSession
    if changes is None and deletes is None:
        raise ValueError("upsert_index: need changes and/or deletes")

    # private join-key name: corpus id_col is usually DOC_ID itself, so
    # an equi-condition on same-named columns would be ambiguous
    UID = "_upsert_id"
    touched = None  # ids whose base rows must not survive
    if changes is not None:
        missing = [c for c in corpus.df.columns if c not in changes.columns]
        if missing:
            raise ValueError(
                f"changes is missing corpus columns: {missing}"
            )
        touched = changes.select(
            F.col(corpus.id_col).cast("long").alias(UID)
        )
        if validate_unique:
            dup = (
                touched.groupBy(UID)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"changes has multiple rows for id {dup[0][UID]}; "
                    "replace-wholesale needs one row per id — compact "
                    "the delta first (weburl.cdc_latest latest-wins), "
                    "then pass validate_unique=False to skip this check"
                )
    del_ids = None
    if deletes is not None:
        if isinstance(deletes, DataFrame):
            del_ids = deletes.select(
                F.col(deletes.columns[0]).cast("long").alias(UID)
            )
        else:
            del_ids = ids_frame(spark, [int(i) for i in deletes], UID)
        touched = del_ids if touched is None else touched.unionByName(del_ids)
    touched = touched.distinct()
    if decide_broadcast(touched, max_rows=5_000_000):
        touched = F.broadcast(touched)

    # a loaded term-bucketed save carries the _tbucket partition column;
    # the delta's freshly-built postings don't — drop it before the
    # union (the upserted index is in-memory and unbucketed until the
    # caller re-saves it with term_buckets)
    base_postings = base.postings
    if TERM_BUCKET in base_postings.columns:
        base_postings = base_postings.drop(TERM_BUCKET)
    surviving = base_postings.join(
        touched, F.col(DOC_ID) == F.col(UID), "left_anti"
    )
    surviving_corpus = corpus.df.join(
        touched,
        F.col(corpus.id_col).cast("long") == F.col(UID),
        "left_anti",
    )

    if changes is not None:
        live_changes = changes.select(*corpus.df.columns)
        if del_ids is not None:
            live_changes = live_changes.join(
                F.broadcast(del_ids)
                if isinstance(deletes, (list, tuple, set))
                else del_ids,
                F.col(corpus.id_col).cast("long") == F.col(UID),
                "left_anti",
            )
        # postings frame only (r13): build_index(persist=False) also ran
        # its eager fieldstats collect — a full tokenize pass over the
        # delta whose result upsert throws away (all stats are
        # recomputed from the MERGED postings below). The lazy frame
        # tokenizes the delta exactly once, inside the merged stats job.
        delta_postings = Corpus(
            live_changes, id_col=corpus.id_col, text_cols=corpus.text_cols
        )._postings_frame()
        postings = surviving.unionByName(delta_postings)
        new_corpus_df = surviving_corpus.unionByName(live_changes)
    else:
        postings = surviving
        new_corpus_df = surviving_corpus

    return SearchIndex._from_postings(
        Corpus(
            new_corpus_df,
            id_col=corpus.id_col,
            text_cols=corpus.text_cols,
            validate=False,
        ),
        postings,
        base.scoring,
        persist,
    )
