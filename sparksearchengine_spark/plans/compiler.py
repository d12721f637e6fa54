"""Query AST -> DataFrame plan compiler.

The reference compiles its DSL tree to a Lucene ``Query`` per executor per
index (`dsl/DslQuery.scala:21`, executed `impl/LuceneIndex.scala:42-48`).
We compile the same tree once, on the driver, into a **relational plan**
over the index tables; Catalyst then owns physical strategy (broadcast vs
shuffle join, pushdown, AQE).

Compilation contract: every node compiles to ``DataFrame(doc_id: long,
score: double)`` containing exactly the matching documents.

Node -> plan (SURVEY §2.3 "Spark compilation" column):

* term / term-set       -> postings filter + broadcast termstats join +
                           groupBy(doc_id) having count ≥/= n
* and                   -> inner join on doc_id, scores sum; negated
                           operands become LEFT ANTI joins (no score)
* or                    -> unionByName + groupBy(doc_id).sum(score)
* not (outside an and)  -> legalized to ``all_docs anti operand`` — the
                           reference does the same rewrite at the top level
                           (`DslQuery.scala:54-60`)
* filters               -> corpus predicate, score 0.0 (Occur.FILTER
                           semantics: match without scoring,
                           `dsl/Filter.scala:114` et al.)
* phrase                -> per-term postings self-join on doc_id + position
                           adjacency via EXISTS over shifted positions

Scale notes: a boolean query over k terms scans postings once per distinct
leaf (term-set leaves scan once for the whole set); the termstats join is
always broadcast (≤ vocabulary rows, filtered to the query's terms before
the join). The groupBy(doc_id) aggregations are partial-agg friendly
(map-side combine) — no driver materialization anywhere.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearchengine_spark.operators.cache import materialize
from sparksearchengine_spark.functions.analyzers import tokenize_py
from sparksearchengine_spark.plans import ast

if TYPE_CHECKING:
    from sparksearchengine_spark.operators.index import SearchIndex

DOC_ID = "doc_id"
SCORE = "score"


def compile_query(q: ast.Query, index: "SearchIndex") -> DataFrame:
    """Compile to DataFrame(doc_id, score), matching docs only."""
    return _compile(q, index)


# --------------------------------------------------------------------------


def _doc_universe(index: "SearchIndex") -> DataFrame:
    c = index.corpus
    return c.df.select(F.col(c.id_col).cast("long").alias(DOC_ID))


def _all_docs(index: "SearchIndex") -> DataFrame:
    return _doc_universe(index).select(
        DOC_ID, F.lit(1.0).alias(SCORE)
    )


def _field_analyzer(index: "SearchIndex", field: str) -> str:
    """QUERY-TIME analyzer for ``field`` — every compiler call site
    tokenizes query text, never corpus text (index-time analysis happens
    once, in operators/index.py), so the ``query_analyzer`` override
    applies here (reference `impl/LuceneIndex.scala:115-116`)."""
    opts = index.corpus.text_cols.get(field)
    if opts is None:
        raise ValueError(
            f"field {field!r} is not a searchable text column "
            f"(declared: {sorted(index.corpus.text_cols)})"
        )
    return opts.query_time_analyzer()


def _scored_postings(
    index: "SearchIndex", field: str, terms: list[str]
) -> DataFrame:
    """postings rows for (field, terms) with per-row BM25 contribution.

    Returns DataFrame(doc_id, term, positions, tscore). The termstats side
    is filtered to the query terms then broadcast — at most |terms| rows
    cross the network, the postings side never shuffles for this join.
    """
    fs = index.fieldstats[field]
    if fs.doc_count == 0:
        # empty field: no matches
        spark = index.postings.sparkSession
        return spark.createDataFrame(
            [], "doc_id long, term string, positions array<int>, tscore double"
        )
    p = index.postings
    if index.term_buckets:
        # term-bucketed saved layout: restrict the scan to the query
        # terms' buckets FIRST — this is a partition-column predicate, so
        # it prunes directories (PartitionFilters), not just rows
        from sparksearchengine_spark.operators.index import (
            TERM_BUCKET,
            term_bucket,
        )

        bks = sorted({term_bucket(t, index.term_buckets) for t in terms})
        p = p.where(F.col(TERM_BUCKET).isin(bks)).drop(TERM_BUCKET)
    p = p.where((F.col("field") == field) & F.col("term").isin(terms))
    ts = index.termstats.where(
        (F.col("field") == field) & F.col("term").isin(terms)
    ).select("term", "df_t")
    if index.scoring.needs_cf:
        # LM similarities: collection term frequency rides the same
        # ≤|terms|-row broadcast (filtered to the query terms first)
        ts = ts.join(
            index.collection_stats(field).where(F.col("term").isin(terms)),
            "term",
        )
    scored = p.join(F.broadcast(ts), "term").select(
        F.col(DOC_ID),
        F.col("term"),
        F.col("positions"),
        index.scoring.term_score(
            F.col("tf").cast("double"),
            F.col("dl").cast("double"),
            F.col("df_t").cast("double"),
            float(fs.doc_count),
            fs.avgdl,
            cf_t=(
                F.col("cf_t").cast("double")
                if index.scoring.needs_cf
                else None
            ),
        ).alias("tscore"),
    )
    return scored


def _term_set(
    index: "SearchIndex", field: str, terms: tuple[str, ...], min_match: int
) -> DataFrame:
    _field_analyzer(index, field)  # validate field is searchable
    distinct_terms = sorted(set(terms))
    if index.fieldstats[field].doc_count == 0:
        return _empty_result(index)
    if index.term_buckets:
        # disk-backed bucketed index: a cached full-field scored relation
        # would defeat the layout (materializes everything to answer one
        # term); go straight to the bucket-pruned scan instead
        scored = _scored_postings(index, field, distinct_terms)
    else:
        # per-posting scores come precomputed from the index cache (narrow
        # 3-column relation; no per-query BM25 re-evaluation)
        scored = index.scored_postings(field).where(
            F.col("term").isin(distinct_terms)
        )
    # min_match counts CLAUSES, like Lucene's minimumShouldMatch: a term
    # listed twice contributes 2 toward the threshold when it matches
    # (match_min(2,'a','a','b') accepts a doc containing only 'a').
    # Scores stay a DISTINCT-set BM25 sum — the engine's documented
    # results contract (every qc oracle) — only the threshold weights
    # duplicates. The weighted branch only exists when duplicates do.
    n_clauses = len(terms)
    if len(distinct_terms) != n_clauses:
        from collections import Counter

        mult = Counter(terms)
        w = F.coalesce(
            *[F.when(F.col("term") == t, F.lit(c)) for t, c in mult.items()]
        )
        grouped = scored.select(
            F.col(DOC_ID), F.col("tscore"), w.alias("_w")
        ).groupBy(DOC_ID).agg(
            F.sum("tscore").alias(SCORE),
            F.sum("_w").alias("_nmatched"),
        )
    else:
        grouped = scored.groupBy(DOC_ID).agg(
            F.sum("tscore").alias(SCORE),
            F.count(F.lit(1)).alias("_nmatched"),  # postings unique per (term,doc)
        )
    if min_match >= n_clauses:
        grouped = grouped.where(F.col("_nmatched") == n_clauses)
    elif min_match > 1:
        grouped = grouped.where(F.col("_nmatched") >= min_match)
    return grouped.select(DOC_ID, SCORE)


def _phrase(index: "SearchIndex", node: ast.MatchPhrase) -> DataFrame:
    analyzer = _field_analyzer(index, node.field)
    opts = index.corpus.text_cols[node.field]
    terms = tokenize_py(node.text, analyzer)
    if not terms:
        return _empty_result(index)
    if len(terms) == 1:
        return _term_set(index, node.field, (terms[0],), 1)
    if not opts.positions:
        raise ValueError(
            f"phrase query on field {node.field!r} requires positions=True "
            "(column was indexed with TextOptions(positions=False))"
        )
    # one scan of postings for all phrase terms, then n-way self-join on
    # doc_id; adjacency: exists p in pos_0 with p+i in pos_i for all i.
    # materialized, not just persisted: the n per-term join sides read
    # this from independent stages of ONE job, and a cold cache would
    # re-run the postings-x-termstats scoring join once per term
    # (stage-race guard, r10); released by SearchIndex.unpersist()
    scored = materialize(
        _scored_postings(index, node.field, sorted(set(terms)))
    )
    index._phrase_caches.append(scored)
    joined = None
    for i, t in enumerate(terms):
        side = scored.where(F.col("term") == t).select(
            F.col(DOC_ID),
            F.col("positions").alias(f"_pos{i}"),
            F.col("tscore").alias(f"_ts{i}"),
        )
        joined = side if joined is None else joined.join(side, DOC_ID)
    n = len(terms)

    if node.slop <= 0:

        def matches(p0):  # type: ignore[no-untyped-def]
            cond = F.lit(True)
            for i in range(1, n):
                cond = cond & F.array_contains(F.col(f"_pos{i}"), p0 + i)
            return cond

    else:
        # Ordered sloppy phrase (see ast.MatchPhrase): exists a strictly
        # increasing position chain p0 < p1 < ... < p_{n-1}, p_i in
        # pos_i, with span - (n-1) <= slop. Greedy "smallest position
        # greater than the previous" minimizes the chain end, so one
        # greedy pass per start position is exact. Nested HOFs are
        # interpreted (CodegenFallback) but only run on the n-way-join
        # survivors — docs containing ALL phrase terms — not the corpus.
        max_span = node.slop + n - 1

        def _after(prev):  # type: ignore[no-untyped-def]
            # single-arg lambda: a 2-arg lambda would be interpreted by
            # F.filter as (element, index) and silently shadow `prev`
            return lambda x: x > prev

        def matches(p0):  # type: ignore[no-untyped-def]
            prev = p0
            for i in range(1, n):
                prev = F.array_min(F.filter(F.col(f"_pos{i}"), _after(prev)))
            return prev - p0 <= F.lit(max_span)  # NULL chain -> no match

    result = (
        joined.where(F.exists(F.col("_pos0"), matches))
        .select(
            DOC_ID,
            reduce(
                lambda a, b: a + b, [F.col(f"_ts{i}") for i in range(n)]
            ).alias(SCORE),
        )
    )
    return result


def _wildcard_to_like(pattern: str) -> str:
    """Lucene wildcard -> SQL LIKE: * -> %, ? -> _, escape % _ literals.

    A backslash escapes the next pattern character (Lucene WildcardQuery
    semantics): ``\\*`` is a literal asterisk, not a wildcard."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            out.append("\\" + nxt if nxt in ("%", "_", "\\") else nxt)
            i += 2
            continue
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _multi_term_docs(
    index: "SearchIndex", field: str, matched_terms: DataFrame
) -> DataFrame:
    """Docs containing ≥1 of the matched terms, constant score 1.0.

    The term predicate is evaluated on TERMSTATS (vocabulary-sized) and
    the matched set joined into a postings hash-join — the postings
    side never evaluates a LIKE/levenshtein per row. That's the Spark
    analog of Lucene expanding a MultiTermQuery against the term
    dictionary, not the postings. The matched set's cardinality is
    data-dependent ('a*' on a web-corpus vocabulary can expand to 1e8
    terms), so the broadcast is probed with a shuffle_hash fallback —
    matched terms the build side, never the postings.
    """
    from sparksearchengine_spark.operators.search import _hint_data_side

    p = index.postings.where(F.col("field") == field).join(
        _hint_data_side(matched_terms.select("term")), "term"
    )
    return (
        p.select(DOC_ID)
        .distinct()
        .select(DOC_ID, F.lit(1.0).alias(SCORE))
    )


_CASE_FOLD_CACHE: dict[str, bool] = {}


def _folds_case(analyzer: str) -> bool:
    """Whether the analyzer lowercases its tokens — probed empirically so
    custom registered analyzers answer correctly. Wildcard/fuzzy patterns
    bypass tokenization (Lucene's multi-term query contract), so they
    must match the INDEXED term case: lowercase the pattern only when the
    index did."""
    if analyzer not in _CASE_FOLD_CACHE:
        _CASE_FOLD_CACHE[analyzer] = tokenize_py("AbC", analyzer) == tokenize_py(
            "abc", analyzer
        )
    return _CASE_FOLD_CACHE[analyzer]


def _compile_wildcard(node: ast.MatchWildcard, index: "SearchIndex") -> DataFrame:
    analyzer = _field_analyzer(index, node.field)
    pat = node.pattern.lower() if _folds_case(analyzer) else node.pattern
    ts = index.termstats.where(
        (F.col("field") == node.field)
        & F.col("term").like(_wildcard_to_like(pat))
    )
    return _multi_term_docs(index, node.field, ts)


def _compile_regex(node: ast.MatchRegex, index: "SearchIndex") -> DataFrame:
    """MatchRegex: whole-term anchored rlike on the VOCABULARY (termstats,
    dictionary-sized) — never a per-posting regex — then the standard
    broadcast multi-term expansion (Lucene RegexpQuery's term-dictionary
    intersection, `dsl/DslQuery.scala:122-128`). The pattern is NOT
    case-folded: regex metachars like \\W flip meaning under lower();
    patterns match the indexed term bytes, as in Lucene."""
    ts = index.termstats.where(
        (F.col("field") == node.field)
        & F.col("term").rlike(f"^(?:{node.pattern})$")
    )
    return _multi_term_docs(index, node.field, ts)


def _compile_fuzzy(node: ast.MatchFuzzy, index: "SearchIndex") -> DataFrame:
    analyzer = _field_analyzer(index, node.field)
    q = node.term.lower() if _folds_case(analyzer) else node.term
    ts = index.termstats.where(
        (F.col("field") == node.field)
        # cheap length prefilter before the quadratic edit distance
        & F.length("term").between(
            len(q) - node.max_edits, len(q) + node.max_edits
        )
        & (F.levenshtein(F.col("term"), F.lit(q)) <= node.max_edits)
    )
    return _multi_term_docs(index, node.field, ts)


def _empty_result(index: "SearchIndex") -> DataFrame:
    spark = index.postings.sparkSession
    return spark.createDataFrame([], f"{DOC_ID} long, {SCORE} double")


# THE comparison-operator table: compiled CompareFilter nodes, the DSL
# executor's data-driven filter slots (`joindsl._sig_predicate_expr`) and
# `query_join`'s row_filters. "!=" is reachable only through row_filters
# (`ast.CompareFilter` accepts the other five).
COMPARE_OPS = {
    "=": operator.eq,
    "!=": operator.ne,
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
}


def _filter_pred(node: ast.Filter):  # type: ignore[no-untyped-def]
    c = F.col(node.field)
    if isinstance(node, ast.CompareFilter):
        return COMPARE_OPS[node.op](c, F.lit(node.value))
    if isinstance(node, ast.RangeFilter):
        return c.between(F.lit(node.lo), F.lit(node.hi))
    if isinstance(node, ast.InSetFilter):
        return c.isin(list(node.values))
    if isinstance(node, ast.ExistsFilter):
        return c.isNotNull()
    if isinstance(node, ast.MissingFilter):
        return c.isNull()
    raise TypeError(f"unknown filter node {type(node).__name__}")


def _compile_filter(node: ast.Filter, index: "SearchIndex") -> DataFrame:
    c = index.corpus
    return (
        c.df.where(_filter_pred(node))
        .select(F.col(c.id_col).cast("long").alias(DOC_ID))
        .select(DOC_ID, F.lit(0.0).alias(SCORE))
    )


def _flatten(node_cls, operands):  # type: ignore[no-untyped-def]
    out = []
    for op in operands:
        if isinstance(op, node_cls):
            out.extend(_flatten(node_cls, op.operands))
        else:
            out.append(op)
    return out


def _compile_and(node: ast.And, index: "SearchIndex") -> DataFrame:
    operands = _flatten(ast.And, node.operands)
    positives = [op for op in operands if not isinstance(op, ast.Not)]
    negatives = [op.operand for op in operands if isinstance(op, ast.Not)]
    if not positives:
        # pure-negative boolean: legalize with AllDocs, like the reference's
        # top-level rewrite (DslQuery.scala:54-60)
        acc = _all_docs(index)
    else:
        compiled = [_compile(op, index) for op in positives]
        acc = compiled[0]
        for i, nxt in enumerate(compiled[1:], start=1):
            nxt = nxt.select(
                F.col(DOC_ID), F.col(SCORE).alias(f"_s{i}")
            )
            acc = acc.join(nxt, DOC_ID).select(
                F.col(DOC_ID),
                (F.col(SCORE) + F.col(f"_s{i}")).alias(SCORE),
            )
    for neg in negatives:
        excl = _compile(neg, index).select(DOC_ID)
        acc = acc.join(excl, DOC_ID, "left_anti")
    return acc


def _compile_or(node: ast.Or, index: "SearchIndex") -> DataFrame:
    operands = _flatten(ast.Or, node.operands)
    compiled = [_compile(op, index) for op in operands]
    unioned = reduce(lambda a, b: a.unionByName(b), compiled)
    return unioned.groupBy(DOC_ID).agg(F.sum(SCORE).alias(SCORE))


def _compile(q: ast.Query, index: "SearchIndex") -> DataFrame:
    if isinstance(q, ast.AllDocs):
        return _all_docs(index)
    if isinstance(q, ast.MatchTerm):
        return _term_set(index, q.field, (q.term,), 1)
    if isinstance(q, ast.MatchTermSet):
        return _term_set(index, q.field, q.terms, q.min_match)
    if isinstance(q, ast.MatchText):
        analyzer = _field_analyzer(index, q.field)
        terms = tuple(sorted(set(tokenize_py(q.text, analyzer))))
        if not terms:
            return _empty_result(index)
        return _term_set(
            index, q.field, terms, len(terms) if q.require_all else 1
        )
    if isinstance(q, ast.MatchPhrase):
        return _phrase(index, q)
    if isinstance(q, ast.MatchNear):
        return _near(index, q)
    if isinstance(q, ast.MatchWildcard):
        return _compile_wildcard(q, index)
    if isinstance(q, ast.MatchRegex):
        return _compile_regex(q, index)
    if isinstance(q, ast.MatchFuzzy):
        return _compile_fuzzy(q, index)
    if isinstance(q, ast.Boost):
        # Lucene boost semantics: same matching set, scores scaled
        return _compile(q.operand, index).select(
            F.col(DOC_ID), (F.col(SCORE) * F.lit(float(q.factor))).alias(SCORE)
        )
    if isinstance(q, ast.And):
        return _compile_and(q, index)
    if isinstance(q, ast.Or):
        return _compile_or(q, index)
    if isinstance(q, ast.Not):
        # standalone NOT: all docs not matching operand (score = AllDocs's
        # constant 1.0), i.e. the reference's legalization applied eagerly
        excl = _compile(q.operand, index).select(DOC_ID)
        return _all_docs(index).join(excl, DOC_ID, "left_anti")
    if isinstance(q, ast.Filter):
        return _compile_filter(q, index)
    raise TypeError(f"unknown query node {type(q).__name__}")


def _near(index: "SearchIndex", node: "ast.MatchNear") -> DataFrame:
    """Unordered proximity (ast.MatchNear): same n-way doc_id join over
    the phrase machinery's cached scored positions, but the positions
    predicate is anchor-windowed instead of an ordered chain — exists
    p in pos_0 such that every other term has an occurrence within
    ±window of p. The interpreted HOF check runs only on docs
    containing ALL terms (the join survivors), never the corpus."""
    if node.window < 0:
        raise ValueError("window must be >= 0")
    analyzer = _field_analyzer(index, node.field)
    opts = index.corpus.text_cols[node.field]
    terms = list(dict.fromkeys(tokenize_py(node.text, analyzer)))
    if not terms:
        return _empty_result(index)
    if len(terms) == 1:
        return _term_set(index, node.field, (terms[0],), 1)
    if not opts.positions:
        raise ValueError(
            f"proximity query on field {node.field!r} requires "
            "positions=True"
        )
    # materialized: same n-branch stage-race guard as the phrase path
    scored = materialize(
        _scored_postings(index, node.field, sorted(set(terms)))
    )
    index._phrase_caches.append(scored)
    joined = None
    for i, t in enumerate(terms):
        side = scored.where(F.col("term") == t).select(
            F.col(DOC_ID),
            F.col("positions").alias(f"_pos{i}"),
            F.col("tscore").alias(f"_ts{i}"),
        )
        joined = side if joined is None else joined.join(side, DOC_ID)
    n = len(terms)
    w = node.window

    def _within(p0):  # type: ignore[no-untyped-def]
        return lambda x: (x >= p0 - w) & (x <= p0 + w)

    def matches(p0):  # type: ignore[no-untyped-def]
        cond = F.lit(True)
        for i in range(1, n):
            cond = cond & F.exists(F.col(f"_pos{i}"), _within(p0))
        return cond

    return joined.where(F.exists(F.col("_pos0"), matches)).select(
        DOC_ID,
        reduce(
            lambda a, b: a + b, [F.col(f"_ts{i}") for i in range(n)]
        ).alias(SCORE),
    )
