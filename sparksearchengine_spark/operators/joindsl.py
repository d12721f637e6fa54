"""E7 fully general — ``query_join_dsl``: per-row query ASTs as a COLUMN,
and THE DSL executor every batch DSL surface runs through.

The reference's ``queryJoin(other, queryGenerator: U => DslQuery, k)``
(`SearchableRDD.scala:259-269`) accepts an arbitrary function producing a
STRUCTURALLY DIFFERENT query per row of ``other``. `search.query_join`
covers the dominant shape (analyzed text + per-row attribute filters as
data); this module closes the rest: each row of ``other`` carries its
whole query tree, serialized by `plans.serde.query_to_json`, and the
executor shape-groups the trees ON THE CLUSTER, so a 100 M-row
``other`` never ships its queries to the driver.

The reference's ``batchSearch(Iterable[(Long, DslQuery)])``
(`SearchableRDD.scala:194-197`) is the same capability over a driver
list: `search.batch_search_dsl`, `search.percolate_dsl` and
`streaming.percolate_stream_dsl` normalize their list in the driver
(`search._dsl_scored_union`) into the same shape records and run the
same tiers (:func:`_dsl_tiers`) over it as a small broadcast table.
One normalizer (:func:`_normalize_tree`), one tier builder.

Execution tiers:

* **weighted-term shapes** (matchTerm / matchAll / matchAny / matchMin /
  matchText / Boost / Or-of-those) — normalized per tree by the SAME
  `weighted_terms_cfg` logic `search.explain_scores` uses, then ONE
  join of the exploded (query_id, field, term, weight) rows against
  the cached scored postings + a min_match count filter. Unbounded
  rows, zero driver involvement.
* **And(term-class, simple filters)** — the term rows ride the shared
  plan above; filters group by STRUCTURAL SIGNATURE (field/op/value
  class, value abstracted into data columns) and dispatch per row in
  ONE branch. Only the ≤ ``max_plans`` DISTINCT signatures reach the
  driver; per-row comparison VALUES stay a column. Compare, range and
  in-set values compare as double when numeric (ints outside the
  exact-double range ±2^53 route to the compiled tier, enforced in
  `_num`), in their natural type when strings; other value types
  (None, bool, date, datetime, Decimal, mixed) route to the compiled
  tier.
* **phrases (exact + sloppy)** — per-tree tokenization emits (qpos,
  term) rows + the span bound as data; the shared positions-carrying
  postings join and the greedy-chain verifier are
  `search._phrase_verify_branch`. Unbounded rows. On a
  ``save(term_buckets=n)`` layout every data tier (terms, phrases,
  patterns) prunes the postings scan to the buckets its terms touch:
  ``crc32(term) % n`` is derived on the QUERY side and semi-joined
  against the ``_tbucket`` partition column, which Spark's dynamic
  partition pruning turns into a runtime PartitionFilter
  (`SearchIndex.prune_term_buckets`) — terms-as-data no longer
  forfeits the bucketed layout.
* **multi-term (wildcard / regex / fuzzy)** — DISTINCT patterns
  (≤ ``max_patterns``, loud error beyond) intersect the vocabulary in
  ONE scan, then fan matched terms back to query rows by pattern key.
* **everything else** (Not, nested booleans, near, the filters above,
  raw) — grouped by plan key (a query column's CANONICAL serialized
  form; a driver list's distinct trees): N rows carrying equal trees
  share one compiled plan, attached back by one join on the key. Only
  ≤ ``max_plans`` distinct keys may exist, counted together with the
  filter signatures (loud error: restructure toward the data tiers or
  split the batch).

Scores are identical to `search` for every tier (same cached
per-posting floats, same fold shapes).

Reference parity: `SearchableRDD.scala:259-269` (queryJoin with
queryGenerator), `SearchableRDD.scala:194-197` (batchSearch),
`PartitionsIndexLuceneRDD.scala:273` (the cartesian this design
avoids).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sparksearchengine_spark.operators.search import (
    BROADCAST_MAX_QUERY_ROWS,
    DOC_ID,
    SCORE,
    _attach_elements,
    _hint_data_side,
    _hint_query_side,
    _key_rows,
    _phrase_verify_branch,
    _rank_order,
    decide_broadcast,
    topk_per_group,
    weighted_terms_cfg,
)
from sparksearchengine_spark.plans.compiler import COMPARE_OPS

if TYPE_CHECKING:
    from sparksearchengine_spark.operators.index import SearchIndex

__all__ = ["query_join_dsl", "percolate_dsl_df"]

# distinct wildcard/regex/fuzzy patterns allowed per call: each pattern
# evaluates against every vocabulary term in the one shared scan, so the
# scan cost is |vocab| x |patterns| predicate evaluations
MAX_DISTINCT_PATTERNS = 10_000

_NORM_SCHEMA = (
    "shape string, err string,"
    " terms array<struct<field:string,term:string,w:double>>,"
    " min_match int,"
    " ph_field string, ph_terms array<string>, ph_n int, ph_maxspan int,"
    " mt_field string, mt_kind string, mt_pat string, mt_edits int,"
    " fsig string,"
    " fvals array<struct<v_num:double,v_str:string,lo_num:double,"
    "hi_num:double,lo_str:string,hi_str:string,"
    "set_num:array<double>,set_str:array<string>>>,"
    " canon string, xkey string"
)

_EMPTY_NORM = {
    "shape": None,
    "err": None,
    "terms": None,
    "min_match": None,
    "ph_field": None,
    "ph_terms": None,
    "ph_n": None,
    "ph_maxspan": None,
    "mt_field": None,
    "mt_kind": None,
    "mt_pat": None,
    "mt_edits": None,
    "fsig": None,
    "fvals": None,
    "canon": None,
    "xkey": None,
}

_NOVAL = {
    "v_num": None,
    "v_str": None,
    "lo_num": None,
    "hi_num": None,
    "lo_str": None,
    "hi_str": None,
    "set_num": None,
    "set_str": None,
}


def _num(v) -> bool:
    # bool is an int subclass — a boolean value must NOT ride the
    # numeric compare path (True == 1 would change semantics). Ints
    # outside the exact-double range route to the compiled tier: the
    # data path casts both sides to double, so |v| >= 2^53 would compare
    # differently there than in the compiled plan (which keeps the
    # literal's own type) — tier selection must never change semantics.
    # STRICT bound: exactly ±2^53 must route compiled too, because the
    # neighboring long 2^53+1 casts to the identical double and would
    # falsely match =, <=, and range-hi compares on the data tier.
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return False
    return not isinstance(v, int) or -(2**53) < v < 2**53


def _filter_slot(f, corpus_cols: "set[str]"):
    """(sig_string, value_dict) for one filter, or None when the filter
    cannot ride the data path. The signature holds the filter kind, the
    field, the operator and the value CLASS (num/str), so the driver
    builds one typed predicate per signature (`_sig_predicate_expr`)
    while the values stay data. Only num (int/float, see `_num`) and str
    values ride: None, bool, date, datetime, Decimal, mixed-class or
    empty in-sets route to the compiled tier. Fields containing the sig
    separators route there too (signature strings must parse
    unambiguously)."""
    from sparksearchengine_spark.plans import ast

    def _ok_field(name: str) -> bool:
        return name in corpus_cols and ":" not in name and "|" not in name

    if isinstance(f, ast.CompareFilter):
        if not _ok_field(f.field) or f.value is None:
            return None
        if _num(f.value):
            return f"cmp:{f.field}:{f.op}:num", {
                **_NOVAL, "v_num": float(f.value)
            }
        if isinstance(f.value, str):
            return f"cmp:{f.field}:{f.op}:str", {
                **_NOVAL, "v_str": f.value
            }
        return None
    if isinstance(f, ast.RangeFilter):
        if not _ok_field(f.field):
            return None
        if _num(f.lo) and _num(f.hi):
            return f"range:{f.field}:num", {
                **_NOVAL, "lo_num": float(f.lo), "hi_num": float(f.hi)
            }
        if isinstance(f.lo, str) and isinstance(f.hi, str):
            return f"range:{f.field}:str", {
                **_NOVAL, "lo_str": f.lo, "hi_str": f.hi
            }
        return None
    if isinstance(f, ast.InSetFilter):
        if not _ok_field(f.field) or not f.values:
            return None
        if all(_num(v) for v in f.values):
            return f"in:{f.field}:num", {
                **_NOVAL, "set_num": [float(v) for v in f.values]
            }
        if all(isinstance(v, str) for v in f.values):
            return f"in:{f.field}:str", {
                **_NOVAL, "set_str": list(f.values)
            }
        return None
    if isinstance(f, ast.ExistsFilter):
        return (f"exists:{f.field}", dict(_NOVAL)) if _ok_field(f.field) else None
    if isinstance(f, ast.MissingFilter):
        return (f"missing:{f.field}", dict(_NOVAL)) if _ok_field(f.field) else None
    return None


def _normalize_tree(q, text_cols: dict, corpus_cols: "set[str]") -> dict:
    """Shape-classify ONE query tree into a `_NORM_SCHEMA` record (the
    ``canon`` / ``xkey`` keys left unset): which execution tier runs it
    and the data that tier needs. Pure function of small config, so the
    query-column UDF (:func:`_normalize_one`, per row on the executors)
    and the driver-list adapter (`search._dsl_scored_union`, per tree in
    the driver) classify through the same code. A tree the engine
    rejects (unknown field, phrase on a positions=False column) becomes
    an ``error`` record carrying the message."""
    from sparksearchengine_spark.functions.analyzers import tokenize_py
    from sparksearchengine_spark.plans import ast
    from sparksearchengine_spark.plans.compiler import (
        _flatten,
        _folds_case,
        _wildcard_to_like,
    )

    out = dict(_EMPTY_NORM)

    def _terms(rows, mm, fsig="", fvals=None) -> dict:
        if not rows:
            out["shape"] = "empty"
            return out
        out["shape"] = "terms"
        out["terms"] = [
            {"field": f, "term": t, "w": float(w)} for f, t, w in rows
        ]
        out["min_match"] = int(mm)
        out["fsig"] = fsig
        out["fvals"] = fvals
        return out

    try:
        if isinstance(q, ast.MatchPhrase):
            opts = text_cols.get(q.field)
            if opts is None:
                raise ValueError(
                    f"field {q.field!r} is not a searchable text column "
                    f"(declared: {sorted(text_cols)})"
                )
            terms = tokenize_py(q.text, opts.query_time_analyzer())
            if not terms:
                out["shape"] = "empty"
                return out
            if len(terms) == 1:
                return _terms([(q.field, terms[0], 1.0)], 1)
            if not opts.positions:
                raise ValueError(
                    f"phrase query on field {q.field!r} requires "
                    "positions=True (column was indexed with "
                    "TextOptions(positions=False))"
                )
            out["shape"] = "phrase"
            out["ph_field"] = q.field
            out["ph_terms"] = list(terms)
            out["ph_n"] = len(terms)
            out["ph_maxspan"] = q.slop + len(terms) - 1
            return out
        if isinstance(
            q, (ast.MatchWildcard, ast.MatchRegex, ast.MatchFuzzy)
        ):
            if q.field not in text_cols:
                raise ValueError(
                    f"field {q.field!r} is not a searchable text column"
                    f" (declared: {sorted(text_cols)})"
                )
            folds = _folds_case(text_cols[q.field].query_time_analyzer())
            out["shape"] = "mt"
            out["mt_field"] = q.field
            if isinstance(q, ast.MatchWildcard):
                pat = q.pattern.lower() if folds else q.pattern
                out["mt_kind"], out["mt_pat"], out["mt_edits"] = (
                    "like", _wildcard_to_like(pat), 0,
                )
            elif isinstance(q, ast.MatchRegex):
                # NOT case-folded — regex metachars flip meaning under
                # lower(); same contract as the single-query compiler
                out["mt_kind"], out["mt_pat"], out["mt_edits"] = (
                    "re", f"^(?:{q.pattern})$", 0,
                )
            else:
                t = q.term.lower() if folds else q.term
                out["mt_kind"], out["mt_pat"], out["mt_edits"] = (
                    "fz", t, q.max_edits,
                )
            return out
        if isinstance(q, ast.And):
            ops = _flatten(ast.And, q.operands)
            filts = [o for o in ops if isinstance(o, ast.Filter)]
            poss = [
                o for o in ops
                if not isinstance(o, (ast.Filter, ast.Not))
            ]
            negs = [o for o in ops if isinstance(o, ast.Not)]
            if len(poss) == 1 and filts and not negs:
                tw = weighted_terms_cfg(text_cols, poss[0])
                slots = [_filter_slot(fl, corpus_cols) for fl in filts]
                if tw is not None and tw[0] and None not in slots:
                    rows, mm = tw
                    ordered = sorted(slots, key=lambda s: s[0])
                    return _terms(
                        rows,
                        mm,
                        fsig="|".join(s for s, _ in ordered),
                        fvals=[v for _, v in ordered],
                    )
            out["shape"] = "general"
            return out
        tw = weighted_terms_cfg(text_cols, q)
        if tw is not None:
            return _terms(tw[0], tw[1])
        out["shape"] = "general"
        return out
    except ValueError as e:
        out = dict(_EMPTY_NORM)
        out["shape"] = "error"
        out["err"] = str(e)
        return out


def _normalize_one(
    js: "str | None",
    text_cols: dict,
    corpus_cols: "set[str]",
    syntax: str = "json",
    default_field: str = "text",
) -> dict:
    """Parse and shape-classify ONE serialized query — the per-row
    normalization the Arrow UDF maps over the query column. Returns a
    `_NORM_SCHEMA` record: :func:`_normalize_tree`'s, plus the canonical
    serialized tree as ``canon`` (general shapes: the general tier's
    plan key) and its sha256 as ``xkey``. ``syntax='json'`` decodes
    `plans.serde` trees; ``syntax='lucene'`` parses Lucene-ish
    saved-search strings via `plans.parser` (the Q12 grammar), per row,
    on the executors."""
    from sparksearchengine_spark.plans.serde import (
        query_from_json,
        query_to_json,
    )

    import hashlib

    out = dict(_EMPTY_NORM)
    if js is None:
        out["shape"] = "empty"
        return out
    try:
        if syntax == "lucene":
            from sparksearchengine_spark.plans.parser import parse_query

            q = parse_query(js, default_field)
        else:
            q = query_from_json(js)
    except ValueError as e:
        out["shape"] = "error"
        out["err"] = str(e)
        return out

    out = _normalize_tree(q, text_cols, corpus_cols)
    if out["shape"] == "error":
        return out
    canon = query_to_json(q)
    # execution key: sha256 of the canonical tree — rows carrying EQUAL
    # trees share it, so dedup_queries can execute once per distinct
    # query (a zipfian log's hot query costs one execution, not one per
    # occurrence). Collision-resistant on purpose: a hash collision
    # between two distinct trees would silently merge their results,
    # and the canonical string is already computed per row so the
    # stronger hash costs nothing extra.
    out["xkey"] = hashlib.sha256(canon.encode("utf-8")).hexdigest()
    if out["shape"] == "general":
        out["canon"] = canon
    return out


def _sig_predicate_expr(sig: str):  # type: ignore[no-untyped-def]
    """One signature group's filter slots as a single Column predicate:
    slot i's typed values live at fvals[i] (`_normalize_tree` sorted
    slots by signature string, so the order is deterministic). The
    field/op/class are FIXED per signature — only the comparison values
    are data. Expression form (not sequential .where) so signatures
    can dispatch per row inside ONE branch via fsig equality."""
    conds = []
    for i, slot in enumerate(sig.split("|")):
        parts = slot.split(":")
        kind, fld = parts[0], parts[1]
        att = F.col(f"_a_{fld}")
        # F.get (0-indexed) returns NULL out of bounds regardless of
        # ANSI mode: rows of OTHER signatures sharing the branch can
        # carry shorter fvals arrays, and element_at would throw under
        # Spark 4's default ANSI before the fsig guard short-circuits
        # (AND evaluation order is not guaranteed)
        val = F.get(F.col("fvals"), i)
        if kind == "cmp":
            op, cls = parts[2], parts[3]
            v = val["v_num"] if cls == "num" else val["v_str"]
            a = att.cast("double") if cls == "num" else att
            conds.append(COMPARE_OPS[op](a, v))
        elif kind == "range":
            cls = parts[2]
            if cls == "num":
                conds.append(
                    att.cast("double").between(
                        val["lo_num"], val["hi_num"]
                    )
                )
            else:
                conds.append(att.between(val["lo_str"], val["hi_str"]))
        elif kind == "in":
            if parts[2] == "num":
                conds.append(
                    F.array_contains(val["set_num"], att.cast("double"))
                )
            else:
                conds.append(
                    F.array_contains(val["set_str"], att.cast("string"))
                )
        elif kind == "exists":
            conds.append(att.isNotNull())
        else:  # missing
            conds.append(att.isNull())
    out = conds[0]
    for cnd in conds[1:]:
        out = out & cnd
    return out


def query_join_dsl(
    index: "SearchIndex",
    other: DataFrame,
    query_col: str,
    k: int = 10,
    other_id_col: "str | None" = None,
    max_plans: int = 64,
    max_patterns: int = MAX_DISTINCT_PATTERNS,
    with_elements: bool = False,
    salt_buckets: "int | None" = None,
    broadcast_queries: "bool | None" = None,
    syntax: str = "json",
    default_field: str = "text",
    dedup_queries: bool = False,
    prepared: "DataFrame | None" = None,
) -> DataFrame:
    """E7 with a fully general query generator: each row of ``other``
    carries its OWN query tree in ``query_col`` (canonical or any valid
    JSON from `plans.serde.query_to_json`; or, with
    ``syntax="lucene"``, a Lucene-ish saved-search STRING parsed per
    row through the Q12 grammar with ``default_field``), and
    structurally different rows execute in the same call — row 1 a
    term, row 2 a phrase, row 3 a filtered boolean.

    Returns ``other.* + (match_doc_id, score, rank)`` flat rows, top-k
    per row by the engine's one rank order (`search._rank_order`:
    ``(round(score, 6) desc, doc_id asc)``), left join (rows whose query
    matches nothing — or whose query analyzes to nothing, or is NULL —
    keep NULL match columns); the `search.query_join` contract.
    ``with_elements`` joins the match payload back (broadcast — bounded
    by |other|·k hits only when the hits side is small; at corpus-scale
    ``other`` the join shuffles on match_doc_id as usual).

    Invalid rows (malformed JSON, unknown fields, phrase on a
    positions=False column) raise a driver-side ``ValueError`` naming
    the first failure — detected by a bounded probe on the normalized
    frame, not a task crash.

    The normalized per-row shape frame is persisted for the branch fan-
    out and registered on the index (`SearchIndex.register_cache`);
    call ``index.release_caches()`` to free it in long-lived sessions.

    ``dedup_queries`` (default OFF, mirroring `search.query_join`):
    rows carrying EQUAL query trees execute ONCE — tiers run per
    distinct canonical tree, the top-k window runs per distinct tree,
    and only the k-bounded results fan back to the original rows by
    the sha256 execution key. Turn it on for duplicate-heavy (zipfian)
    query logs; on all-distinct inputs the extra dropDuplicates
    shuffle and fan-back join buy nothing.

    ``prepared``: a frame from :func:`prepare_dsl_queries` — skips the
    per-call pandas-UDF normalization (repeated joins of one standing
    registry). Must have been prepared from THIS ``other`` frame with
    the same id/query columns; caller owns its cache.
    """
    if other_id_col is None and prepared is not None:
        raise ValueError(
            "prepared requires an explicit other_id_col — a "
            "synthesized id cannot match the prepared frame's ids"
        )
    other, other_id_col, internal = _key_rows(other, other_id_col)
    nz, unioned = _dsl_column_scored_union(
        index,
        other,
        query_col,
        other_id_col,
        max_plans=max_plans,
        max_patterns=max_patterns,
        broadcast_queries=broadcast_queries,
        syntax=syntax,
        default_field=default_field,
        dedup_queries=dedup_queries,
        prepared=prepared,
    )

    if unioned is None:
        # every query NULL / analyzed-to-nothing: a type-correct empty
        # ranked frame so the left join yields all-NULL match columns
        ranked = (
            nz.select("query_id")
            .limit(0)
            .select(
                "query_id",
                F.lit(None).cast("long").alias("match_doc_id"),
                F.lit(None).cast("double").alias(SCORE),
                F.lit(None).cast("int").alias("rank"),
            )
        )
    else:
        ranked = topk_per_group(
            unioned,
            ["query_id"],
            _rank_order(),
            k=k,
            salt_buckets=salt_buckets,
        ).select(
            "query_id", F.col(DOC_ID).alias("match_doc_id"), SCORE, "rank"
        )
        if dedup_queries:
            # the window ran per DISTINCT tree; fan the k-bounded rows
            # back to every original row sharing the execution key
            ranked = _fan_back(ranked, nz)

    # drop the RANKED side's key by reference — a caller id column
    # itself named "query_id" must survive the join
    out = other.join(
        ranked, other[other_id_col] == ranked["query_id"], "left"
    ).drop(ranked["query_id"]).drop(*internal)
    return _attach_elements(out, index.corpus, with_elements)


def percolate_dsl_df(
    index: "SearchIndex",
    queries_df: DataFrame,
    query_col: str,
    id_col: str,
    max_plans: int = 64,
    max_patterns: int = MAX_DISTINCT_PATTERNS,
    broadcast_queries: "bool | None" = None,
    syntax: str = "json",
    default_field: str = "text",
    dedup_queries: bool = True,
    prepared: "DataFrame | None" = None,
) -> DataFrame:
    """Percolation over a standing-query TABLE: the registered queries
    live in ``queries_df`` as a serialized column (the Elasticsearch
    percolator stores queries as documents; `search.percolate_dsl` takes
    a driver-side list — this is the same contract with the registry as
    DATA, so a million standing queries never visit the driver). Returns
    EVERY ``(query_id, doc_id, score)`` match of every registered query
    — no top-k window (percolation asks "which queries fire", not
    "which docs rank best"). Queries with no matches, NULL trees, or
    empty analyzed text contribute no rows.

    Same executor-side shape grouping as :func:`query_join_dsl`; same
    bounded-probe error/plan-budget contracts; same cache registration
    (`SearchIndex.release_caches` frees the normalized frame).

    ``prepared`` (from :func:`prepare_dsl_queries`) skips the per-call
    pandas-UDF normalization — THE percolation economics lever: a
    standing registry is normalized once at registration time, not once
    per document batch (`streaming.percolate_stream_registry` does this
    automatically per stream).

    ``dedup_queries`` defaults ON here (r12, unlike ``query_join_dsl``):
    percolation's cost is MATCH VOLUME (every hit of every registered
    query — no top-k bound), standing registries are duplicate-heavy in
    practice (many alerts share a tree with different owners), and the
    sha256 execution key is already computed during normalization, so
    deduping costs one dropDuplicates over the (small) query side plus
    one hash-keyed fan-back join of the results — while each collapsed
    duplicate saves its entire join+aggregate match volume. Measured on
    a 10k-registry with realistic shape sharing: 11.0 s -> 3.9 s (2.8x)
    with row-identical output (the dedup-on/off equality is
    property-tested); on an all-distinct registry the overhead is the
    one extra shuffle+join (~5% there). Pass ``dedup_queries=False`` for
    registries known to be all-distinct.
    """
    if id_col not in queries_df.columns:
        raise ValueError(
            f"id_col {id_col!r} not in queries_df ({queries_df.columns})"
        )
    nz, unioned = _dsl_column_scored_union(
        index,
        queries_df,
        query_col,
        id_col,
        max_plans=max_plans,
        max_patterns=max_patterns,
        broadcast_queries=broadcast_queries,
        syntax=syntax,
        default_field=default_field,
        op_name="percolate_dsl_df",
        dedup_queries=dedup_queries,
        prepared=prepared,
    )
    if dedup_queries and unioned is not None:
        unioned = _fan_back(unioned, nz)
    if unioned is None:
        return (
            queries_df.select(F.col(id_col).alias("query_id"))
            .limit(0)
            .select(
                "query_id",
                F.lit(None).cast("long").alias(DOC_ID),
                F.lit(None).cast("double").alias(SCORE),
            )
        )
    return unioned


def _fan_back(keyed: DataFrame, nz: DataFrame) -> DataFrame:
    """Map execution-keyed result rows back to every original query row
    sharing the tree: keyed.query_id carries the sha256 execution key, the
    normalized frame carries (original query_id, xkey)."""
    mapping = nz.where(F.col("xkey").isNotNull()).select(
        F.col("query_id").alias("_oid"), "xkey"
    )
    cols = [c for c in keyed.columns if c != "query_id"]
    return (
        keyed.join(mapping, keyed["query_id"] == mapping["xkey"])
        .select(F.col("_oid").alias("query_id"), *cols)
    )


def _normalized_frame(
    other: DataFrame,
    query_col: str,
    other_id_col: str,
    text_cols: dict,
    corpus_cols: set,
    syntax: str,
    default_field: str,
) -> DataFrame:
    """The executor-side normalization plan for a serialized-query
    column: one pandas-UDF pass emitting the `_NORM_SCHEMA` shape
    record per row. Un-persisted — callers decide the cache economics
    (`_dsl_column_scored_union` persists per call and registers on the
    index; `prepare_dsl_queries` persists once for reuse)."""
    if syntax not in ("json", "lucene"):
        raise ValueError(
            f"syntax must be 'json' or 'lucene', got {syntax!r}"
        )

    @pandas_udf(_NORM_SCHEMA)
    def _norm(js: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [
                _normalize_one(
                    v, text_cols, corpus_cols, syntax, default_field
                )
                for v in js
            ]
        )

    return other.select(
        F.col(other_id_col).alias("query_id"),
        _norm(F.col(query_col).cast("string")).alias("_nz"),
    ).select("query_id", "_nz.*")


def prepare_dsl_queries(
    index: "SearchIndex | None",
    queries_df: DataFrame,
    query_col: str,
    id_col: str,
    syntax: str = "json",
    default_field: str = "text",
    text_cols: "dict | None" = None,
    corpus_cols: "set | list | None" = None,
) -> DataFrame:
    """Normalize a standing-query frame ONCE and persist it for reuse:
    pass the result as ``prepared=`` to :func:`percolate_dsl_df` /
    :func:`query_join_dsl` and the per-call pandas-UDF normalization is
    skipped. The win is streaming percolation economics: a registry of
    a million standing queries is normalized once at stream start, not
    once per micro-batch (`streaming.percolate_stream_registry` does
    this automatically). The frame is tied to the CORPUS SCHEMA (field
    validation against ``index.corpus``), not to the index's data, so
    one prepared registry serves every batch index over the same
    schema.

    Caller owns the cache: release with ``.unpersist()`` (streaming's
    ``release_percolator_caches`` covers the registry it prepares);
    the per-call path still registers its own frame on the index.

    Pass ``index=None`` with explicit ``text_cols``/``corpus_cols``
    when preparing BEFORE any index exists (the streaming case: the
    per-batch index is built inside foreachBatch, but the schema is
    known up front)."""
    if id_col not in queries_df.columns:
        raise ValueError(
            f"id_col {id_col!r} not in queries_df ({queries_df.columns})"
        )
    if query_col not in queries_df.columns:
        raise ValueError(
            f"query_col {query_col!r} not in queries_df "
            f"({queries_df.columns})"
        )
    if index is not None:
        c = index.corpus
        text_cols = dict(c.text_cols)
        corpus_cols = set(c.df.columns)
    elif text_cols is None or corpus_cols is None:
        raise ValueError(
            "prepare_dsl_queries needs an index, or explicit text_cols"
            " AND corpus_cols (the streaming case)"
        )
    return _normalized_frame(
        queries_df,
        query_col,
        id_col,
        dict(text_cols),
        set(corpus_cols),
        syntax,
        default_field,
    ).persist()


def _dsl_column_scored_union(
    index: "SearchIndex",
    other: DataFrame,
    query_col: str,
    other_id_col: str,
    max_plans: int,
    max_patterns: int,
    broadcast_queries: "bool | None",
    syntax: str = "json",
    default_field: str = "text",
    op_name: str = "query_join_dsl",
    dedup_queries: bool = False,
    prepared: "DataFrame | None" = None,
):
    """(normalized frame, (query_id, doc_id, score) union-or-None) for a
    frame carrying serialized query trees — the shared core of
    `query_join_dsl` (top-k join-back) and `percolate_dsl_df` (all
    matches). Normalizes the column on the executors, summarizes it
    with one bounded probe and hands both to :func:`_dsl_tiers`. The
    normalized frame is persisted and registered on the index; the
    union is None when no execution tier has any rows.

    ``dedup_queries``: execute once per DISTINCT canonical tree — the
    union's query_id column then carries the sha256 execution key (the
    normalized frame's ``xkey``), and the caller fans results back to
    original ids via ``nz.select(query_id, xkey)``. Opt-in, for
    duplicate-heavy (zipfian) query logs: the hot query's join/agg
    volume is paid once, not once per occurrence."""
    if query_col not in other.columns:
        raise ValueError(
            f"query_col {query_col!r} not in other ({other.columns})"
        )
    if max_plans < 1 or max_patterns < 1:
        raise ValueError("max_plans and max_patterns must be >= 1")
    c = index.corpus

    if prepared is not None:
        # caller-owned normalized frame (prepare_dsl_queries): reused
        # across calls/micro-batches, so it is NOT registered on this
        # index — index.unpersist()/release_caches() must not free it
        nz = prepared
    else:
        nz = _normalized_frame(
            other,
            query_col,
            other_id_col,
            dict(c.text_cols),
            set(c.df.columns),
            syntax,
            default_field,
        ).persist()
        index.register_cache(nz)
    if dedup_queries:
        # execute per distinct tree: re-key the tier input on xkey, one
        # row per distinct query. NULL-xkey rows (error/empty shapes)
        # feed no tier, so they are excluded here — the probe below
        # still reads the FULL nz, so errors keep raising. All tiers
        # read `exe` through the same column names; their plans are
        # untouched (query_id is just string-typed in this mode).
        exe = (
            nz.where(F.col("xkey").isNotNull())
            .withColumn("query_id", F.col("xkey"))
            .dropDuplicates(["query_id"])
        )
    else:
        exe = nz

    # -- ONE bounded probe: the (shape, fsig, canon, fld) groups
    # `_summarize` reads. Group count is bounded when the batch is within
    # budget (sigs + canons <= max_plans plus <= 5 singleton shape
    # groups, each multiplied by at most |text_cols|+1 field rows), so
    # hitting the cap means over budget.
    probe_cap = 2 * max_plans + 8
    nfields = len(c.text_cols) + 1
    row_fields = (
        F.when(
            F.col("shape") == "terms",
            F.array_distinct(F.transform("terms", lambda t: t["field"])),
        )
        .when(F.col("shape") == "phrase", F.array("ph_field"))
        .when(F.col("shape") == "mt", F.array("mt_field"))
        .otherwise(F.array().cast("array<string>"))
    )
    # for a PREPARED registry the probe result is memoized ON the frame
    # object itself: the caller declared the frame static by persisting
    # it, so the bounded collect runs once per registry, not once per
    # document batch. Per-object (not plan-hash-keyed): exact, no
    # collision, garbage-collected with the frame. Per-call frames are
    # NOT memoized — a plan-equal re-read of a mutated source must
    # re-probe.
    cached = (
        getattr(prepared, "_ssq_probe_cache", None)
        if prepared is not None
        else None
    )
    if cached is not None and cached[0] == max_plans:
        groups = cached[1]
    else:
        groups = (
            nz.select(
                "shape",
                "fsig",
                "canon",
                "err",
                F.explode_outer(row_fields).alias("fld"),
            )
            .groupBy("shape", "fsig", "canon", "fld")
            .agg(F.first("err", ignorenulls=True).alias("err"))
            .limit(probe_cap * nfields)
            .collect()
        )
        if prepared is not None:
            prepared._ssq_probe_cache = (max_plans, groups)
    summary = _summarize(groups, op_name, max_plans, cap=probe_cap)

    if "mt" in summary["shapes"]:
        npats = (
            exe.where(F.col("shape") == "mt")
            .select("mt_field", "mt_kind", "mt_pat", "mt_edits")
            .distinct()
            .limit(max_patterns + 1)
            .count()
        )
        _check_patterns(npats, max_patterns)

    from sparksearchengine_spark.plans.serde import query_from_json

    plans = {cn: query_from_json(cn) for cn in summary["canons"]}
    return nz, _dsl_tiers(
        index, exe, other, summary, broadcast_queries, plans
    )


def _summarize(
    groups, op_name: str, max_plans: int, cap: "int | None" = None
) -> dict:
    """The group summary :func:`_dsl_tiers` plans from, out of the
    distinct (shape, fsig, canon, fld, err) groups of a normalized query
    set — the bounded probe's rows for a query column, a Python list for
    a driver list. Raises the first error group as ``ValueError``, and
    raises when the distinct filter signatures plus distinct general
    trees exceed ``max_plans`` (each costs a plan branch). ``cap``: the
    probe's row cap — a probe that hit it saw only part of the set, so
    the set is over budget.

    Summary keys: ``shapes`` present; ``plain_terms`` (any unfiltered
    terms row); ``sigs`` and ``canons`` (sorted distinct filter
    signatures and general plan keys); ``terms`` / ``phrase`` / ``mt``:
    the sorted fields each data tier's rows touch. The join key
    ``field`` is data, so Catalyst cannot prune union branches: each
    tier's scored-postings union is built only over these fields."""
    triples = {(g["shape"], g["fsig"], g["canon"]) for g in groups}
    over_budget = cap is not None and len(triples) >= cap
    if not over_budget:
        for g in groups:
            if g["shape"] == "error":
                raise ValueError(f"{op_name}: {g['err']}")
    sigs = sorted({t[1] for t in triples if t[0] == "terms" and t[1]})
    canons = sorted({t[2] for t in triples if t[0] == "general"})
    if over_budget or len(sigs) + len(canons) > max_plans:
        more = "+" if over_budget else ""
        raise ValueError(
            f"{op_name}: more than max_plans={max_plans} plan-costing "
            f"shapes ({len(sigs)}{more} filter signatures, "
            f"{len(canons)}{more} distinct non-data query trees); each "
            "costs a plan branch. Raise max_plans, restructure queries "
            "toward the data tiers (term classes, phrases, patterns, "
            "num/str filters), or split the batch."
        )

    def _fields(shape: str) -> "list[str]":
        # normalization already validated every field against
        # text_cols, so these are subsets of the searchable columns
        return sorted(
            {g["fld"] for g in groups if g["shape"] == shape and g["fld"]}
        )

    return {
        "shapes": {t[0] for t in triples},
        "plain_terms": any(t[0] == "terms" and t[1] == "" for t in triples),
        "sigs": sigs,
        "canons": canons,
        "terms": _fields("terms"),
        "phrase": _fields("phrase"),
        "mt": _fields("mt"),
    }


def _check_patterns(npats: int, max_patterns: int) -> None:
    if npats > max_patterns:
        raise ValueError(
            f"more than max_patterns={max_patterns} distinct "
            "wildcard/regex/fuzzy patterns — each evaluates against "
            "every vocabulary term; dedupe the query rows or split."
        )


def _dsl_tiers(
    index: "SearchIndex",
    exe: DataFrame,
    other: "DataFrame | None",
    summary: dict,
    broadcast_queries: "bool | None",
    plans: dict,
) -> "DataFrame | None":
    """THE DSL executor: (query_id, doc_id, score) matches of every
    normalized query in ``exe`` (`_NORM_SCHEMA` rows plus ``query_id``),
    or None when no tier has rows. Both entry shapes run through it —
    a query column (`_dsl_column_scored_union`) and a driver list
    (`search._dsl_scored_union`) — planned from the ``summary``
    (:func:`_summarize`). ``broadcast_queries``: True/False forces the
    query-side join strategy; None decides by ``other``'s size
    (`search._hint_query_side`). ``plans`` maps each general-shape plan
    key (the ``canon`` column) to the AST compiled for it."""
    c = index.corpus
    branches: "list[DataFrame]" = []
    shared: dict = {}

    def _scored_union(
        flds: "list[str]", prune_terms: DataFrame, tier: str
    ) -> DataFrame:
        # `SearchIndex.scored_postings_union` of exactly the fields the
        # summary saw in this tier's rows, memoized per (field SET, tier)
        # so tiers touching the same fields share the frame. The tier tag
        # matters ONLY on a term-bucketed index, where the union is the
        # uncached scan pruned to this tier's terms — otherwise
        # collapsing it lets every tier share one cached union instead
        # of building identical plan branches (r9 review finding)
        key = (tuple(flds), tier if index.term_buckets else "")
        if key not in shared:
            shared[key] = index.scored_postings_union(flds, prune_terms)
        return shared[key]

    sigs = summary["sigs"]
    # -- tier 1: weighted terms (+ per-signature filters) ------------------
    if summary["plain_terms"] or sigs:
        tq = exe.where(F.col("shape") == "terms").select(
            "query_id",
            F.col("min_match").alias("_minm"),
            F.explode("terms").alias("_tr"),
        ).select(
            "query_id",
            "_minm",
            F.col("_tr.field").alias("field"),
            F.col("_tr.term").alias("term"),
            F.col("_tr.w").alias("_w"),
        )
        qside = _hint_query_side(tq, other, broadcast_queries)
        agg = (
            _scored_union(
                summary["terms"],
                prune_terms=tq.select("field", "term"),
                tier="terms",
            ).join(qside, ["field", "term"])
            .groupBy("query_id", DOC_ID)
            .agg(
                F.sum(F.col("tscore") * F.col("_w")).alias(SCORE),
                F.count(F.lit(1)).alias("_nm"),
                F.first("_minm").alias("_minm"),
            )
        )
        tmatch = agg.where(F.col("_nm") >= F.col("_minm")).select(
            "query_id", DOC_ID, SCORE
        )
        if not sigs:
            # every terms row is unfiltered: no signature join at all
            branches.append(tmatch)
        else:
            # ONE branch for plain + every signature: a branch per sig
            # would re-run the score aggregation above once per branch
            # (Catalyst does not reliably reuse the exchange across
            # union arms — measured as a doubled scored-postings scan),
            # and that join+agg is the hottest plan in the engine. One
            # broadcast sigmap join, one attrs join over the union of
            # the sigs' fields, and a per-row fsig-dispatched predicate.
            sigmap = exe.where(F.col("shape") == "terms").select(
                "query_id", "fsig", "fvals"
            )
            tm = tmatch.join(
                _hint_query_side(sigmap, other, broadcast_queries),
                "query_id",
            )
            all_fields = sorted(
                {
                    slot.split(":")[1]
                    for sig in sigs
                    for slot in sig.split("|")
                }
            )
            attrs = c.df.select(
                F.col(c.id_col).cast("long").alias(DOC_ID),
                *[F.col(f).alias(f"_a_{f}") for f in all_fields],
            )
            sub = tm.join(attrs, DOC_ID)
            pred = (
                F.col("fsig") == ""
                if summary["plain_terms"]
                else F.lit(False)
            )
            for sig in sigs:
                pred = pred | (
                    (F.col("fsig") == sig) & _sig_predicate_expr(sig)
                )
            branches.append(
                sub.where(pred).select("query_id", DOC_ID, SCORE)
            )

    # -- tier 2: phrases as data -------------------------------------------
    # only fields a phrase row actually names (normalization already
    # rejected phrases on positions=False columns, so every used field
    # carries positions)
    if summary["phrase"]:
        pq = exe.where(F.col("shape") == "phrase").select(
            "query_id",
            F.col("ph_field").alias("field"),
            F.col("ph_n").alias("_n"),
            F.col("ph_maxspan").alias("_maxspan"),
            F.posexplode("ph_terms").alias("qpos", "term"),
        )
        pp = None
        for f in summary["phrase"]:
            # every posting of the field with its positions and tscore
            # (the phrase terms are data, not literals); on a bucketed
            # layout pruned to the buckets the phrase terms touch
            p = index.prune_term_buckets(
                index.postings,
                pq.where(F.col("field") == f).select("term"),
            ).where(F.col("field") == f)
            one = index._score_postings_frame(
                f, p, positions=True
            ).withColumn("field", F.lit(f))
            pp = one if pp is None else pp.unionByName(one)
        joined = pp.join(
            _hint_query_side(pq, other, broadcast_queries),
            ["field", "term"],
        )
        branches.append(_phrase_verify_branch(joined))

    # -- tier 3: multi-term patterns, deduped, one vocabulary scan ---------
    if summary["mt"]:
        mtq = exe.where(F.col("shape") == "mt").select(
            "query_id",
            F.col("mt_field").alias("field"),
            F.col("mt_kind").alias("kind"),
            F.col("mt_pat").alias("pat"),
            F.col("mt_edits").alias("edits"),
        )
        # distinct patterns, capped by the caller (_check_patterns)
        pats = mtq.select("field", "kind", "pat", "edits").distinct()
        # field pushdown at the termstats scan: patterns only evaluate
        # against the vocabularies of fields the summary saw in mt rows
        vocab = index.termstats.select("field", "term").where(
            F.col("field").isin(summary["mt"])
        )
        hit = (
            (F.col("kind") == "like") & F.expr("term like pat")
        ) | (
            (F.col("kind") == "re") & F.expr("term rlike pat")
        ) | (
            (F.col("kind") == "fz")
            & F.length("term").between(
                F.length("pat") - F.col("edits"),
                F.length("pat") + F.col("edits"),
            )
            & (F.levenshtein(F.col("term"), F.col("pat")) <= F.col("edits"))
        )
        matched = (
            vocab.join(F.broadcast(pats), ["field"])
            .where(hit)
            .select("field", "kind", "pat", "edits", "term")
        )
        # fan matched terms back to the query rows by pattern key, then
        # ONE postings join; docs dedupe to constant score 1.0 (the
        # single-query multi-term contract). matched cardinality is
        # data-dependent (patterns x vocabulary) — probed broadcast
        # with a shuffle_hash fallback, same ladder as every other
        # unbounded side
        qterm = mtq.join(
            _hint_data_side(matched), ["field", "kind", "pat", "edits"]
        ).select("query_id", "field", "term")
        branches.append(
            _scored_union(
                summary["mt"],
                prune_terms=matched.select("field", "term"),
                tier="mt",
            ).join(
                _hint_query_side(qterm, other, broadcast_queries),
                ["field", "term"],
            )
            .select("query_id", DOC_ID)
            .distinct()
            .select("query_id", DOC_ID, F.lit(1.0).alias(SCORE))
        )

    # -- tier 4: general shapes, one compiled plan per DISTINCT tree -------
    canons = summary["canons"]
    if canons:
        gids = exe.where(F.col("shape") == "general").select(
            "query_id", F.col("canon").alias("_canon")
        )
        if len(canons) == 1:
            # single distinct canon: the per-branch `_canon` literal
            # would constant-fold the equi-join away and Catalyst then
            # plans a BroadcastNestedLoopJoin with the QUERY-ID side as
            # build side — registry-scale when a million general rows
            # share one tree. The output here is inherently hits x
            # sharing-rows, so attach ids with an explicit crossJoin:
            # broadcast the id frame only when the probe proves it
            # small, else a shuffle-based CartesianProduct (safe at any
            # registry size; the volume IS the result — the
            # shuffle_replicate_nl hint is the cross-join analog of
            # shuffle_hash, since a hash hint has no key to apply to).
            gq = gids.select("query_id")
            # probe the frame actually cross-joined (the general-shape,
            # post-dedup id subset), not the full mixed batch — a large
            # batch with few general rows should still broadcast
            bc = (
                decide_broadcast(gq, BROADCAST_MAX_QUERY_ROWS)
                if broadcast_queries is None
                else broadcast_queries
            )
            side = (
                F.broadcast(gq)
                if bc
                else gq.hint("shuffle_replicate_nl")
            )
            branches.append(
                index.compile(plans[canons[0]])
                .crossJoin(side)
                .select("query_id", DOC_ID, SCORE)
            )
        else:
            cp = None
            for canon in canons:
                compiled = index.compile(plans[canon]).withColumn(
                    "_canon", F.lit(canon)
                )
                cp = compiled if cp is None else cp.unionByName(compiled)
            branches.append(
                cp.join(
                    _hint_query_side(gids, other, broadcast_queries),
                    "_canon",
                ).select("query_id", DOC_ID, SCORE)
            )

    if not branches:
        return None
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    return unioned
