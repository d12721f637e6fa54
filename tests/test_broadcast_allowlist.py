"""Broadcast/crossJoin call-site allowlist (r8 verdict #3).

The r8 vocabulary-broadcast fix missed two call sites because nothing
ENFORCED the rule that every broadcast side must have a known bound.
This lint-style test walks the package AST for ``F.broadcast(`` and
``.crossJoin(`` call sites and asserts each one appears on the
allowlist below, annotated with the bound that justifies it. A new
site fails the build until its author states the bound here — the
legitimate bounds are:

- ``driver-literal``: the side is built from a driver-side Python list
  (query terms, id lists) — bounded by driver memory before Spark sees it.
- ``k-bounded``: the side is the output of a top-k/limit — ≤ k (or
  |queries|·k) rows by construction.
- ``probed``: the side went through ``decide_broadcast`` (or a caller
  flag) and only broadcasts when the probe proves it under budget; the
  fallback is shuffle_hash with THAT side as build side.
- ``cap``: a loud ValueError bounds the side's row count before the
  broadcast (dictionary/pattern/collect caps).
- ``1-row``: a scalar aggregate (count/quantile frame).
- ``fixed-dim``: cardinality is a structural constant (hash buckets,
  codebook cells), independent of data volume.

crossJoin sites additionally must have a bounded side or an explicitly
probed/shuffle-replicated strategy (the joindsl single-canon tier).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "sparksearchengine_spark")

# (relative path, enclosing qualname, kind) -> (count, bound annotation)
ALLOWLIST = {
    ("operators/decontam.py", "_maybe_broadcast", "broadcast"):
        (1, "probed: decide_broadcast ladder, shuffle_hash fallback"),
    ("operators/decontam.py", "bloom_decontaminate", "broadcast"):
        (1, "1-row: packed bloom bitmap frame, join-on-TRUE fused probe"),
    ("operators/decontam.py", "collocations", "broadcast"):
        (2, "probed: n_vocab known from the stats collect, "
            "shuffle_hash fallback on both unigram sides"),
    ("operators/decontam.py", "embedding_decontam", "broadcast"):
        (1, "cap: eval set hard-capped at MAX_EVAL_EMBED_ROWS"),
    ("operators/decontam.py", "perplexity_buckets", "broadcast"):
        (2, "1-row-per-group: quantile frame, one row per group key"),
    ("operators/prefix.py", "distributed_prefix", "broadcast"):
        (1, "fixed-dim: prefix-offset frame, <= partitions x groups "
            "rows by construction"),
    ("operators/decontam.py", "perplexity_buckets", "crossJoin"):
        (1, "1-row: global quantile frame"),
    ("operators/dsir.py", "dsir_bucket_logratio", "broadcast"):
        (1, "fixed-dim: one row per hash bucket, driver-built, "
            "small-dim path only (huge dims stay distributed)"),
    ("operators/evaluate.py", "pr_curve", "broadcast"):
        (1, "1-row: total-positives frame"),
    ("operators/evaluate.py", "pr_curve", "crossJoin"):
        (1, "1-row: total-positives frame"),
    ("operators/linkgraph.py", "rank_pages", "broadcast"):
        (1, "probed: decide_broadcast ladder on the one-row-per-domain "
            "rank side, shuffle_hash with that side as build otherwise"),
    ("operators/index.py", "SearchIndex.hint_vocab_side", "broadcast"):
        (1, "probed: THE vocab ladder — broadcast iff "
            "<= VOCAB_BROADCAST_MAX_ROWS, else shuffle_hash build side"),
    ("operators/index.py", "SearchIndex.prune_term_buckets", "broadcast"):
        (1, "fixed-dim: distinct bucket ids, <= term_buckets rows "
            "(the DPP semi-join side)"),
    ("operators/index.py", "upsert_index", "broadcast"):
        (2, "probed (touched ids, decide_broadcast 5M budget) + "
            "driver-literal (deletes list form only)"),
    ("operators/joindsl.py", "_dsl_tiers", "broadcast"):
        (2, "cap: pats <= max_patterns (loud ValueError); "
            "probed: gq single-canon id frame (decide_broadcast)"),
    ("operators/joindsl.py", "_dsl_tiers", "crossJoin"):
        (1, "probed: broadcast iff gq under budget, else "
            "shuffle_replicate_nl — never a BNLJ build side"),
    ("operators/profile.py", "skew_report", "broadcast"):
        (1, "1-row: global count frame"),
    ("operators/profile.py", "skew_report", "crossJoin"):
        (1, "1-row: global count frame"),
    ("operators/search.py", "_hint_data_side", "broadcast"):
        (1, "probed: THE data-side ladder (trust_bytes=False), "
            "shuffle_hash fallback"),
    ("operators/search.py", "_hint_query_side", "broadcast"):
        (1, "probed: THE query-side ladder, shuffle_hash fallback"),
    ("operators/search.py", "_join_elements", "broadcast"):
        (1, "k-bounded: hits frame, <= |queries|*k rows"),
    ("operators/search.py", "batch_search_dsl", "broadcast"):
        (1, "driver-literal: k_by_query map frame"),
    ("operators/search.py", "get_elements", "broadcast"):
        (1, "driver-literal: requested id list"),
    ("operators/search_ext.py", "bm25f_search", "broadcast"):
        (1, "driver-literal: per-query-term df counts (|qterms| rows)"),
    ("operators/search_ext.py", "explain_scores", "broadcast"):
        (4, "driver-literal: query-term frame and its termstats/cf "
            "joins (all <= |qterms| rows, query side of the join)"),
    ("operators/search_ext.py", "prf_expand_search", "broadcast"):
        (2, "k-bounded: fb_docs feedback hits; driver-literal: "
            "expanded term weights (qterms + fb_terms rows)"),
    ("operators/search_ext.py", "rescore_search", "broadcast"):
        (1, "k-bounded: window_size base hits (left_semi probe side)"),
    ("operators/similarity.py", "cosine_topk", "broadcast"):
        (1, "cap: COLLECT_MAX_QUERY_ROWS loud error"),
    ("operators/similarity.py", "cosine_topk", "crossJoin"):
        (1, "cap: query side collected under COLLECT_MAX_QUERY_ROWS"),
    ("operators/similarity.py", "cosine_topk_quantized", "broadcast"):
        (1, "cap: COLLECT_MAX_QUERY_ROWS loud error"),
    ("operators/similarity.py", "cosine_topk_quantized", "crossJoin"):
        (1, "cap: query side collected under COLLECT_MAX_QUERY_ROWS"),
    ("operators/similarity.py", "hard_negatives", "broadcast"):
        (1, "cap: anchor set under COLLECT_MAX_QUERY_ROWS"),
    ("operators/similarity.py", "hard_negatives", "crossJoin"):
        (1, "cap: anchor side bounded as above"),
    ("operators/similarity.py", "ivf_cosine_topk", "broadcast"):
        (1, "cap+fixed-dim: queries x nprobe cell probes"),
    ("operators/similarity.py", "ivf_search", "broadcast"):
        (1, "cap+fixed-dim: queries x nprobe cell probes"),
    ("operators/similarity.py", "ivfpq_search", "broadcast"):
        (2, "cap+fixed-dim: query probe/LUT frames, queries x nprobe"),
    ("operators/similarity.py", "lsh_cosine_topk", "broadcast"):
        (1, "cap: banded query side, |queries| x bands rows"),
    ("operators/similarity.py", "pq_topk", "broadcast"):
        (2, "cap+fixed-dim: query LUT frames under COLLECT cap"),
    ("operators/similarity.py", "pq_topk", "crossJoin"):
        (1, "cap: query side bounded as above"),
    ("operators/spelling.py", "correct_queries", "broadcast"):
        (4, "cap: distinct tokens <= MAX_SPELL_DISTINCT_TOKENS (loud "
            "error); candidate term sets bounded by tokens x top-n"),
    ("operators/stats.py", "significant_terms", "broadcast"):
        (1, "1-row: matched-set size frame"),
    ("operators/stats.py", "significant_terms", "crossJoin"):
        (1, "1-row: matched-set size frame"),
    ("operators/textstats.py", "dictionary_tag", "broadcast"):
        (1, "cap: DICTIONARY_MAX_PHRASES loud error"),
    ("plans/compiler.py", "_scored_postings", "broadcast"):
        (1, "driver-literal: termstats filtered to the query's own "
            "terms (isin on driver literals) before the broadcast"),
}


def _find_sites():
    sites: dict = {}
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            # explicit utf-8: the locale default breaks on the package's
            # non-ASCII docstrings under C/POSIX CI locales (r11 review)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())

            def walk(node, stack):
                for child in ast.iter_child_nodes(node):
                    ns = stack
                    if isinstance(
                        child,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    ):
                        ns = stack + [child.name]
                    if isinstance(child, ast.Call):
                        f = child.func
                        kind = None
                        if (
                            isinstance(f, ast.Attribute)
                            and f.attr == "broadcast"
                            and isinstance(f.value, ast.Name)
                            and f.value.id == "F"
                        ):
                            kind = "broadcast"
                        elif (
                            isinstance(f, ast.Attribute)
                            and f.attr == "crossJoin"
                        ):
                            kind = "crossJoin"
                        if kind:
                            key = (rel, ".".join(stack) or "<module>", kind)
                            sites[key] = sites.get(key, 0) + 1
                    walk(child, ns)

            walk(tree, [])
    return sites


def test_every_broadcast_site_is_allowlisted():
    found = _find_sites()
    new = {k: c for k, c in found.items() if k not in ALLOWLIST}
    assert not new, (
        "NEW broadcast/crossJoin call site(s) with no declared bound — "
        "either give the side a probe (decide_broadcast / "
        "_hint_query_side / _hint_data_side / hint_vocab_side), a loud "
        "cap, or add it to ALLOWLIST in this file with an honest bound "
        f"annotation: {sorted(new)}"
    )
    grew = {
        k: (ALLOWLIST[k][0], c)
        for k, c in found.items()
        if c > ALLOWLIST[k][0]
    }
    assert not grew, (
        "broadcast/crossJoin site count grew inside allowlisted "
        f"function(s) (allowed, found): {grew} — re-justify the new "
        "call in ALLOWLIST"
    )


def test_allowlist_has_no_stale_entries():
    found = _find_sites()
    stale = sorted(k for k in ALLOWLIST if k not in found)
    assert not stale, (
        f"stale ALLOWLIST entries (site no longer exists): {stale}"
    )


def test_every_entry_names_a_bound_class():
    classes = (
        "driver-literal", "k-bounded", "probed", "cap", "1-row",
        "fixed-dim",
    )
    bad = sorted(
        k for k, (_, note) in ALLOWLIST.items()
        if not any(c in note for c in classes)
    )
    assert not bad, f"allowlist entries missing a bound class: {bad}"
