"""Driver-materialization (`.collect()`/`.toPandas()`) allowlist.

Companion to `test_broadcast_allowlist.py` (r8 verdict #3): the same
enforce-the-rule-with-a-test discipline applied to the OTHER way an
operator silently stops being distributed — materializing a DataFrame
on the driver. At 100 TB an unbounded collect is an OOM or an
hours-long stall; every one of these sites must have a bound that is
independent of corpus size.

`first()` / `head()` / `take(n)` are intrinsically bounded and exempt.
Legitimate bounds for collect/toPandas (same vocabulary as the
broadcast allowlist, plus the structural ones that recur here):

- ``1-row``: scalar aggregate (count/sum/max frame).
- ``per-field``: one row per indexed field (schema-bounded).
- ``per-partition``: one row per partition of a frame whose partition
  count the operator itself set.
- ``per-group``: one row per user-supplied group key (mixture domains,
  languages) — bounded by the pipeline's own configuration.
- ``fixed-dim``: structural constant (hash buckets, bloom words,
  codebook cells), independent of data volume.
- ``k-bounded``: top-k/limit output, ≤ k (or |queries|·k) rows.
- ``cap``: a loud ValueError bounds the rows before the collect.
- ``probed``: a bounded-probe pattern (limit(cap+1) then error/branch).
- ``driver-literal``: collects back something the driver itself built.
- ``file-listing``: one row per input FILE — the same driver-side
  metadata pass every Spark file source performs.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "sparksearchengine_spark")

# (relative path, enclosing qualname) -> (count, bound annotation)
ALLOWLIST = {
    ("operators/classify.py", "classifier_fit"):
        (2, "1-row: loss/count frame; fixed-dim: <= dim weight rows "
            "(training-set-bounded vocab)"),
    ("operators/clustering.py", "default_centroids"):
        (1, "k-bounded: limit(k) seed rows, TakeOrderedAndProject"),
    ("operators/clustering.py", "kmeans_fit"):
        (1, "fixed-dim: k centroid rows per iteration"),
    ("operators/decontam.py", "bloom_gram_filter"):
        (2, "probed: limit(small_cap+1) branch probe; fixed-dim: m/64 "
            "packed bloom words"),
    ("operators/decontam.py", "collocations"):
        (2, "1-row: unigram/bigram total frames"),
    ("operators/decontam.py", "unigram_logprob"):
        (1, "1-row: corpus token total"),
    ("operators/decontam.py", "vocab_stats"):
        (1, "1-row: vocabulary total"),
    ("operators/dsir.py", "dsir_bucket_logratio"):
        (4, "fixed-dim: two hash-bucket count frames (<= dim rows); "
            "1-row: two totals"),
    ("operators/dsir.py", "dsir_log_weights"):
        (1, "1-row: the bucket==-1 sentinel row"),
    ("operators/index.py", "SearchIndex._from_postings"):
        (1, "per-field: doc_count/avgdl stats, one row per text field "
            "(the one stats path of build, merge, upsert and the "
            "streamed-postings index)"),
    ("operators/index.py", "upsert_index"):
        (1, "k-bounded: limit(1) duplicate witness"),
    ("operators/joindsl.py", "_dsl_column_scored_union"):
        (1, "probed: bounded shape probe (limit(cap+1), loud error), "
            "memoized on the frame object"),
    ("operators/evaluate.py", "classification_metrics"):
        (3, "1-row: grouped-score totals, AUC/AP aggregates, and the "
            "confusion aggregate"),
    ("operators/linkgraph.py", "hits"):
        (3, "1-row: the two L2-norm aggregates and the L1-delta "
            "aggregate (per iteration)"),
    ("operators/linkgraph.py", "pagerank"):
        (2, "1-row: dangling-mass aggregate and L1-delta aggregate "
            "(one each per iteration)"),
    ("operators/profile.py", "sketch_accuracy_check"):
        (2, "1-row: exact vs sketch aggregate frames"),
    ("operators/sampling.py", "group_token_totals"):
        (1, "per-group: one token-total row per mixture group (user-"
            "configured domain: languages/sources)"),
    ("operators/search.py", "aggregating_search"):
        (1, "k-bounded: reference E1 is BY CONTRACT a driver-side "
            "list[(Row, score)], <= k rows"),
    ("operators/search.py", "batch_search"):
        (1, "per-field: distinct field names of the batch (schema-"
            "bounded; fields are index config, not data)"),
    ("operators/search_ext.py", "more_like_this_text"):
        (1, "driver-literal: idfs filtered to the like-text's own "
            "analyzed terms (isin on driver literals)"),
    ("operators/search_ext.py", "prf_expand_search"):
        (1, "k-bounded: limit(fb_terms) feedback terms"),
    ("operators/search_ext.py", "rescore_search"):
        (1, "k-bounded: window_size base hits"),
    ("operators/similarity.py", "cosine_topk_arrow"):
        (1, "cap: COLLECT_MAX_QUERY_ROWS loud error (brute-force tier "
            "routes to ANN above the cap)"),
    ("operators/similarity.py", "ivf_search"):
        (1, "cap+fixed-dim: distinct probe cells, <= |queries|*nprobe "
            "under the query cap"),
    ("operators/similarity.py", "ivfpq_search"):
        (1, "cap+fixed-dim: distinct probe cells, <= |queries|*nprobe "
            "under the query cap"),
    ("operators/similarity.py", "random_projection"):
        (1, "1-row: limit(1) dimensionality probe"),
    ("operators/spelling.py", "correct_queries"):
        (1, "1-row: max token-position frame"),
    ("operators/stats.py", "_measured_size_bytes"):
        (1, "1-row: summed byte-estimate aggregate (probe-only path "
            "for RDD-backed frames)"),
    ("operators/stats.py", "indices_info"):
        (1, "per-partition: M4/M5 per-partition info is the operator's "
            "contract (reference getIndicesInfo)"),
    ("operators/stats.py", "validate_index"):
        (1, "1-row: integrity-audit aggregate frame"),
    ("sources/warc.py", "_paths_frame"):
        (1, "file-listing: one path row per WARC file (driver metadata "
            "pass; gzip files are the parallelism unit — shared by "
            "read_warc and the fused warc_outlink_edges)"),
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
                        if isinstance(f, ast.Attribute) and f.attr in (
                            "collect",
                            "toPandas",
                            "toLocalIterator",
                        ):
                            key = (rel, ".".join(stack) or "<module>")
                            sites[key] = sites.get(key, 0) + 1
                    walk(child, ns)

            walk(tree, [])
    return sites


def test_every_collect_site_is_allowlisted():
    found = _find_sites()
    new = {k: c for k, c in found.items() if k not in ALLOWLIST}
    assert not new, (
        "NEW .collect()/.toPandas() call site(s) with no declared bound "
        "— a driver materialization must be provably corpus-size-"
        "independent (1-row agg, per-field/per-partition/fixed-dim, "
        "k-bounded, capped, or probed). Add the site to ALLOWLIST in "
        f"this file with an honest bound annotation: {sorted(new)}"
    )
    grew = {
        k: (ALLOWLIST[k][0], c)
        for k, c in found.items()
        if c > ALLOWLIST[k][0]
    }
    assert not grew, (
        "collect site count grew inside allowlisted function(s) "
        f"(allowed, found): {grew} — re-justify in ALLOWLIST"
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
        "fixed-dim", "per-field", "per-partition", "per-group",
        "file-listing",
    )
    bad = sorted(
        k for k, (_, note) in ALLOWLIST.items()
        if not any(c in note for c in classes)
    )
    assert not bad, f"allowlist entries missing a bound class: {bad}"
