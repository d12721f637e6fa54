"""Persist call-site allowlist — the stage-race guard, build-enforced
(r10 verdict #2).

The r10 stage-race find: a ``persist()``-ed DataFrame whose FIRST
consumer fans out into multiple INDEPENDENT stages of one job is
recomputed once per branch (the scheduler launches ready stages
concurrently; each finds cold cache partitions). The r10 fix swept the
package with ``operators/cache.py::materialize`` (persist + one
deterministic count), but the sweep was a manual audit — nothing
stopped the next fan-out persist from regressing. This lint makes the
invariant a build failure:

Every ``.persist()`` / ``.cache()`` call site in the package must
either

* be AUTO-CLEARED — the persist result is bound to a name and that
  name has a ``.count()`` call later in the same function (the
  ``materialize`` pattern, inlined or via the helper; assignment +
  count is exactly what ``materialize()`` does), or
* carry an ALLOWLIST entry below documenting why no count is needed.
  The legitimate annotations:

  - ``single-chain``: the frame's first consumer is ONE full-pass
    action (an aggregate collect, a probe count) that materializes the
    cache before anything fans out — the count would be a redundant
    extra job (the cases ``operators/cache.py``'s docstring names).
  - ``caller-materialized``: a helper returns the persisted frame and
    every in-package caller materializes it before fan-out.
  - ``fanout-tolerable``: a branch MAY find the cache cold, but the
    recompute is one cheap partial aggregation over an already-cached
    upstream (never a source re-read), and the standard entry points
    materialize it anyway.

A new ``.persist()`` (or ``.cache()`` — the exact synonym, matched so
it cannot be used to sidestep the lint) with none of the above fails
this test until its author either materializes it or states the
justification here.

Known heuristic limit (documented, not enforced): the auto-clear
accepts a ``<name>.count()`` ANYWHERE later in the function — it does
not prove the count runs before the first fan-out consumer. AST-level
consumer ordering is not decidable here; the lint's job is to force a
conscious decision at every site, and a count placed after the fan-out
would be an odd thing to write on purpose.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "sparksearchengine_spark")

# (relative path, enclosing qualname) -> (site count, justification)
ALLOWLIST = {
    ("operators/dedup.py", "minhash_lsh_dedup"): (
        1,
        "single-chain: on the default capped path the giant-bucket "
        "guard's eager oversized-bucket count is the first action over "
        "ga (grams -> signatures -> banded explode is one chain) and "
        "populates ga's cache before the band/verify branches fan out; "
        "the uncapped branch of the same site uses materialize()",
    ),
    ("operators/dedup.py", "prepare_lsh_corpus"): (
        2,
        "single-chain: the band table derives from the gram cache in "
        "one chain, so the first eager pass — the giant-bucket guard's "
        "oversized-bucket count (capped) or the band-table materialize "
        "(uncapped) — runs the gram pipeline once and fills both "
        "caches before any consumer fans out (r13); the full band "
        "table's own first consumer is that same guard count",
    ),
    ("operators/dedup.py", "winnow_overlap_pairs"): (
        1,
        "single-chain: on the default capped path the stop-fingerprint "
        "guard's eager oversized-bucket count is the first action over "
        "the exploded fingerprint table (one chain) and evaluates the "
        "interpreted winnowing selection exactly once into the cache "
        "before the pair-join arms and sizes fan out (r13); the "
        "cap-disabled branch of the same site uses materialize()",
    ),
    ("operators/dedup.py", "simhash_dedup"): (
        1,
        "single-chain: on the default capped path the giant-bucket "
        "guard's eager oversized-bucket count is the first action over "
        "sh (the banded posexplode is one chain) and materializes the "
        "cache before the join arms / Hamming verify fan out (r13); "
        "the uncapped branch of the same site uses materialize()",
    ),
    ("operators/dedup.py", "minhash_lsh_candidates"): (
        1,
        "single-chain: the capped path's first action is the "
        "giant-bucket guard's eager oversized-bucket count, whose "
        "banded explode reads sigs in one chain and materializes the "
        "cache before the candidate-join arms fan out (r13 — the r12 "
        "change-#5 job trim, one level up); the uncapped path never "
        "persists sigs",
    ),
    ("operators/decontam.py", "unigram_logprob"): (
        1,
        "single-chain: the total tf-sum collect is the first action "
        "over the exploded token frame (one chain through the freq "
        "aggregate) and materializes its cache before the vocab build "
        "and scoring-probe consumers fan out; lifecycle via _lm_caches",
    ),
    ("operators/decontam.py", "collocations"): (
        1,
        "single-chain: the n_tokens/n_vocab stats agg collect is the "
        "first action over uni and materializes it before the ua/ub "
        "join sides fan out",
    ),
    ("operators/dsir.py", "dsir_bucket_logratio"): (
        2,
        "single-chain: the t_raw/t_tgt sum collects materialize rc/tc "
        "before the full_outer ratio join fans out (named in "
        "operators/cache.py's skip list)",
    ),
    ("operators/dsir.py", "dsir_log_weights"): (
        1,
        "single-chain: dsir_bucket_logratio's rc aggregate is the "
        "first action over the exploded feature frame (named in "
        "operators/cache.py's skip list)",
    ),
    ("operators/evaluate.py", "classification_metrics"): (
        1,
        "single-chain: distributed_prefix's partition-offset collect "
        "is the first action over grouped and materializes it before "
        "the totals/confusion branches (named in operators/cache.py's "
        "skip list)",
    ),
    ("operators/index.py", "SearchIndex.collection_stats"): (
        1,
        "single-chain: per-call LM-scoring join is the only consumer; "
        "memoized per field, <= |vocab| rows to recompute from cached "
        "postings",
    ),
    ("operators/index.py", "SearchIndex.scored_postings"): (
        1,
        "single-chain: non-phrase consumers read it through one join "
        "chain; the phrase compiler's fan-out path wraps ITS frame in "
        "materialize() (plans/compiler.py stage-race guard, r10)",
    ),
    ("operators/index.py", "SearchIndex._from_postings"): (
        2,
        "single-chain (postings): the stats_rows collect is the first "
        "action and materializes it; fanout-tolerable (termstats): a "
        "cold branch recomputes ONE partial agg over the cached "
        "postings, never the tokenize pipeline — and the build entry "
        "points count both frames at build time. The one stats path "
        "of build_index, merge_indexes and upsert_index",
    ),
    ("operators/joindsl.py", "prepare_dsl_queries"): (
        1,
        "caller-materialized: the prepared-registry contract — "
        "streaming/stream.py::prepare_percolator counts it at prepare "
        "time (r10 registry materialization), and the batch path's "
        "first consumer is _dsl_column_scored_union's full-pass error "
        "probe",
    ),
    ("operators/joindsl.py", "_dsl_column_scored_union"): (
        1,
        "single-chain: the error-shape probe reads the FULL nz frame "
        "as the first action, materializing it before the shape tiers "
        "fan out",
    ),
    ("operators/linkgraph.py", "_derive_nodes"): (
        1,
        "caller-materialized: every caller (pagerank, hits) "
        "immediately counts the returned node frame (n_nodes)",
    ),
    ("operators/linkgraph.py", "pagerank"): (
        2,
        "single-chain: the flowed-mass agg collect is the first "
        "action over contribs and materializes it before the "
        "new-rank join; the degree-joined edge frame e is likewise "
        "single-reference in every consuming plan (one contribs join "
        "per iteration, its deg+probe branches read the MATERIALIZED "
        "e0 cache), so iteration 1's collect populates e's cache "
        "without a fan-out race and a pre-count would be one extra "
        "job plus a full scan of the operator's largest frame",
    ),
    ("operators/linkgraph.py", "hits"): (
        4,
        "single-chain: the L2-norm agg collect is the first action "
        "over auth_raw/hub_raw and materializes each before the "
        "normalize join; the e_s/e_d edge layouts are each "
        "single-reference per consuming plan (auth_raw / hub_raw, "
        "one reference per iteration, built from the MATERIALIZED e0 "
        "cache), so iteration 1's two norm collects populate both "
        "without a fan-out race — pre-counts would be two extra jobs "
        "plus two full edge-layout scans",
    ),
    ("operators/similarity.py", "ivfpq_build"): (
        1,
        "single-chain: pq_train's first k-means assignment pass is "
        "one action over the staged frame before the encode "
        "projection reads it again",
    ),
}


def _persist_sites(tree: ast.AST):
    """All ``.persist()`` / ``.cache()`` call sites in a module AST.

    Returns ``{(qualname): [(lineno, cleared)]}`` where ``cleared``
    means the persist result is bound to a name that has a later
    ``.count()`` call in the same function scope (the materialize
    pattern — ``operators/cache.py::materialize`` itself clears this
    way). Nested defs are separate scopes.
    """
    out: dict[str, list[tuple[int, bool]]] = {}

    def scan_function(fn_node, qualname):
        sites: list[tuple[int, str | None]] = []
        counts: list[tuple[int, str]] = []

        def target_of(assign: ast.AST, call: ast.Call) -> str | None:
            # annotated ('e: DataFrame = df.persist()') and walrus
            # ('(e := df.persist())') bindings count too (r11 ADVICE:
            # treating them as unbound forced spurious allowlisting)
            if isinstance(assign, ast.AnnAssign):
                if assign.value is not None and call in ast.walk(
                    assign.value
                ):
                    return ast.unparse(assign.target)
                return None
            if isinstance(assign, ast.NamedExpr):
                if call in ast.walk(assign.value):
                    return ast.unparse(assign.target)
                return None
            if len(assign.targets) != 1:
                return None
            t, v = assign.targets[0], assign.value
            if (
                isinstance(t, ast.Tuple)
                and isinstance(v, ast.Tuple)
                and len(t.elts) == len(v.elts)
            ):
                for te, ve in zip(t.elts, v.elts):
                    if call in ast.walk(ve):
                        return ast.unparse(te)
                return None
            return ast.unparse(t)

        def walk(node, cur_assign):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue  # separate scope
                ca = (
                    child
                    if isinstance(
                        child, (ast.Assign, ast.AnnAssign, ast.NamedExpr)
                    )
                    else cur_assign
                )
                if isinstance(child, ast.Call) and isinstance(
                    child.func, ast.Attribute
                ):
                    if child.func.attr in ("persist", "cache"):
                        tgt = target_of(ca, child) if ca else None
                        sites.append((child.lineno, tgt))
                    elif child.func.attr == "count":
                        counts.append(
                            (child.lineno, ast.unparse(child.func.value))
                        )
                walk(child, ca)

        walk(fn_node, None)
        for lineno, tgt in sites:
            cleared = tgt is not None and any(
                name == tgt and cline > lineno for cline, name in counts
            )
            out.setdefault(qualname, []).append((lineno, cleared))

    def visit(node, stack):
        for child in ast.iter_child_nodes(node):
            ns = stack
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                ns = stack + [child.name]
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    scan_function(child, ".".join(ns))
            visit(child, ns)

    visit(tree, [])
    return out


def _package_violations():
    violations: dict[tuple[str, str], int] = {}
    found_keys: set[tuple[str, str]] = set()
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            # explicit utf-8 (package sources contain non-ASCII; the
            # locale default breaks under C/POSIX CI locales)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for qualname, sites in _persist_sites(tree).items():
                uncleared = [ln for ln, cleared in sites if not cleared]
                if uncleared:
                    key = (rel, qualname)
                    found_keys.add(key)
                    violations[key] = len(uncleared)
    return violations, found_keys


def test_every_fanout_persist_is_materialized_or_allowlisted():
    violations, _ = _package_violations()
    new = {k: c for k, c in violations.items() if k not in ALLOWLIST}
    assert not new, (
        "NEW .persist() site(s) with neither a later <name>.count() "
        "(the materialize pattern — use operators/cache.py::materialize "
        "when the first consumer fans out) nor an ALLOWLIST entry "
        "documenting the single-chain first consumer: "
        f"{sorted(new)}"
    )
    grew = {
        k: (ALLOWLIST[k][0], c)
        for k, c in violations.items()
        if c > ALLOWLIST[k][0]
    }
    assert not grew, (
        "un-materialized persist count grew inside allowlisted "
        f"function(s) (allowed, found): {grew} — materialize the new "
        "site or re-justify it in ALLOWLIST"
    )


def test_allowlist_has_no_stale_entries():
    """An entry whose site got materialized (or deleted) must leave the
    list — the allowlist documents CURRENT exceptions only."""
    violations, _ = _package_violations()
    stale = sorted(k for k in ALLOWLIST if k not in violations)
    assert not stale, (
        f"stale ALLOWLIST entries (site gone or now auto-cleared): {stale}"
    )


def test_every_entry_names_a_justification_class():
    classes = ("single-chain", "caller-materialized", "fanout-tolerable")
    bad = sorted(
        k
        for k, (_, note) in ALLOWLIST.items()
        if not any(c in note for c in classes)
    )
    assert not bad, f"allowlist entries missing a justification class: {bad}"


def test_analyzer_flags_unmaterialized_fanout_persist():
    """Negative self-test (r10 verdict #2 'done' criterion): a
    deliberately un-materialized fan-out persist IS flagged, and the
    two sanctioned shapes are NOT."""
    flagged = ast.parse(
        "def bad(df):\n"
        "    e = df.select('a').persist()\n"  # no count -> flagged
        "    return e.join(e, 'a')\n"
    )
    sites = _persist_sites(flagged)["bad"]
    assert sites == [(2, False)]

    inline = ast.parse(
        "def good(df):\n"
        "    e = df.select('a').persist()\n"
        "    e.count()\n"
        "    return e.join(e, 'a')\n"
    )
    assert _persist_sites(inline)["good"] == [(2, True)]

    # count BEFORE the persist does not clear it
    wrong_order = ast.parse(
        "def sly(df):\n"
        "    df.count()\n"
        "    e = df.persist()\n"
        "    return e\n"
    )
    assert _persist_sites(wrong_order)["sly"] == [(3, False)]

    # the helper itself (persist then count on the same name) clears
    helper = ast.parse(
        "def materialize(df):\n"
        "    df = df.persist()\n"
        "    df.count()\n"
        "    return df\n"
    )
    assert _persist_sites(helper)["materialize"] == [(2, True)]

    # .cache() is the exact synonym of .persist() and must not be a
    # lint bypass (r11 review)
    synonym = ast.parse(
        "def sneaky(df):\n"
        "    e = df.select('a').cache()\n"
        "    return e.join(e, 'a')\n"
    )
    assert _persist_sites(synonym)["sneaky"] == [(2, False)]

    # annotated and walrus bindings are bindings (r11 ADVICE)
    ann = ast.parse(
        "def typed(df):\n"
        "    e: object = df.select('a').persist()\n"
        "    e.count()\n"
        "    return e.join(e, 'a')\n"
    )
    assert _persist_sites(ann)["typed"] == [(2, True)]

    walrus = ast.parse(
        "def wal(df):\n"
        "    x = ((e := df.persist()), 1)\n"
        "    e.count()\n"
        "    return e\n"
    )
    assert _persist_sites(walrus)["wal"] == [(2, True)]

    # an annotated binding with NO later count is still flagged
    ann_bad = ast.parse(
        "def typed_bad(df):\n"
        "    e: object = df.persist()\n"
        "    return e.join(e, 'a')\n"
    )
    assert _persist_sites(ann_bad)["typed_bad"] == [(2, False)]
