"""Independent oracle: the expected answers, computed from the generator's
token lists in plain Python, without importing the engine.

BM25 follows the engine's documented contract: k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), a query's score is the sum
over its distinct terms, and results are ordered by the score rounded to
6 decimals, descending, then by doc id. ``self_check`` pins the oracle to
figures worked out by hand on a three-document corpus before any run
trusts it.
"""

from __future__ import annotations

import math
from collections import Counter

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-6


class Oracle:
    """Index statistics and query answers for one set of documents."""

    def __init__(self, toks: dict[int, list[str]], views: dict[int, int]) -> None:
        self.toks = toks
        self.views = views
        self.tf: dict[str, dict[int, int]] = {}
        for d, ts in toks.items():
            for t, c in Counter(ts).items():
                self.tf.setdefault(t, {})[d] = c
        self.dl = {d: len(ts) for d, ts in toks.items()}
        self.doc_count = sum(1 for n in self.dl.values() if n)
        self.avgdl = sum(self.dl.values()) / self.doc_count

    @classmethod
    def of(cls, docs) -> "Oracle":  # type: ignore[no-untyped-def]
        return cls(dict(zip(docs.ids, docs.toks)), dict(zip(docs.ids, docs.views)))

    def apply_cdc(self, changes, deletes) -> "Oracle":  # type: ignore[no-untyped-def]
        """The oracle of the corpus after replacing ``changes`` and
        dropping ``deletes`` (delete wins over change)."""
        toks = dict(self.toks)
        views = dict(self.views)
        toks.update(zip(changes.ids, changes.toks))
        views.update(zip(changes.ids, changes.views))
        for d in deletes:
            toks.pop(d, None)
            views.pop(d, None)
        return Oracle(toks, views)

    # -- index statistics -------------------------------------------------

    def df(self, term: str) -> int:
        return len(self.tf.get(term, ()))

    def postings_rows(self) -> int:
        return sum(len(p) for p in self.tf.values())

    def total_tokens(self) -> int:
        return sum(self.dl.values())

    # -- scoring ----------------------------------------------------------

    def idf(self, term: str) -> float:
        n, df = self.doc_count, self.df(term)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def bm25(self, terms) -> dict[int, float]:  # type: ignore[no-untyped-def]
        """doc -> score for every doc matching at least one distinct term."""
        out: dict[int, float] = {}
        for t in dict.fromkeys(terms):
            idf = self.idf(t)
            for d, tf in self.tf.get(t, {}).items():
                norm = tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
                out[d] = out.get(d, 0.0) + idf * tf * (K1 + 1.0) / norm
        return out

    @staticmethod
    def ranked(scores: dict[int, float]) -> list[tuple[int, float]]:
        return sorted(scores.items(), key=lambda ds: (-round(ds[1], 6), ds[0]))

    def topk(self, terms, k: int) -> list[tuple[int, float]]:  # type: ignore[no-untyped-def]
        return self.ranked(self.bm25(terms))[:k]

    # -- boolean matching -------------------------------------------------

    def any_docs(self, terms) -> set[int]:  # type: ignore[no-untyped-def]
        out: set[int] = set()
        for t in terms:
            out.update(self.tf.get(t, ()))
        return out

    def all_docs(self, terms, min_views: int = 0) -> set[int]:  # type: ignore[no-untyped-def]
        sets = [set(self.tf.get(t, ())) for t in terms]
        both = set.intersection(*sets) if sets else set()
        return {d for d in both if self.views[d] >= min_views}

    def phrase_docs(self, terms) -> set[int]:  # type: ignore[no-untyped-def]
        terms = list(terms)
        n = len(terms)
        return {
            d
            for d in self.all_docs(terms)
            if any(self.toks[d][i:i + n] == terms for i in range(len(self.toks[d]) - n + 1))
        }

    def tree_docs(self, spec) -> set[int]:  # type: ignore[no-untyped-def]
        """Docs satisfying a ``corpus.TreeSpec``."""
        if spec.kind == "any":
            return self.any_docs(spec.terms)
        if spec.kind == "all_views":
            return self.all_docs(spec.terms, spec.min_views)
        if spec.kind == "phrase":
            return self.phrase_docs(spec.terms)
        raise ValueError(f"unknown tree kind {spec.kind!r}")


def trigrams(toks: list[str], n: int = 3) -> set[str]:
    """Distinct token n-grams; a document shorter than n is one gram."""
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: list[str], b: list[str], n: int = 3) -> float:
    ga, gb = trigrams(a, n), trigrams(b, n)
    return len(ga & gb) / len(ga | gb)


# -- comparing engine output with the oracle --------------------------------


def _tied(scores: list[float], i: int) -> bool:
    s = scores[i]
    return (i > 0 and abs(scores[i - 1] - s) <= SCORE_TOL) or (
        i + 1 < len(scores) and abs(scores[i + 1] - s) <= SCORE_TOL
    )


def topk_mismatch(
    got: list[tuple[int, float]], expected_all: dict[int, float], k: int
) -> str | None:
    """None when ``got`` (doc, score) in rank order is a correct top-k of
    ``expected_all``; otherwise what is wrong. Docs whose scores tie
    within SCORE_TOL may come in either order, and either of them may
    take the last place."""
    exp = Oracle.ranked(expected_all)
    exp_scores = [s for _, s in exp]
    want = exp[:k]
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc in hits"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd not in expected_all:
            return f"rank {i + 1}: doc {gd} does not match the query"
        if abs(gs - expected_all[gd]) > SCORE_TOL:
            return f"rank {i + 1}: doc {gd} score {gs} != {expected_all[gd]}"
        if abs(gs - ws) > SCORE_TOL:
            return f"rank {i + 1}: score {gs}, expected {ws}"
        if gd != wd and not _tied(exp_scores, i):
            return f"rank {i + 1}: doc {gd}, expected {wd}"
    return None


def same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Two hit lists of one query agree up to order among tied scores."""
    if len(a) != len(b):
        return False
    sa, sb = [s for _, s in a], [s for _, s in b]
    if any(abs(x - y) > SCORE_TOL for x, y in zip(sa, sb)):
        return False
    for i, ((da, _), (db, _)) in enumerate(zip(a, b)):
        if da != db and not _tied(sa, i):
            return False
    return True


# -- self check -------------------------------------------------------------


def self_check() -> None:
    """Check the oracle against a three-document corpus worked by hand.

    d0 = a b c, d1 = a a d, d2 = b e (dl 3, 3, 2; N = 3; avgdl = 8/3).
    df(a) = df(b) = 2, so idf = ln(1 + 1.5/2.5) = ln 1.6.
    d0, term a: tf 1, norm = 1 + 1.2 * (0.25 + 0.75 * 3 / (8/3)) = 2.3125,
    contribution = ln 1.6 * 2.2 / 2.3125.
    d1, term a: tf 2, norm = 3.3125, contribution = ln 1.6 * 4.4 / 3.3125.
    d2, term b: tf 1, norm = 1 + 1.2 * (0.25 + 0.75 * 2 / (8/3)) = 1.975,
    contribution = ln 1.6 * 2.2 / 1.975.
    Query "a b": d0 = ln 1.6 * 4.4 / 2.3125 = 0.894277...,
    d1 = 0.624307..., d2 = 0.523548... (ln 1.6 = 0.470004).
    """
    o = Oracle(
        {0: ["a", "b", "c"], 1: ["a", "a", "d"], 2: ["b", "e"]},
        {0: 5, 1: 50, 2: 500},
    )
    ln16 = math.log(1.6)
    want = {0: ln16 * 4.4 / 2.3125, 1: ln16 * 4.4 / 3.3125, 2: ln16 * 2.2 / 1.975}
    checks = [
        (o.doc_count, 3),
        (o.avgdl, 8 / 3),
        (o.df("a"), 2),
        (o.df("e"), 1),
        (o.df("z"), 0),
        (o.postings_rows(), 7),
        ([d for d, _ in o.topk(["a", "b", "a"], 3)], [0, 1, 2]),
        (round(o.bm25(["a", "b"])[0], 6), 0.894277),
        (round(o.bm25(["a", "b"])[1], 6), 0.624307),
        (round(o.bm25(["a", "b"])[2], 6), 0.523548),
        (o.any_docs(["c", "e"]), {0, 2}),
        (o.all_docs(["a", "b"]), {0}),
        (o.all_docs(["a"], min_views=10), {1}),
        (o.phrase_docs(["a", "b"]), {0}),
        (o.phrase_docs(["b", "a"]), set()),
        (o.phrase_docs(["a", "a"]), {1}),
        (jaccard(["a", "b", "c", "d"], ["a", "b", "c", "e"]), 1 / 3),
        (jaccard(["a", "b"], ["a", "b"]), 1.0),
    ]
    for i, (got, exp) in enumerate(checks):
        if got != exp and not (
            isinstance(got, float) and abs(got - exp) < 1e-12
        ):
            raise AssertionError(f"oracle self-check {i}: {got!r} != {exp!r}")
    for d, s in want.items():
        if abs(o.bm25(["a", "b"])[d] - s) > 1e-12:
            raise AssertionError(f"oracle self-check bm25 d{d}")
    after = o.apply_cdc(type("C", (), {"ids": [2], "toks": [["a"]], "views": [1]})(), [0])
    if (after.doc_count, after.df("a"), after.df("b")) != (2, 2, 0):
        raise AssertionError("oracle self-check cdc")
    if topk_mismatch([(0, want[0]), (1, want[1])], want, 2) is not None:
        raise AssertionError("oracle self-check topk_mismatch accepts")
    if topk_mismatch([(1, want[1]), (0, want[0])], want, 2) is None:
        raise AssertionError("oracle self-check topk_mismatch rejects")
