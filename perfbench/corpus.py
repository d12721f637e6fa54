"""Seeded synthetic inputs for the benchmark.

Everything the workloads feed the engine is generated here from one seed
with numpy: a Zipfian corpus, CDC batches, ad-hoc queries, DSL query
trees and planted near-duplicates. The engine only ever sees the result
as DataFrames; the oracle reads the same token lists directly.

Documents are token lists over a vocabulary ``w0 .. w49999`` whose rank
frequencies follow Zipf(1.07), with log-normal lengths (median 120
tokens). The rendered text capitalises some tokens and mixes in
punctuation, so the analyzer has real work to do while the token stream
it must produce stays exactly the generator's list.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.07
MEDIAN_LEN = 120
LEN_SIGMA = 0.6
MIN_LEN = 8
MAX_LEN = 600
LANGS = ("en", "it", "de", "fr")
MAX_VIEWS = 10_000

# query terms are drawn log-uniform over these ranks: below 20 every
# term is in nearly every document; above 40k most never occur
QUERY_RANKS = (20, 40_000)

_TERMS = np.array([f"w{r}" for r in range(VOCAB)], dtype=object)
_RANK = {t: r for r, t in enumerate(_TERMS)}
_PROBS = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
_PROBS /= _PROBS.sum()
_SEPS = np.array([" ", " ", " ", " ", " ", " ", ", ", ". ", " - "], dtype=object)


@dataclass
class Docs:
    """Documents as the generator knows them: ids, token lists and the
    two filterable attributes."""

    ids: list[int]
    toks: list[list[str]]
    views: list[int]
    lang: list[str]

    def texts(self, rng_seed: int) -> list[str]:
        """Render token lists to text. Separators and capitalisation vary
        but every rendering analyzes back to the same tokens."""
        rng = np.random.default_rng(rng_seed)
        out = []
        for toks in self.toks:
            words = np.array(toks, dtype=object)
            caps = rng.random(len(words)) < 0.05
            words[caps] = [w.upper() for w in words[caps]]
            seps = rng.choice(_SEPS, size=len(words))
            seps[-1] = ""
            out.append("".join(w + s for w, s in zip(words, seps)))
        return out

    def to_pandas(self, rng_seed: int):  # type: ignore[no-untyped-def]
        import pandas as pd

        return pd.DataFrame(
            {
                "doc_id": np.asarray(self.ids, dtype=np.int64),
                "text": self.texts(rng_seed),
                "views": np.asarray(self.views, dtype=np.int64),
                "lang": self.lang,
            }
        )


def _lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.lognormal(np.log(MEDIAN_LEN), LEN_SIGMA, n)
    return np.clip(np.round(raw), MIN_LEN, MAX_LEN).astype(np.int64)


def _token_lists(rng: np.random.Generator, n: int) -> list[list[str]]:
    lens = _lengths(rng, n)
    flat = _TERMS[rng.choice(VOCAB, size=int(lens.sum()), p=_PROBS)]
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [list(flat[offs[i]:offs[i + 1]]) for i in range(n)]


def make_docs(rng: np.random.Generator, n: int, first_id: int = 0) -> Docs:
    return Docs(
        ids=list(range(first_id, first_id + n)),
        toks=_token_lists(rng, n),
        views=[int(v) for v in rng.integers(0, MAX_VIEWS, n)],
        lang=[LANGS[i] for i in rng.integers(0, len(LANGS), n)],
    )


def query_terms(
    rng: np.random.Generator, n_terms: int, ranks: tuple[int, int] = QUERY_RANKS
) -> list[str]:
    """``n_terms`` distinct terms, ranks log-uniform over ``ranks``."""
    lo, hi = np.log(ranks[0]), np.log(ranks[1])
    out: list[str] = []
    while len(out) < n_terms:
        t = _TERMS[int(np.exp(rng.uniform(lo, hi)))]
        if t not in out:
            out.append(t)
    return out


def distinct_queries(rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` queries of 2-4 terms; no two share a term set."""
    seen: set[tuple[str, ...]] = set()
    out = []
    while len(out) < n:
        q = query_terms(rng, int(rng.integers(2, 5)))
        key = tuple(sorted(q))
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out


@dataclass
class CdcBatch:
    """One change-data-capture batch: replaced documents (each carrying a
    term no other document has) and deleted ids."""

    changes: Docs
    unique_terms: list[str]
    deletes: list[int]


def make_cdc(
    rng: np.random.Generator,
    docs: Docs,
    n_batches: int,
    change_frac: float = 0.01,
    delete_frac: float = 0.005,
) -> list[CdcBatch]:
    n = len(docs.ids)
    n_chg = max(1, round(n * change_frac))
    n_del = max(1, round(n * delete_frac))
    # every id is touched at most once across all batches, so each batch's
    # expectations do not depend on which earlier batch touched what
    touched = rng.permutation(docs.ids)[: n_batches * (n_chg + n_del)]
    batches = []
    for b in range(n_batches):
        part = touched[b * (n_chg + n_del):(b + 1) * (n_chg + n_del)]
        chg_ids = sorted(int(i) for i in part[:n_chg])
        new = make_docs(rng, n_chg)
        uniq = [f"u{b}x{i}" for i in range(n_chg)]
        for toks, u in zip(new.toks, uniq):
            toks.insert(int(rng.integers(0, len(toks) + 1)), u)
        new.ids = chg_ids
        batches.append(
            CdcBatch(new, uniq, sorted(int(i) for i in part[n_chg:]))
        )
    return batches


@dataclass
class TreeSpec:
    """A DSL query tree as plain data: ``kind`` is ``any`` (match any of
    ``terms``), ``all_views`` (all of ``terms`` AND views >= ``min_views``)
    or ``phrase`` (``terms`` consecutive)."""

    kind: str
    terms: tuple[str, ...]
    min_views: int = 0


def make_trees(rng: np.random.Generator, docs: Docs, n: int) -> list[TreeSpec]:
    """``n`` distinct two-term trees; kinds cycle any, all_views, phrase.

    A tree's selectivity is fixed by its position, not by the seed: the
    i-th ``any`` tree draws its terms from the rank octave
    ``[20 * 2**b, 20 * 2**(b + 1))`` with ``b = i % 11`` (the octaves
    tile the query ranks 20-40k), the i-th ``all_views`` tree draws two
    terms from ``[20 * 2**c, 20 * 2**(c + 1))`` with ``c = i % 6`` and
    filters on ``views >= 1000 * (i % 5)``. Since row weights fall with
    position (``zipf_rows``), every seed gets the same match volume."""
    seen: set[tuple] = set()
    out: list[TreeSpec] = []
    while len(out) < n:
        kind = ("any", "all_views", "phrase")[len(out) % 3]
        i = len(out) // 3
        if kind == "any":
            b = i % 11
            spec = TreeSpec(kind, tuple(query_terms(rng, 2, (20 << b, 20 << (b + 1)))))
        elif kind == "all_views":
            c = i % 6
            terms = tuple(query_terms(rng, 2, (20 << c, 20 << (c + 1))))
            spec = TreeSpec(kind, terms, 1000 * (i % 5))
        else:
            # a bigram that occurs in the corpus, so the phrase matches,
            # of two terms past the head, so it matches a handful of docs
            toks = docs.toks[int(rng.integers(0, len(docs.toks)))]
            p = int(rng.integers(0, len(toks) - 1))
            if toks[p] == toks[p + 1] or min(_RANK[toks[p]], _RANK[toks[p + 1]]) < QUERY_RANKS[0]:
                continue
            spec = TreeSpec(kind, (toks[p], toks[p + 1]))
        key = (spec.kind, spec.terms, spec.min_views)
        if key not in seen:
            seen.add(key)
            out.append(spec)
    return out


def zipf_rows(rng: np.random.Generator, n_items: int, n_rows: int) -> list[int]:
    """``n_rows`` item indexes in random order, item ``i`` repeated in
    proportion to 1 / (i + 1) (largest remainder), so the repeat counts
    are the same for every seed."""
    w = 1.0 / np.arange(1, n_items + 1)
    share = n_rows * w / w.sum()
    counts = np.floor(share).astype(int)
    extra = np.argsort(counts - share)[: n_rows - counts.sum()]
    counts[extra] += 1
    rows = np.repeat(np.arange(n_items), counts)
    return [int(i) for i in rng.permutation(rows)]


def length_strata(docs: Docs, n: int) -> list[int]:
    """``n`` doc ids at evenly spaced length quantiles, so the total
    length of the picked docs hardly depends on the seed."""
    order = sorted(range(len(docs.ids)), key=lambda i: (len(docs.toks[i]), docs.ids[i]))
    step = len(order) / n
    return sorted(docs.ids[order[int((j + 0.5) * step)]] for j in range(n))


@dataclass
class Planted:
    """A near-duplicate planted in the dedup corpus: ``copy`` is ``source``
    with ``edits`` tokens replaced."""

    source: int
    copy: int
    edits: int


def make_dedup_docs(
    rng: np.random.Generator, n_base: int, n_sources: int
) -> tuple[Docs, list[Planted]]:
    """``n_base`` random documents plus one or two edited copies of each
    of ``n_sources`` of them. Edit counts of 1-6 tokens put the copies'
    trigram Jaccard on both sides of the 0.8 and 0.9 marks."""
    docs = make_docs(rng, n_base)
    planted = []
    next_id = n_base
    for src in rng.choice(n_base, n_sources, replace=False):
        for _ in range(int(rng.integers(1, 3))):
            edits = int(rng.choice([1, 2, 4, 6]))
            toks = list(docs.toks[src])
            for p in rng.choice(len(toks), min(edits, len(toks)), replace=False):
                toks[p] = _TERMS[int(rng.integers(0, VOCAB))]
            docs.ids.append(next_id)
            docs.toks.append(toks)
            docs.views.append(int(rng.integers(0, MAX_VIEWS)))
            docs.lang.append(LANGS[int(rng.integers(0, len(LANGS)))])
            planted.append(Planted(int(src), next_id, edits))
            next_id += 1
    return docs, planted
