"""Analyzers: string -> token stream, as Spark Column expressions.

Mirrors the reference's analyzer surface (reference
`impl/analyzers/DefaultAnalyzer.scala:6-8`, `EnglishAnalyzer.scala:6-9`,
`LuceneEnglishWikipediaAnalyzer.java:82-92`, pluggable via
`LuceneConfig.scala:110-123`) with a Spark-first twist:

* the default "simple" analyzer is a **pure SQL expression**
  (`lower` + regex split) so it stays inside whole-stage codegen and is
  bit-reproducible in any ANSI SQL engine (our DuckDB oracle included);
* stemming analyzers ("english", "italian") are Arrow-batched pandas UDFs
  around a pure-Python Snowball/Porter stemmer — the slow path, used only
  when asked for;
* every analyzer also exposes a driver-side Python callable
  (`tokenize_py`) used to analyze *query* text, guaranteeing index-time and
  query-time tokenization agree (reference keeps separate index/query
  analyzers; we default them to the same one).

Analyzer contract: ``str -> list[str]`` (token positions are the 0-based
list indexes, like Lucene's position increments with no holes).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# simple analyzer: lowercase, split on non-alphanumeric runs, drop empties.
# Matches FIXTURES.md §0 exactly; expressible identically in DuckDB as
# list_filter(string_split_regex(lower(col), '[^a-z0-9]+'), t -> t <> '').
# --------------------------------------------------------------------------

_SIMPLE_SPLIT_RE = re.compile(r"[^a-z0-9]+")


def _simple_tokenize(text: str) -> list[str]:
    if text is None:
        return []
    return [t for t in _SIMPLE_SPLIT_RE.split(text.lower()) if t]


def _simple_expr(col: Column) -> Column:
    # array_remove(split(lower(col),'[^a-z0-9]+'), '') — drops the empty
    # tokens split() produces at separator boundaries. array_remove, not a
    # filter() lambda: higher-order functions are CodegenFallback
    # (interpreted per element) while ArrayRemove stays inside whole-stage
    # codegen — measured ~2x on the index-build tokenize stage at sf0.1.
    # NULL input -> NULL array; callers wrap in coalesce.
    return F.array_remove(F.split(F.lower(col), r"[^a-z0-9]+"), "")


# Java regex \s (no UNICODE flag, what F.split compiles) is exactly
# [ \t\n\x0B\f\r]; the Python side must use the SAME set — str.split()
# also breaks on U+00A0/U+3000/etc and would disagree with the indexed
# tokens on scraped-HTML whitespace (the index/query parity contract).
_WS_ASCII_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _whitespace_tokenize(text: str) -> list[str]:
    if text is None:
        return []
    return [t for t in _WS_ASCII_RE.split(text) if t]


def _whitespace_expr(col: Column) -> Column:
    return F.array_remove(F.split(col, r"\s+"), "")


# --------------------------------------------------------------------------
# English analyzer: simple pipeline + stopword removal + Porter stemmer.
# Pure-Python Porter (classic 1980 algorithm), wrapped as a pandas UDF so
# the executor-side path is Arrow-batched. Reference analog: stock Lucene
# EnglishAnalyzer (stop + PorterStem), `impl/analyzers/EnglishAnalyzer.scala`.
# --------------------------------------------------------------------------

ENGLISH_STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

ITALIAN_STOPWORDS = frozenset(
    """ad al allo ai agli alla alle con col coi da dal dallo dai dagli dalla
    dalle di del dello dei degli della delle in nel nello nei negli nella
    nelle su sul sullo sui sugli sulla sulle per tra fra a e i o la le il lo
    un uno una ma ed se perche anche come dove che chi cui non piu quale
    quanto quanti quanta quante quello questo si tutto tutti""".split()
)

_VOWELS = "aeiou"


def _porter_stem(w: str) -> str:
    """Classic Porter stemmer (1980), steps 1a-5b, pure Python.

    Implemented from the published algorithm description (public domain);
    good enough for parity with Lucene's PorterStemFilter on common English.
    """
    if len(w) <= 2:
        return w

    def cons(word: str, i: int) -> bool:
        ch = word[i]
        if ch in _VOWELS:
            return False
        if ch == "y":
            return i == 0 or not cons(word, i - 1)
        return True

    def measure(stem: str) -> int:
        # number of VC sequences
        m = 0
        i = 0
        n = len(stem)
        while i < n and cons(stem, i):
            i += 1
        while i < n:
            while i < n and not cons(stem, i):
                i += 1
            if i >= n:
                break
            m += 1
            while i < n and cons(stem, i):
                i += 1
        return m

    def has_vowel(stem: str) -> bool:
        return any(not cons(stem, i) for i in range(len(stem)))

    def ends_double_cons(word: str) -> bool:
        return (
            len(word) >= 2
            and word[-1] == word[-2]
            and cons(word, len(word) - 1)
        )

    def cvc(word: str) -> bool:
        if len(word) < 3:
            return False
        if not (
            cons(word, len(word) - 3)
            and not cons(word, len(word) - 2)
            and cons(word, len(word) - 1)
        ):
            return False
        return word[-1] not in "wxy"

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and has_vowel(w[:-2]):
            w = w[:-2]
            flag = True
        elif w.endswith("ing") and has_vowel(w[:-3]):
            w = w[:-3]
            flag = True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif ends_double_cons(w) and not w.endswith(("l", "s", "z")):
                w = w[:-1]
            elif measure(w) == 1 and cvc(w):
                w += "e"

    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    step2 = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
        ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
        ("ation", "ate"), ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
        ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
        ("iviti", "ive"), ("biliti", "ble"),
    ]
    for suf, rep in step2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 0:
                w = stem + rep
            break

    # step 3
    step3 = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]
    for suf, rep in step3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 0:
                w = stem + rep
            break

    # step 4
    step4 = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ]
    for suf in step4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            if measure(w[:-3]) > 1:
                w = w[:-3]

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = measure(stem)
        if m > 1 or (m == 1 and not cvc(stem)):
            w = stem
    # step 5b
    if ends_double_cons(w) and w.endswith("l") and measure(w) > 1:
        w = w[:-1]
    return w


def _english_tokenize(text: str) -> list[str]:
    return [
        _porter_stem(t)
        for t in _simple_tokenize(text)
        if t not in ENGLISH_STOPWORDS
    ]


def _italian_tokenize(text: str) -> list[str]:
    # Italian light stemming: strip plural/gender vowel suffixes (crude but
    # deterministic analog of Lucene's ItalianLightStemFilter).
    out = []
    for t in _simple_tokenize(text):
        if t in ITALIAN_STOPWORDS:
            continue
        if len(t) > 5 and t.endswith(("zione", "zioni")):
            t = t[:-5] + "z"
        elif len(t) > 3 and t[-1] in "aeio":
            t = t[:-1]
        out.append(t)
    return out


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Analyzer:
    name: str
    py: Callable[[str], list[str]]
    sql_expr: Callable[[Column], Column] | None = None  # None => pandas UDF

    def expr(self, col: Column) -> Column:
        """Column<array<string>> of tokens for this analyzer."""
        if self.sql_expr is not None:
            return self.sql_expr(col)
        return _pandas_tokenize_udf(self.py)(col)


def _pandas_tokenize_udf(py_fn: Callable[[str], list[str]]):
    # Arrow-batched tokenizer; defined lazily so importing this module does
    # not require an active Spark session.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _tok(s):  # type: ignore[no-untyped-def]
        return s.map(lambda x: py_fn(x) if x is not None else [])

    return _tok


_REGISTRY: dict[str, Analyzer] = {}


def register_analyzer(
    name: str,
    py: Callable[[str], list[str]],
    sql_expr: Callable[[Column], Column] | None = None,
) -> None:
    """Register a custom analyzer (reference: pluggable Analyzer classes,
    `LuceneConfig.scala:114-123`)."""
    _REGISTRY[name] = Analyzer(name, py, sql_expr)


# --------------------------------------------------------------------------
# folding analyzer: simple + diacritics folded to ASCII before the split,
# so accented words survive the [^a-z0-9] tokenizer (the reference's
# ASCIIFoldingFilter analog). The fold is an explicit 1:1 char map — NOT
# generic NFKD — because the SQL path uses translate(), which is 1:1, and
# the Python path must produce identical tokens. Chars outside the map
# (ß, CJK, …) remain separators, same as in "simple".
# --------------------------------------------------------------------------

_FOLD_PAIRS = [
    ("àáâãäåāăą", "a"), ("çćĉč", "c"), ("ďđ", "d"), ("èéêëēĕėęě", "e"),
    ("ĝğģ", "g"), ("ĥ", "h"), ("ìíîïĩīĭį", "i"), ("ĵ", "j"), ("ķ", "k"),
    ("ĺļľł", "l"), ("ñńņň", "n"), ("òóôõöøōŏő", "o"), ("ŕŗř", "r"),
    ("śŝşš", "s"), ("ţťŧ", "t"), ("ùúûüũūŭůűų", "u"), ("ŵ", "w"),
    ("ýÿŷ", "y"), ("źżž", "z"),
]
FOLD_FROM = "".join(src for src, _ in _FOLD_PAIRS)
FOLD_TO = "".join(dst * len(src) for src, dst in _FOLD_PAIRS)
_FOLD_TABLE = str.maketrans(FOLD_FROM, FOLD_TO)


def _folding_tokenize(text: str) -> list[str]:
    if text is None:
        return []
    return [
        t
        for t in _SIMPLE_SPLIT_RE.split(text.lower().translate(_FOLD_TABLE))
        if t
    ]


def _folding_expr(col: Column) -> Column:
    return F.array_remove(
        F.split(
            F.translate(F.lower(col), FOLD_FROM, FOLD_TO), r"[^a-z0-9]+"
        ),
        "",
    )


# --------------------------------------------------------------------------
# cjk_bigram analyzer: Lucene CJKAnalyzer/CJKBigramFilter analog. CJK text
# carries no word separators, so the "simple" analyzer would emit whole
# sentences as single tokens (or drop them as separators); the standard
# language-agnostic fix is overlapping character bigrams over each CJK run
# (a lone CJK char stays a unigram), while latin/digit runs tokenize like
# "simple". Positions are stream indexes, so phrase adjacency works across
# bigrams exactly like Lucene's position increments. Pandas-UDF path (the
# same Arrow batch shape as the stemming analyzers); pairs with
# textstats.lang_id routing zh/ja/ko fields to this analyzer.
# --------------------------------------------------------------------------

_CJK_CLASS = (
    "\u3040-\u30ff"  # hiragana + katakana
    "\u3400-\u4dbf"  # CJK extension A
    "\u4e00-\u9fff"  # CJK unified ideographs
    "\uac00-\ud7a3"  # hangul syllables
    "\uf900-\ufaff"  # CJK compatibility ideographs
    "\U00020000-\U0002ffff"  # supplementary ideographic plane (Ext B-F, compat supp.)
)
_CJK_RUN_RE = re.compile(f"[{_CJK_CLASS}]+|[a-z0-9]+")
_CJK_CHAR_RE = re.compile(f"[{_CJK_CLASS}]")


def _cjk_bigram_tokenize(text: str) -> list[str]:
    if text is None:
        return []
    out: list[str] = []
    for m in _CJK_RUN_RE.finditer(text.lower()):
        s = m.group(0)
        if _CJK_CHAR_RE.match(s):
            if len(s) == 1:
                out.append(s)
            else:
                out.extend(s[i : i + 2] for i in range(len(s) - 1))
        else:
            out.append(s)
    return out


register_analyzer("simple", _simple_tokenize, _simple_expr)
register_analyzer("whitespace", _whitespace_tokenize, _whitespace_expr)
register_analyzer("folding", _folding_tokenize, _folding_expr)
register_analyzer("english", _english_tokenize)
register_analyzer("italian", _italian_tokenize)
register_analyzer("cjk_bigram", _cjk_bigram_tokenize)


def get_analyzer(name: str) -> Analyzer:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"unknown analyzer {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


def analyzer_expr(col: Column, analyzer: str = "simple") -> Column:
    """Tokenize a string Column into array<string> with the named analyzer."""
    return get_analyzer(analyzer).expr(col)


def tokenize_py(text: str, analyzer: str = "simple") -> list[str]:
    """Driver-side tokenization (query-time analysis)."""
    return get_analyzer(analyzer).py(text)


@dataclass(frozen=True)
class TextOptions:
    """Per-column indexing options.

    positions=False is the analog of the reference's
    ``NoPositionsStringField`` (`NoPositionsTextField.java:42-46`): smaller
    postings, phrase queries unavailable on that column.

    ``query_analyzer`` configures query-time analysis independently of the
    index-time ``analyzer`` — the reference's separate index/query analyzer
    pair (`impl/LuceneConfig.scala:110-123`, consumed at
    `impl/LuceneIndex.scala:28-29,115-116`). ``None`` (the default) keeps
    them symmetric. Query terms only MATCH postings tokens, so an
    asymmetric pair is only useful when the query analyzer's output is a
    subset-compatible normalization of the index analyzer's (e.g. index
    with stemming, query without to require exact surface forms).
    """

    analyzer: str = "simple"
    positions: bool = True
    query_analyzer: str | None = None

    def query_time_analyzer(self) -> str:
        """The analyzer for query text on this field (falls back to the
        index-time analyzer when no override is configured)."""
        return self.query_analyzer or self.analyzer


def explode_tokens(
    df: DataFrame,
    keys: list,
    tokens: Column,
    count_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """``(*keys, [count_col,] [pos_col,] term)`` — one row per token of
    ``tokens``, with ``tokens`` evaluated exactly ONCE per input row.
    ``count_col`` is the row's token count (``dl`` / ``_nq``); a row whose
    token array is NULL or empty yields no rows.

    The tokens must be a column BEFORE the generator, and the generator
    must be an outer one. Catalyst re-runs the analyzer otherwise:

    * analysis of ``select(size(toks), posexplode(toks))`` moves the
      generator into a ``Generate`` node and leaves ``size(toks)`` in a
      Project ABOVE it, evaluated per exploded row: 1 + n analyzer runs
      for an n-token row, quadratic in tokens per row;
    * ``InferFiltersFromGenerate`` adds ``size(e) > 0 AND e IS NOT NULL``
      under a non-outer generator, and predicate pushdown substitutes the
      alias and moves it below any repartition — a second analyzer pass
      per row, on the input's partitioning. The outer generator infers
      nothing; the ``term IS NOT NULL`` filter drops the one null row it
      emits for an empty array (a NULL array counts as empty).
    """
    staged = df.select(
        *keys,
        F.coalesce(tokens, F.array().cast("array<string>")).alias("_toks"),
    )
    gen = (
        F.posexplode_outer("_toks").alias(pos_col, "term")
        if pos_col
        else F.explode_outer("_toks").alias("term")
    )
    count = [F.size("_toks").alias(count_col)] if count_col else []
    return staged.select(*staged.columns[:-1], *count, gen).where(
        F.col("term").isNotNull()
    )


def postings_rows(
    df: DataFrame,
    doc_id: Column,
    tokens: Column,
    field: str,
    positions: bool = True,
) -> DataFrame:
    """``(field, term, doc_id, tf, dl, positions)`` — one postings row per
    (doc, term) of ``df``: ``explode_tokens`` to (doc_id, dl, pos, term),
    then ONE codegen'd aggregate for (tf, positions). ``dl`` (field
    length in tokens) is ``size(tokens)``, a per-doc constant carried
    through the explode and grouped on, so no Sort+Window re-derives it
    as ``sum(tf)``. ``positions`` False gives a NULL positions column.
    The postings shape of both the batch build
    (``Corpus._postings_frame``) and the streamed one
    (``streaming.stream_postings``)."""
    ex = explode_tokens(
        df, [doc_id.alias("doc_id")], tokens, "dl", pos_col="pos"
    )
    pos_agg = (
        F.sort_array(F.collect_list("pos")).alias("positions")
        if positions
        else F.lit(None).cast("array<int>").alias("positions")
    )
    return (
        ex.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), pos_agg)
        .select(
            F.lit(field).alias("field"),
            "term",
            "doc_id",
            "tf",
            F.col("dl").cast("long").alias("dl"),
            "positions",
        )
    )
