"""Page signals as one Arrow batch kernel.

:func:`greatex_spark.functions.heuristics.quality_struct`,
:func:`~greatex_spark.functions.textstats.detect_lang` and
:func:`~greatex_spark.functions.textstats.bpe_token_count` are the
engine's *spec*: pure Column expressions, replayable by the DuckDB
oracle, but evaluated by interpreted higher-order functions
(CodegenFallback).  This module computes the identical 17 fields in one
``arrow_udf`` over whole Arrow batches, with no per-row Python:

- the text is split into words once (``ascii_split_whitespace`` splits
  on exactly Java's ASCII ``\\s``) and the words are dictionary-encoded;
- length, ``[A-Za-z]``, stopword, BPE token count and language-marker
  hits are computed once per *distinct* word and summed per page with
  ``np.bincount``.  Letter tokens and BPE tokens never cross ASCII
  whitespace, so the per-word sums equal the spec's per-text counts;
- the duplicate n-gram fractions count distinct factorised
  (page, gram) keys; word ids stand in for the joined gram strings,
  which is exact because a word holds no whitespace;
- lines, symbols, CJK share and the flags are ``pyarrow.compute``
  kernels.

Line ends follow Java's ``$`` (the spec's regex engine): it matches at
the end of the input and also before a final ``\\n``, ``\\r``,
``\\r\\n``, ``\\u0085``, ``\\u2028`` or ``\\u2029``.  So a CRLF line
ending in ``...`` is an ellipsis line, and ``"Done.\\r\\n"`` ends with
terminal punctuation, here as in the spec.  Parity tests pin every
field against the spec on the fixture classes and on edge cases.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from greatex_spark.functions.heuristics import (
    FEATURE_NAMES,
    GOPHER_STOPWORDS,
    JAVA_LINE_END,
)
from greatex_spark.functions.textstats import (
    BPE_TOKEN_REGEX,
    CJK_REGEX,
    LANG_PROFILES,
)

_SYMBOL = r"#|\.\.\.|…"
_BULLET = r"^([\*\-•▪●]|\d+[\.\)])"
_ELLIPSIS = r"(\.\.\.|…)" + JAVA_LINE_END
_TERMINAL = r'[.!?"”]' + JAVA_LINE_END
_STOP = pa.array(GOPHER_STOPWORDS)
_LANGS = tuple(LANG_PROFILES)
_MARKERS = [pa.array(m) for m in LANG_PROFILES.values()]
_MARKER_SETS = [frozenset(m) for m in LANG_PROFILES.values()]
# lang_pred codes: one per profile, then "und" and "zh"
_LANG_NAMES = pa.array(_LANGS + ("und", "zh"))
_UND, _ZH = len(_LANGS), len(_LANGS) + 1

PAGE_SIGNALS_TYPE = T.StructType(
    [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_lines", T.LongType()),
        T.StructField("mean_word_length", T.DoubleType()),
        T.StructField("symbol_to_word_ratio", T.DoubleType()),
        T.StructField("stopword_count", T.LongType()),
        T.StructField("alpha_word_fraction", T.DoubleType()),
        T.StructField("bullet_line_fraction", T.DoubleType()),
        T.StructField("ellipsis_line_fraction", T.DoubleType()),
        T.StructField("dup_2gram_fraction", T.DoubleType()),
        T.StructField("dup_3gram_fraction", T.DoubleType()),
        T.StructField("ends_with_terminal_punct", T.BooleanType()),
        T.StructField("has_brace", T.BooleanType()),
        T.StructField("has_lorem_ipsum", T.BooleanType()),
        T.StructField("has_javascript", T.BooleanType()),
        T.StructField("n_bpe_tokens", T.LongType()),
        T.StructField("lang_pred", T.StringType()),
    ]
)
_ARROW_FIELDS = list(to_arrow_type(PAGE_SIGNALS_TYPE))


def _np(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _per_page(page: np.ndarray, ids: np.ndarray, per_word: np.ndarray, n: int) -> np.ndarray:
    """Per-page sums of a count held per distinct word, touching only the
    word occurrences where it is non-zero (most counts are sparse)."""
    hit = per_word[ids] != 0
    out = np.bincount(page[hit], weights=per_word[ids[hit]], minlength=n)
    return out.astype(np.int64)


def _marker_hits(words: pa.Array) -> np.ndarray:
    """(distinct words × languages) counts of marker tokens.  The spec
    lower-cases the text and splits it on runs of non-letters; on an
    ASCII word that is ``[^a-z]+`` after ``ascii_lower``, and the rare
    non-ASCII words take the same rule in Python (``str.isalpha`` is
    the Unicode letter class ``\\p{L}``)."""
    hits = np.zeros((len(words), len(_LANGS)), np.int64)
    is_ascii = _np(pc.string_is_ascii(words))
    asc = np.flatnonzero(is_ascii)
    if len(asc):
        toks = pc.split_pattern_regex(pc.ascii_lower(words.take(asc)), "[^a-z]+")
        owner = asc[_np(pc.list_parent_indices(toks))]
        flat = pc.list_flatten(toks)
        for j, markers in enumerate(_MARKERS):
            hit = _np(pc.is_in(flat, markers))
            hits[:, j] = np.bincount(owner[hit], minlength=len(words))
    for i in np.flatnonzero(~is_ascii):
        low = words[int(i)].as_py().lower()
        toks = "".join(c if c.isalpha() else " " for c in low).split()
        for j, markers in enumerate(_MARKER_SETS):
            hits[i, j] = sum(t in markers for t in toks)
    return hits


def _distinct_grams(page: np.ndarray, ids: np.ndarray, n: int, n_pages: int) -> np.ndarray:
    """Distinct word n-grams per page.  ``ids`` are the page-ordered word
    ids and ``page`` their owners.  A gram's key is its word ids read as
    digits in base ``width`` (the vocabulary size) under a leading page
    digit; where that could pass 2⁶³ the partial gram is first
    factorised to a dense id below ``m``."""
    m = len(ids) - n + 1
    if m <= 0:
        return np.zeros(n_pages, np.int64)
    width = int(ids.max()) + 1
    gram, span = ids[:m], width
    for j in range(1, n):
        if span * width >= 2**63:
            gram, span = pd.factorize(gram)[0], m
        gram, span = gram * width + ids[j : m + j], span * width
    one_page = page[:m] == page[n - 1 :]
    gram, owner = gram[one_page], page[:m][one_page]
    if n_pages * span >= 2**63:
        gram, span = pd.factorize(gram)[0], m
    return np.bincount(pd.unique(owner * span + gram) // span, minlength=n_pages)


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    return num.astype(np.float64) / den.astype(np.float64)


def page_signals_batch(texts: pa.Array) -> pa.StructArray:
    """The 17 page signals of every text in one Arrow batch (NULL text →
    all fields NULL)."""
    n = len(texts)
    valid = _np(texts.is_valid())

    # words: split once, properties per distinct word, sums per page.
    # Symbols, CJK characters, "{" and "javascript" never hold ASCII
    # whitespace, so their per-text counts are per-word sums too
    words = pc.ascii_split_whitespace(texts)
    page = _np(pc.list_parent_indices(words)).astype(np.int64)
    enc = pc.dictionary_encode(pc.list_flatten(words))
    vocab, ids = enc.dictionary, _np(enc.indices).astype(np.int64)
    wlen = _np(pc.utf8_length(vocab)).astype(np.int64)
    nonempty = wlen[ids] > 0  # split leaves "" at leading/trailing space
    page, ids = page[nonempty], ids[nonempty]
    n_words = np.bincount(page, minlength=n)
    nw = np.maximum(n_words, 1)
    lower = pc.ascii_lower(vocab)

    def per_page(per_word: pa.Array | np.ndarray) -> np.ndarray:
        if isinstance(per_word, (pa.Array, pa.ChunkedArray)):
            per_word = _np(per_word).astype(np.int64)
        return _per_page(page, ids, per_word, n)

    word_chars = per_page(wlen)
    alpha = n_words - per_page(pc.invert(pc.match_substring_regex(vocab, "[A-Za-z]")))
    stop = per_page(pc.is_in(lower, _STOP))
    bpe = per_page(pc.count_substring_regex(vocab, BPE_TOKEN_REGEX))
    symbols = per_page(pc.count_substring_regex(vocab, _SYMBOL))
    cjk = per_page(pc.count_substring_regex(vocab, CJK_REGEX))
    brace = per_page(pc.match_substring(vocab, "{")) > 0
    javascript = per_page(pc.match_substring(lower, "javascript")) > 0
    hits = _marker_hits(vocab)
    scores = [per_page(hits[:, j]) for j in range(len(_LANGS))]

    total2, total3 = np.maximum(n_words - 1, 0), np.maximum(n_words - 2, 0)
    dup2 = total2 - _distinct_grams(page, ids, 2, n)
    dup3 = total3 - _distinct_grams(page, ids, 3, n)

    # lines: Spark's trim strips only the space character
    lines = pc.split_pattern(texts, "\n")
    n_lines = _np(pc.list_value_length(lines).fill_null(0)).astype(np.int64)
    line_page = _np(pc.list_parent_indices(lines))
    trimmed = pc.utf8_trim(pc.list_flatten(lines), " ")
    bullets = np.bincount(line_page[_np(pc.match_substring_regex(trimmed, _BULLET))], minlength=n)
    ellipses = np.bincount(line_page[_np(pc.match_substring_regex(trimmed, _ELLIPSIS))], minlength=n)
    nl = np.maximum(n_lines, 1)
    n_chars = _np(pc.utf8_length(texts).fill_null(0)).astype(np.int64)

    # langid argmax: strict '>' in declaration order, first wins ties
    lang = np.full(n, _UND, np.int64)
    best = np.ones(n, np.int64)  # min_hits - 1
    for j, s in enumerate(scores):
        better = s > best
        lang[better], best[better] = j, s[better]
    lang[_ratio(cjk, np.maximum(n_chars, 1)) > 0.25] = _ZH

    invalid = ~valid

    def col(values: np.ndarray, type_: pa.DataType) -> pa.Array:
        return pa.array(values, type=type_, mask=invalid)

    i64, f64 = pa.int64(), pa.float64()
    arrays = [
        col(n_chars, i64),
        col(n_words, i64),
        col(n_lines, i64),
        col(_ratio(word_chars, nw), f64),
        col(_ratio(symbols, nw), f64),
        col(stop, i64),
        col(_ratio(alpha, nw), f64),
        col(_ratio(bullets, nl), f64),
        col(_ratio(ellipses, nl), f64),
        col(np.where(total2 > 0, _ratio(dup2, np.maximum(total2, 1)), 0.0), f64),
        col(np.where(total3 > 0, _ratio(dup3, np.maximum(total3, 1)), 0.0), f64),
        pc.match_substring_regex(pc.utf8_trim(texts, " "), _TERMINAL),
        col(brace, pa.bool_()),
        pc.match_substring(pc.ascii_lower(texts), "lorem ipsum"),
        col(javascript, pa.bool_()),
        col(bpe, i64),
        pc.take(_LANG_NAMES, col(lang, i64)),
    ]
    return pa.StructArray.from_arrays(arrays, fields=_ARROW_FIELDS)


@arrow_udf(PAGE_SIGNALS_TYPE)
def page_signals_arrow_udf(texts: pa.Array) -> pa.Array:
    return page_signals_batch(texts)


def page_signals_arrow(text: Column) -> Column:
    """All 17 page signals as one struct Column (one Arrow crossing)."""
    return page_signals_arrow_udf(text)


def quality_struct_arrow(text: Column) -> Column:
    """The 15 :func:`~greatex_spark.functions.heuristics.quality_struct`
    fields, projected from the one page-signals kernel."""
    signals = page_signals_arrow(text)
    return F.struct(*[signals[name].alias(name) for name in FEATURE_NAMES])
