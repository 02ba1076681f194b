"""Arrow-batched twin of the heuristic feature struct.

:func:`greatex_spark.functions.heuristics.quality_struct` is the
engine's *spec*: pure Column expressions, replayable by the DuckDB
oracle.  But Spark evaluates higher-order functions interpreted
(CodegenFallback) — measured ~11 core-ms/doc for the full struct, with
large JIT variance.  This module computes the IDENTICAL features in an
Arrow-batched pandas UDF (one JVM↔Python crossing per batch, compiled
``re`` + str ops inside), the same execution model as the langid /
perplexity model stages.  ~10-30× cheaper per doc; the pipeline's
featurize stage runs it, and a parity test asserts equality against the
native spec on every fixture class.

Semantics mirrored exactly:
- words = ``\\s+`` split, empties dropped;
- symbol count = non-overlapping matches of ``(#|\\.\\.\\.|…)``;
- bullet/ellipsis line rules use the same regexes on trimmed lines;
- dup-n-gram fraction = 1 − distinct/total over word n-grams;
- all ratios double-precision, same div-by-zero guards.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from greatex_spark.functions.heuristics import GOPHER_STOPWORDS

# re.ASCII where java.util.regex classes are ASCII-bound (\s, \d):
# a NBSP must NOT split words here, exactly as in the JVM spec
_WS = re.compile(r"\s+", re.ASCII)
_SYMBOL = re.compile(r"(#|\.\.\.|…)")
_ALPHA = re.compile(r"[A-Za-z]")
_BULLET = re.compile(r"^([\*\-•▪●]|\d+[\.\)])", re.ASCII)
_ELLIPSIS = re.compile(r"(\.\.\.|…)$")
_TERMINAL = re.compile(r'[.!?"”]$')
_STOP = frozenset(GOPHER_STOPWORDS)

QUALITY_STRUCT_TYPE = T.StructType(
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
    ]
)

# Spark SQL F.trim removes ONLY the space character — the native spec
# uses it for the terminal-punct and bullet/ellipsis line rules, so the
# Python twin must strip ' ' alone (stripping all chars <= U+0020 made
# tab-padded lines diverge from the oracle-checked spec)
_SPARK_TRIM = " "


def _features_one(text: str | None) -> tuple:
    if text is None:
        return (None,) * 15
    words = [w for w in _WS.split(text) if w]
    nw = len(words) or 1
    lines = text.split("\n")
    nl = len(lines) or 1
    # duplicate-n-gram fractions via zip views (identical sets to the
    # slice-tuple construction, far fewer allocations)
    n2 = len(words) - 1
    dup2 = float(n2 - len(set(zip(words, words[1:])))) / n2 if n2 > 0 else 0.0
    n3 = len(words) - 2
    dup3 = (
        float(n3 - len(set(zip(words, words[1:], words[2:])))) / n3 if n3 > 0 else 0.0
    )
    # one pass over words for length / stopword / alpha accumulators
    word_chars = 0
    stop_count = 0
    alpha_count = 0
    alpha_search = _ALPHA.search
    for w in words:
        word_chars += len(w)
        if w.lower() in _STOP:
            stop_count += 1
        if alpha_search(w):
            alpha_count += 1
    # one strip per line, both line rules on the stripped value
    bullet_count = 0
    ellipsis_count = 0
    for ln in lines:
        sln = ln.strip(_SPARK_TRIM)
        if _BULLET.search(sln):
            bullet_count += 1
        if _ELLIPSIS.search(sln):
            ellipsis_count += 1
    lower = text.lower()
    trimmed = text.strip(_SPARK_TRIM)
    return (
        len(text),
        len(words),
        len(lines),
        float(word_chars) / nw,
        float(len(_SYMBOL.findall(text))) / nw,
        stop_count,
        float(alpha_count) / nw,
        float(bullet_count) / nl,
        float(ellipsis_count) / nl,
        dup2,
        dup3,
        bool(_TERMINAL.search(trimmed)),
        "{" in text,
        "lorem ipsum" in lower,
        "javascript" in lower,
    )


@pandas_udf(QUALITY_STRUCT_TYPE)
def quality_struct_arrow_udf(texts: pd.Series) -> pd.DataFrame:
    rows = [_features_one(t) for t in texts]
    return pd.DataFrame(rows, columns=[f.name for f in QUALITY_STRUCT_TYPE.fields])


def quality_struct_arrow(text: Column) -> Column:
    return quality_struct_arrow_udf(text)


# ---------------------------------------------------------------------------
# combined per-page signal struct: quality features + langid + BPE-ish
# token count in ONE Arrow crossing (the pipeline's featurize hot path —
# one batch transfer instead of three).

from greatex_spark.functions.textstats import (  # noqa: E402
    BPE_TOKEN_REGEX,
    CJK_REGEX,
    LANG_PROFILES,
)

_BPE = re.compile(BPE_TOKEN_REGEX, re.ASCII)
_CJK = re.compile(CJK_REGEX)
# java [^\p{L}]+ split ≡ python letter-run findall; [^\W\d_] = alphabetic
_LETTERS = re.compile(r"[^\W\d_]+")
_PROFILES = [(lang, frozenset(m)) for lang, m in LANG_PROFILES.items()]

PAGE_SIGNALS_TYPE = T.StructType(
    list(QUALITY_STRUCT_TYPE.fields)
    + [
        T.StructField("n_bpe_tokens", T.LongType()),
        T.StructField("lang_pred", T.StringType()),
    ]
)


def _detect_lang_one(text: str, min_hits: int = 2) -> str:
    """Exact replica of textstats.detect_lang (same profiles, first-wins
    tie-break, CJK codepoint-fraction override)."""
    if len(_CJK.findall(text)) / max(len(text), 1) > 0.25:
        return "zh"
    tokens = _LETTERS.findall(text.lower())
    best_lang, best_score = "und", min_hits - 1
    for lang, markers in _PROFILES:
        s = sum(1 for t in tokens if t in markers)
        if s > best_score:
            best_lang, best_score = lang, s
    return best_lang


@pandas_udf(PAGE_SIGNALS_TYPE)
def page_signals_arrow_udf(texts: pd.Series) -> pd.DataFrame:
    rows = []
    for t in texts:
        if t is None:
            rows.append((None,) * 15 + (None, None))
        else:
            rows.append(
                _features_one(t) + (len(_BPE.findall(t)), _detect_lang_one(t))
            )
    return pd.DataFrame(rows, columns=[f.name for f in PAGE_SIGNALS_TYPE.fields])


def page_signals_arrow(text: Column) -> Column:
    return page_signals_arrow_udf(text)
