"""Hashed linear quality classifier — fastText-style document scoring
with NO Python in the hot path.

The GPT-3/CCNet-style "quality filter" trains a linear classifier that
scores how much a web document resembles a curated corpus (fastText
supervised with hashed bag-of-words features; Joulin et al. 2016).  A
real fastText .bin is not available in this environment, so the default
model is a deterministic stand-in *trained at import time* on the fixed
seed corpus in :mod:`greatex_spark.functions.langid`:

- feature = ``md5_long(token) % N_BUCKETS`` (the oracle-replayable hash
  family from :mod:`greatex_spark.operators.minhash`),
- weight(bucket) = ``round(ln(1 + seed_count[bucket]), 6)`` — tokens
  common in the fluent seed corpus pull the score up,
- score = ``sigmoid(mean_token_weight + bias)``, rounded to 6 decimals.

Unlike fastText itself, the stand-in scorer is a pure Column expression
(tokenize once via a let-binding, then a sequential ``aggregate`` fold
over weight lookups in a small map literal) — whole-stage-codegen'd
JVM execution, zero Arrow transfer, and an exact DuckDB twin
(:func:`quality_score_duckdb_sql`) whose ``list_reduce`` performs the
identical left-to-right IEEE-double fold, so scores replay
bit-identically (same pattern as
:mod:`greatex_spark.functions.perplexity`).

A real fastText model plugs in through :func:`make_quality_score_udf`
(mirror of ``langid.make_langid_udf``: path in, per-executor lazy load,
Arrow-batched scoring).

Reference scope: the reference engine has no classifier; this extends
the quality_filter tier (BASELINE.json north_star: curated-corpus
quality scoring is the canonical web-text keep/drop signal).
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from greatex_spark.functions.exprs import let
from greatex_spark.functions.langid import SEED_TEXT
from greatex_spark.functions.textstats import _letter_tokens

N_BUCKETS = 512
BIAS = -2.0  # centers sigmoid: seed-like docs ≈0.7-0.9, gibberish ≈0.1


def _py_bucket(token: str) -> int:
    """Python twin of ``md5_long(token) % N_BUCKETS`` (md5 of the utf-8
    bytes, first 15 hex chars as base-16, non-negative)."""
    import hashlib

    h = int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)
    return h % N_BUCKETS


def train_seed_weights() -> dict[int, float]:
    """Deterministic bucket→weight table from the fixed seed corpus
    (every language profile, so non-English fluent text scores above
    gibberish too)."""
    counts: Counter = Counter()
    for lang in SEED_TEXT:
        for tok in SEED_TEXT[lang].lower().split():
            tok = "".join(ch for ch in tok if ch.isalpha())
            if tok:
                counts[_py_bucket(tok)] += 1
    return {b: round(math.log1p(c), 6) for b, c in sorted(counts.items())}


_WEIGHTS = train_seed_weights()


def quality_score(
    col: Column | str,
    weights: dict[int, float] | None = None,
    bias: float = BIAS,
) -> Column:
    """fastText-style quality score in [0, 1] as a native Column.

    Tokenization is the shared letter-run spec (one split per row,
    let-bound); the weight fold is sequential left-to-right so the
    DuckDB oracle replays it bit-identically.  Empty documents score
    ``sigmoid(bias)``."""
    from greatex_spark.operators.minhash import md5_long

    w = _WEIGHTS if weights is None else weights
    c = F.col(col) if isinstance(col, str) else col
    wmap = F.map_from_arrays(
        F.lit([int(b) for b in w]),
        F.lit([float(v) for v in w.values()]),
    )

    def score(tokens: Column) -> Column:
        wsum = F.aggregate(
            F.transform(
                tokens,
                lambda t: F.coalesce(
                    F.element_at(wmap, (md5_long(t) % F.lit(N_BUCKETS)).cast("int")),
                    F.lit(0.0),
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        mean = wsum / F.greatest(F.size(tokens), F.lit(1)).cast("double")
        return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-(mean + F.lit(bias)))), 6)

    return let(_letter_tokens(c), score)


def with_quality_score(
    df: DataFrame, text_col: str = "text", out_col: str = "quality_score"
) -> DataFrame:
    return df.withColumn(out_col, quality_score(text_col))


def quality_score_duckdb_sql(
    col_expr: str,
    weights: dict[int, float] | None = None,
    bias: float = BIAS,
) -> str:
    """DuckDB twin of :func:`quality_score` — same tokenization, same
    map-literal lookups, same sequential fold (``list_reduce`` guarded
    for the empty-token case, which DuckDB's reduce rejects)."""
    from greatex_spark.operators.minhash import md5_long_sql

    w = _WEIGHTS if weights is None else weights
    keys = ", ".join(str(int(b)) for b in w)
    # ::DOUBLE[]: DuckDB otherwise types the literals DECIMAL (mixed
    # scales overflow, and decimal math would diverge from IEEE)
    vals = ", ".join(repr(float(v)) for v in w.values())
    toks = f"regexp_extract_all(lower({col_expr}), '[\\p{{L}}]+')"
    wmap = f"map([{keys}], [{vals}]::DOUBLE[])"
    lookups = (
        f"list_transform({toks}, t -> "
        f"coalesce({wmap}[({md5_long_sql('t')} % {N_BUCKETS})::INT][1], 0.0))"
    )
    wsum = (
        f"(CASE WHEN len({toks}) = 0 THEN 0.0 "
        f"ELSE list_reduce({lookups}, (a, b) -> a + b) END)"
    )
    mean = f"({wsum} / greatest(len({toks}), 1))"
    return f"round(1.0 / (1.0 + exp(-({mean} + {bias}))), 6)"


# ---------------------------------------------------------------------------
# real-model seam (fastText supervised .bin)

_EXTERNAL_MODELS: dict[str, object] = {}


def _fasttext_loader(model_path: str):
    import fasttext  # not bundled here; the seam is for real deployments

    return fasttext.load_model(model_path)


def make_quality_score_udf(
    model_path: str | None = None, loader=None, positive_label: str = "__label__keep"
):
    """Factory mirroring ``langid.make_langid_udf``.

    - ``model_path=None`` → a pandas-UDF twin of the native
      :func:`quality_score` expression (for surfaces that require a UDF;
      prefer the Column form — it is JVM-side).
    - ``model_path='/models/quality.bin'`` → Arrow UDF lazily loading
      the real fastText supervised model once per executor; score =
      P(positive_label) via ``predict(k=-1)``."""
    if model_path is None:

        @pandas_udf(T.DoubleType())
        def standin_udf(texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: None if t is None else quality_score_py(str(t)))

        return standin_udf
    load = loader or _fasttext_loader

    @pandas_udf(T.DoubleType())
    def external_udf(texts: pd.Series) -> pd.Series:
        model = _EXTERNAL_MODELS.get(model_path)
        if model is None:
            model = load(model_path)
            _EXTERNAL_MODELS[model_path] = model

        def score(t):
            if t is None:
                return None
            labels, probs = model.predict(str(t).replace("\n", " "), k=-1)
            for lab, p in zip(labels, probs):
                if lab == positive_label:
                    return float(p)
            return 0.0

        return texts.map(score)

    return external_udf


def quality_score_py(text: str, weights: dict[int, float] | None = None,
                     bias: float = BIAS) -> float:
    """Standalone Python reference scorer (tests / UDF stand-in).  Same
    tokenization and sequential fold as the Column expression."""
    import re

    w = _WEIGHTS if weights is None else weights
    tokens = re.findall(r"[^\W\d_]+", text.lower(), re.UNICODE)
    wsum = 0.0
    for t in tokens:
        wsum += w.get(_py_bucket(t), 0.0)
    mean = wsum / max(len(tokens), 1)
    return round(1.0 / (1.0 + math.exp(-(mean + bias))), 6)
