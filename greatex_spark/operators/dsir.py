"""DSIR-style data selection via importance resampling (Xie et al.
2023, arXiv:2302.03169) — select raw-corpus documents that look like a
target distribution, using hashed-n-gram bag-of-words language models.

Pipeline shape (all Spark-native, no UDFs):

1. :func:`fit_hashed_lm` — fit a smoothed multinomial over hashed
   unigram+bigram buckets for BOTH the target sample and the raw
   corpus: one explode + map-side-combining ``groupBy`` each; only the
   ``num_buckets`` integer counts reach the driver, where the log
   probabilities are computed in Python (so the Spark operator and the
   DuckDB oracle share literally identical float literals).
2. :func:`dsir_log_weight` — per-document importance log-weight
   ``log p_target(x) − log p_raw(x) = Σ_gram logdiff[bucket(gram)]``:
   a 0.0-seeded sequential fold over the document's gram buckets
   against one literal array — exact in both engines.
3. :func:`dsir_sample` — Gumbel top-k sampling without replacement,
   ``key = logw + Gumbel(md5-uniform(id))``: deterministic (the
   uniform derives from the 60-bit md5 of the id), distributed (the
   top-n is a ``TakeOrderedAndProject``, never a full sort), and
   replayable (the key rounds to 9 decimals before ranking with an id
   tie-break, absorbing cross-engine ``ln`` ulp differences — the
   repo-wide round-before-tie-break convention).

At 10^12 documents: fit the models on bounded, deterministic
hash-samples of the corpus; scoring is a single
projection; sampling shuffles only per-partition top-n heads.

The reference has no counterpart (beyond-reference LLM-pipeline
operator); gram hashing reuses the md5-derived replayable hash family
of ``operators/dedup.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from greatex_spark.operators.dedup import md5_long, md5_long_sql

TWO_POW_60 = float(1 << 60)


def _norm_words(col: Column) -> Column:
    """Whitespace-normalized lowercase word list (the corpus-stats
    tokenization used by ``doc_top_tokens`` — same DuckDB twin)."""
    return F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " "),
        lambda w: w != "",
    )


def gram_buckets(
    col: Column, num_buckets: int = 4096, family: str = "md5"
) -> Column:
    """Hashed unigram+bigram bucket ids (array<long>, document order:
    unigrams then bigrams) — DSIR's bag-of-hashed-n-grams features.

    ``family`` follows the repo's dedup convention: ``"md5"`` (default)
    is the oracle-replayable spec hash; ``"xxhash64"`` is the hot path
    (~3× cheaper inside the interpreted HOF) for production corpora —
    a different but equally-valid bucketing, so FIT AND SCORE MUST USE
    THE SAME FAMILY.

    The word list is let-bound: inside interpreted HOFs there is no
    CSE, so referencing the tokenize expression from the per-position
    bigram lambda would re-split the text once per position (measured
    ~20× on the corpus scoring pass)."""
    from greatex_spark.functions.exprs import let

    hash_fn = md5_long if family == "md5" else F.xxhash64
    if family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash family {family!r}")

    def build(ws: Column) -> Column:
        n = F.size(ws)
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(ws, i), F.element_at(ws, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.concat(ws, bigrams),
            lambda g: F.pmod(hash_fn(g), F.lit(num_buckets).cast("long")),
        )

    return let(_norm_words(col), build)


def fit_hashed_lm(
    df: DataFrame,
    text_col: str = "text",
    num_buckets: int = 4096,
    alpha: float = 1.0,
    family: str = "md5",
) -> list[float]:
    """Smoothed multinomial log-probabilities over gram buckets:
    ``log((count_b + α) / (total + α·B))``.  The Spark job returns only
    integer bucket counts (exact); the logs are taken driver-side with
    ``math.log`` so an oracle fitting from the same parquet produces
    bit-identical literals."""
    rows = (
        df.select(
            F.explode(gram_buckets(F.col(text_col), num_buckets, family)).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = [0] * num_buckets
    for r in rows:
        counts[r.b] = r.n
    denom = math.log(sum(counts) + alpha * num_buckets)
    return [math.log(c + alpha) - denom for c in counts]


def log_diff(target_logp: list[float], raw_logp: list[float]) -> list[float]:
    return [t - r for t, r in zip(target_logp, raw_logp)]


def dsir_log_weight(
    col: Column, logdiff: list[float], num_buckets: int = 4096,
    family: str = "md5",
) -> Column:
    """``Σ_gram logdiff[bucket(gram)]`` — 0.0-seeded sequential fold in
    document gram order (empty document → 0.0)."""
    diff_arr = F.lit([float(x) for x in logdiff])
    return F.aggregate(
        gram_buckets(col, num_buckets, family),
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(diff_arr, (b + 1).cast("int")),
    )


def dsir_sample(
    df: DataFrame,
    target_logp: list[float],
    raw_logp: list[float],
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    key_decimals: int = 9,
    family: str = "md5",
) -> DataFrame:
    """Gumbel top-``n`` importance resampling without replacement:
    adds ``dsir_logw`` (rounded log importance weight) and ``dsir_key``
    (logw + Gumbel noise from the id's md5-uniform) and keeps the ``n``
    highest keys.  Deterministic; replay with
    :func:`dsir_sample_duckdb_sql`."""
    diff = log_diff(target_logp, raw_logp)
    logw = dsir_log_weight(F.col(text_col), diff, num_buckets, family)
    # +0.5 (not +1) keeps u strictly inside (0, 1): with +1 a hash within
    # half an ulp of 2^60 rounds u to exactly 1.0, where Spark's
    # log(-log(1.0)) = log(0) yields NULL (sorts last under desc) while
    # DuckDB's ln(0) = -inf makes the key +inf (sorts first) — a
    # cross-engine selection divergence at vanishing probability.
    u = (md5_long(F.col(id_col).cast("string")) + 0.5) / F.lit(TWO_POW_60)
    key = F.round(logw - F.log(-F.log(u)), key_decimals)
    return (
        df.withColumns(
            {"dsir_logw": F.round(logw, key_decimals), "dsir_key": key}
        )
        .orderBy(F.col("dsir_key").desc(), F.col(id_col).asc())
        .limit(n)
    )


# ---------------------------------------------------------------------------
# DuckDB twins


def _grams_sql(text_expr: str) -> str:
    words = (
        f"list_filter(string_split(trim(regexp_replace(lower({text_expr}), "
        f"'\\s+', ' ', 'g')), ' '), w -> w != '')"
    )
    return (
        f"(WITH w AS (SELECT {words} AS ws) "
        f"SELECT list_concat(ws, list_transform(range(1, len(ws)), "
        f"i -> ws[i] || ' ' || ws[i + 1])) FROM w)"
    )


def hashed_lm_from_parquet(
    path: str,
    where_sql: str = "TRUE",
    text_col: str = "text",
    num_buckets: int = 4096,
    alpha: float = 1.0,
) -> list[float]:
    """Replay :func:`fit_hashed_lm` outside Spark: same tokenization,
    same md5 bucket hash, same integer counts, same driver-side
    ``math.log`` — the returned literals equal the Spark fit's bit for
    bit."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT {md5_long_sql('g')} % {num_buckets} AS b, count(*) AS n
        FROM (SELECT unnest({_grams_sql(text_col)}) AS g
              FROM read_parquet('{path}') WHERE {where_sql})
        GROUP BY b
        """
    ).fetchall()
    con.close()
    counts = [0] * num_buckets
    for b, c in rows:
        counts[b] = c
    denom = math.log(sum(counts) + alpha * num_buckets)
    return [math.log(c + alpha) - denom for c in counts]


def dsir_sample_duckdb_sql(
    select_cols: str,
    logdiff: list[float],
    n: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    key_decimals: int = 9,
) -> str:
    """Oracle for :func:`dsir_sample`: identical gram buckets, the same
    literal logdiff array folded in the same order with the same 0.0
    seed, the same md5-uniform Gumbel key, rounded before ranking."""
    # ::DOUBLE[] is load-bearing: a bare bracket literal parses as
    # DECIMAL[] and the fold silently becomes decimal arithmetic
    diff_lit = (
        "[" + ", ".join(repr(float(x)) for x in logdiff) + "]::DOUBLE[]"
    )
    fold = (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform({_grams_sql(text_col)}, "
        f"g -> ld[1 + ({md5_long_sql('g')} % {num_buckets})])), (a, b) -> a + b)"
    )
    # +0.5 mirrors dsir_sample: keeps u strictly inside (0, 1) so
    # ln(-ln(u)) is finite in both engines.  CAST to DOUBLE *before*
    # the add — a bare `bigint + 0.5` is DECIMAL arithmetic in DuckDB
    # and would round h+0.5 differently from Spark's double(h) + 0.5.
    u = (
        f"((CAST({md5_long_sql(f'CAST({id_col} AS VARCHAR)')} AS DOUBLE)"
        f" + 0.5) / {TWO_POW_60!r})"
    )
    return f"""
WITH diff AS (SELECT {diff_lit} AS ld),
scored AS (
  SELECT t.*, {fold} AS logw_raw
  FROM {table} t, diff),
keyed AS (
  SELECT *, round(logw_raw, {key_decimals}) AS dsir_logw,
         round(logw_raw - ln(-ln({u})), {key_decimals}) AS dsir_key
  FROM scored)
SELECT {select_cols} FROM keyed
ORDER BY dsir_key DESC, {id_col} ASC
LIMIT {n}
"""
