"""Deterministic stratified sampling for training-data mixes.

Corpus assembly weights sources differently (e.g. wikipedia × 3,
common-crawl × 0.3).  ``df.sample()`` is seed-dependent on
partitioning and not replayable row-for-row; here membership is a pure
function of the row id — ``md5_long(id || ':' || salt) mod D < f·D`` —
so the sample is identical under any partitioning, cluster layout, or
re-run, and replays exactly in the DuckDB oracle (md5, not xxhash64,
because DuckDB has no xxhash64).

One scan, no shuffle: the stratum fraction lookup is a literal CASE
chain (strata counts are small — sources, languages, buckets), and the
filter is a plain predicate that pushes into the scan pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from greatex_spark.operators.minhash import md5_long, md5_long_sql

DENOM = 1_000_000


def _keep_threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    return int(round(fraction * DENOM))


def sample_hash(id_col: Column, salt: int) -> Column:
    """The sampling key: ``md5_long(id:salt) mod DENOM`` — uniform over
    [0, DENOM), deterministic per (id, salt); different salts give
    independent samples (e.g. train/heldout splits)."""
    return F.pmod(
        md5_long(F.concat(id_col.cast("string"), F.lit(f":{salt}"))), F.lit(DENOM)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: int = 42,
) -> DataFrame:
    """Keep each row iff its hash falls under its stratum's fraction.

    Exact, replayable semantics (not approximate row counts): a stratum
    with fraction f keeps the ~f·|stratum| rows whose ids hash lowest —
    re-running, repartitioning, or growing OTHER strata never changes
    which rows survive."""
    thr: Column = F.lit(_keep_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(_keep_threshold(frac))
        ).otherwise(thr)
    return df.where(sample_hash(F.col(id_col), salt) < thr)


def stratified_sample_duckdb_sql(
    select_cols: str,
    table: str,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: int = 42,
) -> str:
    """Oracle for :func:`stratified_sample` — same md5 key, same CASE
    thresholds (DuckDB's ``%`` on positive operands equals pmod)."""
    key = md5_long_sql(f"({id_col}::VARCHAR || ':{salt}')")
    whens = "\n    ".join(
        f"WHEN '{v}' THEN {_keep_threshold(f)}"
        for v, f in sorted(fractions.items())
    )
    return f"""
SELECT {select_cols} FROM {table}
WHERE ({key} % {DENOM}) < (CASE {strata_col}
    {whens}
    ELSE {_keep_threshold(default_fraction)} END)
"""


def domain_quota(
    df: DataFrame,
    domain_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: int = 7,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Cap each domain's contribution at ~``cap`` rows — the hot-domain
    quota of web-corpus assembly (one boilerplate-heavy domain must not
    dominate the training mix).

    No window, no per-domain sort: a row survives iff its sampling hash
    falls under ``cap / |domain|`` — i.e. ``hash(id) · n < cap · DENOM``
    in exact long arithmetic (hash < 10^6, n ≤ 10^12 stays inside
    int64).  Domains at or under the cap keep every row exactly; larger
    domains keep Binomial(n, cap/n) ≈ cap ± √cap rows — an approximate
    quota, but a deterministic, partitioning-independent, exactly
    replayable one.  The alternative (row_number per domain) funnels
    every hot domain through one reducer — precisely the skew this
    operator exists to avoid.

    Cost: one count aggregation (map-side combined; a hot domain
    reduces to one row per partition before the exchange) + one join of
    the corpus against the tiny (domain, n) table — broadcast by
    default; pass ``broadcast_counts=False`` above ~10M domains and let
    AQE plan the shuffle join."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n"))
    if broadcast_counts:
        counts = F.broadcast(counts)
    keep = sample_hash(F.col(id_col), salt) * F.col("__n") < F.lit(cap) * F.lit(DENOM)
    return df.join(counts, on=domain_col).where(keep).drop("__n")


def domain_quota_duckdb_sql(
    select_cols: str,
    table: str,
    domain_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: int = 7,
) -> str:
    """Oracle for :func:`domain_quota` — same md5 key, same long
    arithmetic."""
    key = md5_long_sql(f"({id_col}::VARCHAR || ':{salt}')")
    return f"""
SELECT {select_cols}
FROM {table} t
JOIN (SELECT {domain_col}, count(*) AS n FROM {table} GROUP BY {domain_col}) c
  USING ({domain_col})
WHERE ({key} % {DENOM}) * c.n < {cap}::BIGINT * {DENOM}
"""


def top_n_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    n: int,
    salt_col: Column | None = None,
    salt_buckets: int = 16,
    rank_name: str = "rank",
) -> DataFrame:
    """Exact deterministic top-n per group, skew-safe.

    Semantically identical to one ``row_number() OVER (PARTITION BY
    group ORDER BY order_cols)`` window (the form the DuckDB oracle
    replays), but a plain window funnels each whole group through ONE
    task — with a handful of groups over a 100 TB corpus (e.g. four
    drop reasons) that is a single-reducer sort.  Here the heavy sort
    runs per ``(group, salt)`` subpartition — ``salt`` a pure hash of
    the tie-break key, so the split is replayable — keeping ``n`` per
    subpartition; a second window then ranks the ≤ ``salt_buckets·n``
    survivors per group.  Top-n of per-salt top-ns equals the global
    top-n exactly because ``order_cols`` totally order rows (callers
    must end the list with a unique tie-break column).  ``order_cols``
    are plain columns, ranked ascending (no SortOrder wrappers — the
    tie-break is also hashed for the salt, and a sort direction is not
    a value expression).

    ``salt_col`` defaults to ``md5_long`` of the last order column
    (the tie-break) — pass ``xxhash64`` of it for the GC-light
    production family; the salt only routes rows, so any hash gives
    the same result set."""
    if salt_col is None:
        salt_col = md5_long(order_cols[-1].cast("string"))
    w1 = Window.partitionBy(group_col, "__salt").orderBy(*order_cols)
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__salt", F.pmod(salt_col, F.lit(salt_buckets)))
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= n)
        .withColumn(rank_name, F.row_number().over(w2).cast("long"))
        .where(F.col(rank_name) <= n)
        .drop("__salt", "__r1")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "quality_score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Select the highest-quality prefix of the corpus up to a token
    budget (DataComp/FineWeb-Edu-style top-slice): order documents by
    ``(score desc, id)`` and keep each one iff the running token total
    *including it* stays ≤ ``budget`` — a strict prefix, so the result
    is deterministic and replayable (a doc that would overflow the
    budget is cut, and so is everything after it).

    The semantic spec is one global cumulative-sum window — which on
    Spark would be a single-task sort of the whole corpus.  Instead:
    quantize ``score`` into ``n_buckets`` order-consistent buckets
    (same score → same bucket, bucket order respects score order), agg
    per-bucket token totals (ONE map-side-combinable shuffle of ≤
    ``n_buckets`` rows), collect them (bounded driver memory), and
    broadcast each bucket's *offset* (sum of all strictly-higher
    buckets) back as a literal map.  Buckets
    whose offset already exceeds the budget are dropped by a pushed
    filter BEFORE any sort; surviving buckets run parallel per-bucket
    cumulative windows (corpus/n_buckets rows per task — the scale
    knob) and keep rows with ``offset + in-bucket cum ≤ budget``.
    Exactness: the global order restricted to a bucket IS the
    in-bucket order, and cross-bucket ties are impossible, so
    ``offset[b] + cum_in_bucket`` equals the global cumulative sum.

    ``score_col`` must be non-null and in [0, 1] (clamped buckets);
    token counts are exact integer math end-to-end."""
    score = F.col(score_col)
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor(score * n_buckets).cast("int")),
    )
    with_b = df.withColumn("__b", bucket)
    totals = {
        r["__b"]: r["t"]
        for r in with_b.groupBy("__b")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("t"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(totals, reverse=True):
        offsets[b] = acc
        acc += totals[b]
    live = [b for b in offsets if offsets[b] < budget]
    if not live:
        return df.limit(0)
    pairs: list[Column] = []
    for b in live:
        pairs += [F.lit(b), F.lit(offsets[b])]
    off = F.element_at(F.create_map(*pairs), F.col("__b")).cast("long")
    w = Window.partitionBy("__b").orderBy(score.desc(), F.col(id_col))
    return (
        with_b.where(F.col("__b").isin(live))
        .withColumn(
            "__cum", off + F.sum(F.col(tokens_col).cast("long")).over(w)
        )
        .where(F.col("__cum") <= F.lit(int(budget)))
        .drop("__b", "__cum")
    )


def token_budget_select_duckdb_sql(
    select_cols: str,
    table: str,
    budget: int,
    score_expr: str = "quality_score",
    tokens_expr: str = "n_tokens",
    id_col: str = "doc_id",
) -> str:
    """Oracle for :func:`token_budget_select` — the single-window
    semantic spec the bucketed plan is provably equal to."""
    return f"""
SELECT {select_cols} FROM (
  SELECT *, sum({tokens_expr}::BIGINT)
            OVER (ORDER BY {score_expr} DESC, {id_col}) AS __cum
  FROM {table})
WHERE __cum <= {int(budget)}
"""
