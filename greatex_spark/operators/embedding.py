"""Exact cosine operators over an embedding column.

- :func:`brute_force_topk` — exact cosine top-k: broadcast the query
  side, one pass over the corpus, per-query heap via window row_number;
  :func:`brute_force_topk_arrow` is its Arrow/numpy hot path.
- :func:`embedding_cosine_dedup` — embedding near-duplicate removal
  against bounded random-hyperplane bucket representatives.
- :func:`embedding_decontaminate` — drop corpus rows within a cosine
  threshold of any benchmark vector.

All vector math on the spec path is native: ``zip_with`` dot products
and ``aggregate`` norms run in the JVM; embeddings are ``array<float>``
cast to double for bit-stable scores.  Scores are rounded to 6 decimals
*before* ranking with an id tie-break, so rankings are reproducible
across engines and partitionings (and comparable to a DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _vec_matrix(values, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series / list of array<float> cells into a 2-D
    float64 matrix.  With Arrow transfer each cell is already a numpy
    array, so ``np.vstack`` is a single copy."""
    return np.vstack([np.asarray(v, dtype=dtype) for v in values])


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, score).

    Self-matches (same id) are excluded.  The smaller side should be
    ``queries`` — it is broadcast, so the corpus is scanned exactly
    once with no shuffle; the only exchange is the per-query top-k
    window, keyed by query id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),  # once per query, not per pair
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),  # once per corpus row
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.when(
                    denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom
                ).otherwise(F.lit(0.0)),
                score_decimals,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Arrow/numpy twin of :func:`brute_force_topk`.  The query side
    (small, broadcastable by contract — same assumption the spec
    version makes) is collected to a driver matrix and closed over a
    ``mapInPandas`` stage; every corpus Arrow batch scores ALL queries
    with one float64 matmul and emits only its per-query top-(k+1)
    leaders, so the exchange carries ``partitions × queries × (k+1)``
    candidate rows instead of ``corpus × queries`` pairs; a final
    per-query window merges batch leaders.  Same rounding and tie-break
    as the spec; parity-tested (``tests/test_operators.py``)."""
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _vec_matrix([r[1] for r in q_rows])
    q_norm = np.linalg.norm(qm, axis=1)
    q_zero = q_norm == 0.0
    qn = qm / np.where(q_zero, 1.0, q_norm)[:, None]

    # chunk the query axis so the per-batch score matrix stays ~flat in
    # memory (batch × Q doubles at Q=8k is 0.6 GB per Python worker);
    # chunking changes no values, only allocation peaks
    q_chunk = max(1, min(len(q_ids), 1024)) if len(q_ids) else 1

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = _vec_matrix(pdf[vec_col])
            c_norm = np.linalg.norm(cm, axis=1)
            c_zero = c_norm == 0.0
            cn = cm / np.where(c_zero, 1.0, c_norm)[:, None]
            kk = min(k + 1, len(ids))  # +1 survives self-match removal
            for lo in range(0, len(q_ids), q_chunk):
                sl = slice(lo, lo + q_chunk)
                scores = cn @ qn[sl].T  # (batch, chunk)
                scores[c_zero, :] = 0.0  # spec: cosine=0 when a norm is 0
                scores[:, q_zero[sl]] = 0.0
                top = np.argpartition(-scores, kk - 1, axis=0)[:kk]
                n_q = scores.shape[1]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(q_ids[sl], kk),
                        "neighbor_id": ids[top.T.reshape(-1)],
                        "score": np.round(
                            scores[
                                top.T.reshape(-1), np.repeat(np.arange(n_q), kk)
                            ],
                            score_decimals,
                        ),
                    }
                )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _projection_matrix(dim: int, num_bits: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_bits, dim)).round(6).tolist()


def bucket_col(vec: Column, dim: int, num_bits: int = 8, seed: int = 7) -> Column:
    """Random-hyperplane sign bucket as a long — the projection matrix
    is a deterministic literal baked into the plan (seeded numpy),
    evaluated JVM-side."""
    planes = _projection_matrix(dim, num_bits, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        # one Literal array node per plane (not CreateArray of 64 Lits) —
        # plan construction + analysis of the 16-plane tree drops from
        # seconds to milliseconds; values identical
        proj = dot(vec, F.lit([float(x) for x in plane]))
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def embedding_cosine_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    num_bits: int = 12,
    num_tables: int = 2,
    candidate_cap: int | None = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-duplicate removal: drop a row iff a lower-id
    *representative* of one of its LSH buckets has cosine ≥ threshold.
    Representatives are the per-id-hash-cell bucket minima
    (≤``candidate_cap`` per bucket — the bounded-candidate scheme of
    :mod:`greatex_spark.operators.dedup`; ``None`` = exact all-pairs),
    so a hot bucket costs rows × cap comparisons, never bucket².

    ``num_tables`` independent plane sets act like MinHash bands: a
    near-copy whose projection crosses a sign boundary in one table is
    still caught in another (P(miss) = p₁^T).  Measured on 50k random
    vectors + 2,000 planted ±1% copies (``emb_dedup_recall`` in
    BENCH_r05.json):
    single-table 8-bit recall 0.30 (cap-bound), 14-bit 0.94; the
    12-bit × 2-table default ≈ 0.98 with zero false merges."""
    from greatex_spark.operators.dedup import bucket_representatives

    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                bucket_col(F.col(vec_col), dim, num_bits, seed + t).alias("b"),
            )
            for t in range(num_tables)
        ]
    )
    withb = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),  # once per row, before explode
        F.explode(tables).alias("__tb"),
    ).select(
        "__id", "__v", "__n",
        F.col("__tb.t").alias("__tbl"), F.col("__tb.b").alias("__bucket"),
    )
    reps = bucket_representatives(
        withb, ["__tbl", "__bucket"], "__id", candidate_cap
    ).join(
        withb.select(
            F.col("__id").alias("__rep_id"),
            F.col("__v").alias("__rv"),
            F.col("__n").alias("__rn"),
        )
        .dropDuplicates(["__rep_id"]),
        on="__rep_id",
    )
    denom = F.col("__n") * F.col("__rn")
    cos = F.when(
        denom > 0, dot(F.col("__v"), F.col("__rv")) / denom
    ).otherwise(F.lit(0.0))
    dropped = (
        withb.join(reps, on=["__tbl", "__bucket"])
        .where(F.col("__id") > F.col("__rep_id"))
        .where(cos >= threshold)
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-space benchmark decontamination: remove corpus rows
    whose cosine similarity to ANY benchmark vector reaches
    ``threshold``.  The semantic complement of the 13-gram rule in
    :mod:`greatex_spark.operators.decontaminate` — paraphrased eval
    leakage shares no n-gram but sits next to the benchmark in
    embedding space.

    Spark shape, mirroring the n-gram decontaminator's scale story:
    the benchmark side is tiny by definition, so the pair evaluation
    is a **broadcast** nested-loop join — the corpus never shuffles to
    learn which rows are contaminated.  Norms are computed once per
    vector on each side BEFORE the join (the per-pair work is only the
    dot fold).  The semi join emits each contaminated id once (no
    distinct needed), and the only remaining exchange is the ids-only
    broadcast for the final ``left_anti`` rejoin.

    Deterministic: the sequential IEEE dot/norm folds match the DuckDB
    twin term-for-term (same family as ``embedding_cosine_dedup``).
    """
    bench = F.broadcast(
        benchmark.select(
            F.col(vec_col).alias("__bv"),
            l2_norm(F.col(vec_col)).alias("__bn"),  # once per bench vector
        )
    )
    corp = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),  # once per corpus row
    )
    denom = F.col("__cn") * F.col("__bn")
    cos = F.when(
        denom > 0, dot(F.col("__cv"), F.col("__bv")) / denom
    ).otherwise(F.lit(0.0))
    contaminated = corp.join(bench, cos >= F.lit(threshold), "left_semi").select(
        F.col("__cid").alias(id_col)
    )  # semi join: already one row per contaminated corpus id — no distinct
    return corpus.join(F.broadcast(contaminated), on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# DuckDB oracle twins: the projection matrix is a seeded literal, so the
# bucket assignment replays in SQL.  Dot products fold sequentially
# (list_reduce) to match the IEEE accumulation order of the Column-side
# F.aggregate fold exactly — bucket sign bits and threshold compares are
# then bit-identical.


def _planes_sql(dim: int, num_bits: int, seed: int = 7) -> str:
    planes = _projection_matrix(dim, num_bits, seed)
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in planes
    ) + "]"


def _seq_dot_sql(vec: str, plane: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
        f"CAST({vec}[i] AS DOUBLE) * {plane}[i]), (a, b) -> a + b)"
    )


def _seq_cosine_sql(a: str, b: str, dim: int) -> str:
    dot = (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )

    def norm(v: str) -> str:
        return (
            f"sqrt(list_reduce(list_transform(range(1, {dim + 1}), i -> "
            f"CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)), (x, y) -> x + y))"
        )

    return (
        f"CASE WHEN {norm(a)} * {norm(b)} > 0 "
        f"THEN {dot} / ({norm(a)} * {norm(b)}) ELSE 0.0 END"
    )


def _bucket_terms_sql(vec: str, dim: int, num_bits: int, planes_ref: str) -> str:
    return " + ".join(
        f"(CASE WHEN {_seq_dot_sql(vec, f'{planes_ref}[{b + 1}]', dim)} >= 0 "
        f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(num_bits)
    )


def embedding_cosine_dedup_duckdb_sql(
    select_cols: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.98,
    num_bits: int = 12,
    num_tables: int = 2,
    seed: int = 7,
    candidate_cap: int | None = 64,
) -> str:
    """Oracle for :func:`embedding_cosine_dedup` (same bounded bucket
    representatives, same per-table seeded planes)."""
    from greatex_spark.operators.dedup import _reps_cte_sql

    cos = _seq_cosine_sql(f"l.{vec_col}", f"r.{vec_col}", dim)
    per_table = "\nUNION ALL ".join(
        f"SELECT {id_col}, {vec_col}, {t} AS tbl, "
        f"({_bucket_terms_sql(vec_col, dim, num_bits, 'p')}) AS bucket "
        f"FROM {table}, (SELECT {_planes_sql(dim, num_bits, seed + t)} AS p)"
        for t in range(num_tables)
    )
    return f"""
WITH cb AS (
  {per_table}),
reps AS ({_reps_cte_sql('cb', 'tbl, bucket', id_col, candidate_cap)}),
rvec AS (
  SELECT rp.tbl, rp.bucket, rp.rid, c.{vec_col}
  FROM reps rp JOIN (SELECT DISTINCT {id_col}, {vec_col} FROM cb) c
    ON c.{id_col} = rp.rid),
dropped AS (
  SELECT DISTINCT l.{id_col} AS did
  FROM cb l JOIN rvec r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.{id_col} > r.rid
  WHERE {cos} >= {threshold})
SELECT {select_cols} FROM {table} t
WHERE t.{id_col} NOT IN (SELECT did FROM dropped)
"""


def embedding_decontaminate_duckdb_sql(
    select_cols: str,
    corpus_table: str = "embeddings",
    benchmark_sql: str = "SELECT * FROM embeddings WHERE vec_id % 31 = 0",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
) -> str:
    """Oracle for :func:`embedding_decontaminate`: same sequential
    cosine fold, EXISTS membership, NOT-IN rejoin."""
    cos = _seq_cosine_sql(f"c.{vec_col}", f"b.{vec_col}", dim)
    return f"""
WITH __benchmark AS MATERIALIZED ({benchmark_sql}),
__bad AS (
  SELECT DISTINCT c.{id_col}
  FROM {corpus_table} c JOIN __benchmark b ON {cos} >= {threshold})
SELECT {select_cols} FROM {corpus_table} t
WHERE t.{id_col} NOT IN (SELECT {id_col} FROM __bad)
"""
