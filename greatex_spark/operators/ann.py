"""Approximate-nearest-neighbor search over an embedding column.

Two paths:

- :func:`brute_force_topk` — exact cosine top-k: broadcast the query
  side, one pass over the corpus, per-query heap via window row_number.
  The baseline and the verifier for the approximate path.
- :func:`lsh_topk` — random-hyperplane LSH: each vector gets a
  ``num_bits``-bit sign bucket from a fixed seeded projection matrix;
  candidates share a bucket; exact cosine re-ranks within the bucket.
  At 100 TB the bucket join is the only shuffle and the quadratic
  blow-up is bounded per bucket.

All vector math is native: ``zip_with`` dot products and ``aggregate``
norms run in the JVM; embeddings are ``array<float>`` cast to double
for bit-stable scores.  Scores are rounded to 6 decimals *before*
ranking with an id tie-break, so rankings are reproducible across
engines and partitionings (and comparable to a DuckDB oracle).

Cross-embedding cosine near-duplicate detection (the fifth dedup
family from the task brief) is :func:`embedding_cosine_dedup`.
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


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _vec_matrix(values, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series / list of array<float> cells into a 2-D
    float64 matrix.  With Arrow transfer each cell is already a numpy
    array, so ``np.vstack`` is a single copy — the per-row
    ``[list(v) for v in ...]`` it replaces was the top self-time line
    in the 200k-vector crossover profile."""
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


def bucket_col_arrow(vec: Column, dim: int, num_bits: int = 8, seed: int = 7) -> Column:
    """Arrow twin of :func:`bucket_col`: one numpy matmul per batch
    against the same seeded plane matrix → sign bits → bucket long.
    Equal to the native spec except for ≤1-ulp projection differences
    at a sign boundary (probability ~0 on real embeddings;
    parity-tested)."""
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    planes = np.array(_projection_matrix(dim, num_bits, seed), dtype=np.float64)
    weights = (1 << np.arange(num_bits)).astype(np.int64)

    @pandas_udf("long")
    def _bucket(vs):  # pd.Series of array<float> -> pd.Series of long
        vm = _vec_matrix(vs)
        signs = (vm @ planes.T) >= 0
        return pd.Series(signs @ weights)

    return _bucket(vec)


def _lsh_scored(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    num_bits: int,
    id_col: str,
    vec_col: str,
    score_decimals: int,
    multiprobe: int,
    num_tables: int,
    seed: int,
    score_fn,
    bucket_fn=bucket_col,
    precompute_norms: bool = False,
) -> DataFrame:
    """Shared LSH candidate generation: multi-table sign buckets with
    optional Hamming-1 multiprobe, scored by ``score_fn`` (the Column
    cosine spec or the Arrow twin); ``bucket_fn`` picks the bucketing
    implementation (native spec or Arrow matmul).  With
    ``precompute_norms`` the native path materializes each side's L2
    norm once per vector before the rehydration join and the per-pair
    work is only the dot fold (identical values)."""

    def table_seed(t: int) -> int:
        return seed + 101 * t

    # bucket per table computed ONCE in its own projection (a probe list
    # that inlines the bucket expression re-evaluates it per probe —
    # interpreted folds and pandas UDFs alike); probes then derive from
    # the materialized column with cheap xor/add arithmetic
    q_base = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        *[
            bucket_fn(F.col(vec_col), dim, num_bits, table_seed(t)).alias(f"__b{t}")
            for t in range(num_tables)
        ],
    )

    def q_probes(t: int) -> list[Column]:
        qb = F.col(f"__b{t}")
        probes = [qb]
        if multiprobe:
            probes += [qb.bitwiseXOR(F.lit(1 << i)) for i in range(num_bits)]
        # key = table*2^num_bits + bucket keeps one join column
        return [p + F.lit(t << num_bits).cast("long") for p in probes]

    # candidate generation shuffles IDS AND BUCKET KEYS ONLY — the
    # exploded frames carry (id, bucket-long) pairs, never vectors, so
    # the bucket join's shuffle width is two longs per probe row.  The
    # same (query, neighbor) pair surfacing from several tables/probes
    # is collapsed to ONE row *before* any cosine is computed; scoring
    # then happens exactly once per distinct candidate pair (the
    # pre-round-4 plan scored every duplicate match with the interpreted
    # ``aggregate`` fold and distinct-ed afterwards, carrying both
    # vectors through the shuffle — measurably slower at every scale)
    q_keys = q_base.select(
        "query_id",
        F.explode(
            F.array(*[p for t in range(num_tables) for p in q_probes(t)])
        ).alias("__bucket"),
    )
    c_base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        *[
            bucket_fn(F.col(vec_col), dim, num_bits, table_seed(t)).alias(f"__b{t}")
            for t in range(num_tables)
        ],
    )
    c_keys = c_base.select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.col(f"__b{t}") + F.lit(t << num_bits).cast("long")
                    for t in range(num_tables)
                ]
            )
        ).alias("__bucket"),
    )
    pairs = (
        q_keys.join(c_keys, on="__bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if num_tables > 1:
        # the same pair can surface from several tables; score it once
        pairs = pairs.distinct()
    # rehydrate vectors: corpus vectors via one hash join keyed on
    # neighbor_id (column pruning drops the bucket columns from this
    # scan — the corpus is read twice, shuffled never); query vectors
    # via broadcast, same small-side contract as brute_force_topk
    corp_side = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    q_side = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    if precompute_norms:
        # norms computed ONCE PER VECTOR on the join inputs (projections
        # stay below the join), not once per candidate pair — identical
        # values to cosine()'s inline norms, ~1/3 the interpreted fold
        # work per pair
        corp_side = corp_side.withColumn("__cn", l2_norm(F.col("__cv")))
        q_side = q_side.withColumn("__qn", l2_norm(F.col("__qv")))
        denom = F.col("__qn") * F.col("__cn")
        score = F.when(
            denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom
        ).otherwise(F.lit(0.0))
    else:
        score = score_fn(F.col("__qv"), F.col("__cv"))
    return (
        pairs.join(corp_side, on="neighbor_id")
        .join(F.broadcast(q_side), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, score_decimals).alias("score"),
        )
    )


def _topk_of_scored(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    multiprobe: int = 1,
    num_tables: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any of
    ``num_tables`` independent hash tables (or, with ``multiprobe=1``,
    any bucket within Hamming distance 1 of the query's — the standard
    multi-probe trick that buys recall for ``num_bits+1``× candidate
    cost instead of more tables).  Exact cosine re-ranks candidates.

    Recall < 1.0 by construction; benchmark against
    :func:`brute_force_topk`.  Recall/cost dials: more tables and more
    probes both raise recall linearly in candidate volume — tune so the
    probed fraction of the corpus stays ≪ 1 at scale (on uniformly
    random vectors high recall requires probing a large fraction; on
    real clustered embeddings the same settings probe far less)."""
    scored = _lsh_scored(
        queries, corpus, dim, num_bits, id_col, vec_col,
        score_decimals, multiprobe, num_tables, seed, cosine,
        precompute_norms=True,
    )
    return _topk_of_scored(scored, k)


def lsh_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    multiprobe: int = 1,
    num_tables: int = 1,
    seed: int = 7,
) -> DataFrame:
    """:func:`lsh_topk` with Arrow twins on BOTH stages: bucketing via
    :func:`bucket_col_arrow` (one numpy matmul per batch — equals the
    native fold except for ≤1-ulp projection differences at an exact
    sign boundary) and candidate rerank via :func:`cosine_arrow`.
    The hot path for embedding-scale corpora; parity-tested against the
    Column spec."""
    scored = _lsh_scored(
        queries, corpus, dim, num_bits, id_col, vec_col,
        score_decimals, multiprobe, num_tables, seed, cosine_arrow,
        bucket_fn=bucket_col_arrow,
    )
    return _topk_of_scored(scored, k)


def train_centroids(
    points: np.ndarray, nlist: int, max_iter: int = 10
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a (bounded) training sample —
    the coarse quantizer of the IVF index, run driver-side in numpy
    (the sample is ≤ ``train_sample`` rows by construction, so this is
    O(sample × nlist × dim) on the driver, never a cluster job).

    Fully deterministic, no RNG: initial centroids are the first
    ``nlist`` sample rows (the sample arrives in hash order, i.e.
    pseudo-random), assignment ties break to the lowest cell index
    (``np.argmin``), and an emptied cell keeps its previous centroid.
    Returned centroids are rounded to 9 decimals so they embed as
    identical literals in Spark plans and DuckDB SQL."""
    pts = np.asarray(points, dtype=np.float64)
    nlist_eff = min(nlist, len(pts))
    cents = pts[:nlist_eff].copy()
    for _ in range(max_iter):
        # squared L2 to each centroid; argmin ties → lowest cell
        d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        new = cents.copy()
        for c in range(nlist_eff):
            members = pts[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        if np.array_equal(new, cents):
            break
        cents = new
    return [[float(v) for v in row] for row in cents.round(9)]


def _hash_sample(
    df: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> DataFrame:
    """The ``train_sample`` rows with the smallest ``md5_long(id)`` —
    a deterministic pseudo-random sample computed in ONE pass with
    per-partition top-K heaps (TakeOrderedAndProject), no prior
    ``count()`` over the corpus and no full sort.  md5 (not xxhash64)
    keys the order so the oracle can replay the exact sample with
    ``hashlib`` over the same parquet."""
    from greatex_spark.operators.dedup import md5_long

    return (
        df.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv"))
        .orderBy(md5_long(F.col("__sid").cast("string")), F.col("__sid"))
        .limit(train_sample)
    )


def sample_hash_py(vec_id) -> int:
    """Python twin of the sample ordering key (``md5_long`` of the id
    rendered as a string — Spark's cast long→string→binary is the utf-8
    bytes of the decimal rendering)."""
    import hashlib

    return int(hashlib.md5(str(int(vec_id)).encode()).hexdigest()[:15], 16)


def _cell_structs(vec: Column, centroids: list[list[float]]) -> Column:
    """Sorted array of (squared-L2-distance, cell-index) structs from
    ``vec`` to every centroid — sequential IEEE fold per distance, so
    the DuckDB twin computes bit-identical values."""
    # single nested Literal (256×64 floats would otherwise be ~16k
    # CreateArray/Literal nodes — seconds of per-call analysis time)
    cent_arr = F.lit([[float(x) for x in c] for c in centroids])
    dists = F.transform(
        cent_arr,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.array_sort(
        F.zip_with(
            dists,
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    train_sample: int = 4096,
    max_iter: int = 10,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer
    over a corpus sample, candidates restricted to each query's
    ``nprobe`` nearest cells, exact cosine re-rank inside the probed
    cells.

    The scale path for ANN at 10^12 rows: the quantizer trains on a
    deterministic ``train_sample``-row hash-sample (FAISS-style —
    training on the full corpus buys nothing and would cost
    ``max_iter`` full scans).  The sample is a one-pass per-partition
    top-K by ``md5_long(id)`` — bounded driver memory
    (``train_sample × dim`` doubles), NO prior ``count()`` job, and if
    the corpus is smaller than the sample size the quantizer simply
    trains on all of it (nlist collapses to the row count).  Lloyd's
    runs driver-side in numpy (:func:`train_centroids`, deterministic,
    seedless); the resulting centroid table (nlist × dim floats) is
    inlined as literal arrays, so cell assignment is a pure expression
    — no ML model on the hot path, and the whole index replays in
    DuckDB (:func:`ivf_topk_duckdb_sql`).  The corpus is scanned once
    to assign cells; each query joins only ~``nprobe/nlist`` of it.

    Pass precomputed ``centroids`` to skip training (e.g. to reuse one
    quantizer across variants).

    Recall < 1.0 by construction; measure against
    :func:`brute_force_topk` (see tests/test_operators.py)."""
    if centroids is None:
        rows = _hash_sample(corpus, id_col, vec_col, train_sample).collect()
        pts = _vec_matrix([r[1] for r in rows])
        centroids = train_centroids(pts, nlist, max_iter)

    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    assigned = corpus_v.select(
        "neighbor_id",
        "__cv",
        l2_norm(F.col("__cv")).alias("__cn"),  # once per vector, not per pair
        F.element_at(_cell_structs(F.col("__cv"), centroids), 1)["i"].alias("__cell"),
    )
    probe_cells = F.slice(
        F.transform(_cell_structs(F.col("__qv"), centroids), lambda s: s["i"]),
        1,
        nprobe,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    ).select("query_id", "__qv", "__qn", F.explode(probe_cells).alias("__cell"))
    denom = F.col("__qn") * F.col("__cn")
    scored = (
        q.join(assigned, on="__cell")
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
    return _topk_of_scored(scored, k)


def _query_probe_map(
    qm: np.ndarray, centroids: np.ndarray, nprobe: int
) -> tuple[np.ndarray, dict[int, np.ndarray]]:
    """Driver-side probe structures for the broadcast-query IVF path:
    per-query nprobe nearest cells (stable sort — ties to the lowest
    cell index, matching the native ``array_sort((d, i))`` spec) and the
    inverse map cell → indices of the queries probing it."""
    d2 = ((qm[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    order = np.argsort(d2, axis=1, kind="stable")
    probes = order[:, :nprobe]
    cell_queries = {
        int(c): np.flatnonzero((probes == c).any(axis=1))
        for c in np.unique(probes)
    }
    return probes, cell_queries


def _assign_cells_np(cm: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Vectorized nearest-centroid assignment: squared L2 via the
    ``|x|^2 - 2 x.c + |c|^2`` expansion (one matmul per batch); argmin
    ties break to the lowest cell index, matching the native spec."""
    d2 = (
        (cm * cm).sum(axis=1)[:, None]
        - 2.0 * (cm @ centroids.T)
        + (centroids * centroids).sum(axis=1)[None, :]
    )
    return np.argmin(d2, axis=1)


def ivf_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    train_sample: int = 4096,
    max_iter: int = 10,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF hot path for broadcastable query sets — the 100 TB shape.

    Same index as :func:`ivf_topk` (hash-sampled numpy Lloyd's
    quantizer), different execution: the query matrix and a driver-built
    ``cell → probing queries`` map ride the task closure; ONE
    ``mapInPandas`` scan assigns each corpus batch to cells with a
    single matmul and scores each cell's members against only the
    queries that probe that cell, emitting per-(batch, cell) top-(k+1)
    leaders.  No candidate join, no per-pair rows carrying vectors —
    the only exchange is ``partitions × |probed cells| × queries × (k+1)``
    leader rows into the final per-query merge window (identical shape
    to :func:`brute_force_topk_arrow`, so wall-time differences measure
    exactly the FLOP reduction: ~``nprobe/nlist`` of the brute-force
    work on balanced cells).

    Scores use the same rounding + tie-break as every other ANN path.
    Recall < 1.0 by construction — pinned at ≥ 0.9 on the clustered
    corpus by ``tests/test_embeddings.py``."""
    if centroids is None:
        rows = _hash_sample(corpus, id_col, vec_col, train_sample).collect()
        pts = _vec_matrix([r[1] for r in rows])
        centroids = train_centroids(pts, nlist, max_iter)
    cents = np.array(centroids, dtype=np.float64)

    q_ids, qm, q_zero, qn = _query_matrix(queries, id_col, vec_col)
    _, cell_queries = _query_probe_map(qm, cents, nprobe)
    return _probe_scan_topk(
        corpus, k, id_col, vec_col, score_decimals,
        q_ids, qn, q_zero,
        lambda cm: _assign_cells_np(cm, cents),
        cell_queries,
    )


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Collect the (broadcast-contract) query side into driver numpy
    structures: ids, raw matrix, zero-norm mask, normalized matrix."""
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _vec_matrix([r[1] for r in q_rows])
    q_norm = np.linalg.norm(qm, axis=1)
    q_zero = q_norm == 0.0
    qn = qm / np.where(q_zero, 1.0, q_norm)[:, None]
    return q_ids, qm, q_zero, qn


def _probe_scan_topk(
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    score_decimals: int,
    q_ids: np.ndarray,
    qn: np.ndarray,
    q_zero: np.ndarray,
    assign_np,
    cell_queries: dict[int, np.ndarray],
) -> DataFrame:
    """Shared probe-restricted scan for broadcast-query ANN (IVF cells
    or LSH sign buckets): one ``mapInPandas`` pass assigns each corpus
    batch to cells via ``assign_np`` (a single matmul), scores each
    cell's members against only the queries probing that cell, merges
    to per-query top-(k+1) leaders per batch, and a final window merges
    batches — the exchange shape of :func:`brute_force_topk_arrow` at
    ~candidate-fraction of its FLOPs.

    ``assign_np`` may return shape ``(rows,)`` (one cell per row — IVF,
    single-table LSH) or ``(rows, T)`` (T independent cell namespaces —
    multi-table LSH; the caller offsets each table's cell ids so they
    never collide).  A (query, neighbor) pair surfacing from several
    tables is collapsed to one row inside the batch merge, so the
    downstream window ranks each candidate exactly once."""
    import pandas as pd

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = _vec_matrix(pdf[vec_col])
            c_norm = np.linalg.norm(cm, axis=1)
            c_zero = c_norm == 0.0
            cn = cm / np.where(c_zero, 1.0, c_norm)[:, None]
            cells_mat = np.asarray(assign_np(cm))
            if cells_mat.ndim == 1:
                cells_mat = cells_mat[:, None]
            parts = []
            for t in range(cells_mat.shape[1]):
                cells = cells_mat[:, t]
                for cell in np.unique(cells):
                    qidx = cell_queries.get(int(cell))
                    if qidx is None or len(qidx) == 0:
                        continue
                    member = cells == cell
                    sub_ids = ids[member]
                    scores = cn[member] @ qn[qidx].T  # (members, probing-qs)
                    scores[c_zero[member], :] = 0.0
                    scores[:, q_zero[qidx]] = 0.0
                    kk = min(k + 1, len(sub_ids))
                    top = np.argpartition(-scores, kk - 1, axis=0)[:kk]
                    n_q = scores.shape[1]
                    parts.append(
                        (
                            np.repeat(q_ids[qidx], kk),
                            sub_ids[top.T.reshape(-1)],
                            np.round(
                                scores[
                                    top.T.reshape(-1), np.repeat(np.arange(n_q), kk)
                                ],
                                score_decimals,
                            ),
                        )
                    )
            if not parts:
                continue
            # batch-level leader merge: without it the stage emits
            # (k+1) rows per (cell, probing query) — with hundreds of
            # cells per batch that is ~cells/Q times MORE exchange rows
            # than brute force; merging to per-query top-(k+1) here
            # caps emission at exactly the brute-force shape
            q_all = np.concatenate([p[0] for p in parts])
            n_all = np.concatenate([p[1] for p in parts])
            s_all = np.concatenate([p[2] for p in parts])
            order = np.lexsort((n_all, -s_all, q_all))
            q_s, n_s, s_s = q_all[order], n_all[order], s_all[order]
            # drop duplicate (query, neighbor) pairs (multi-table hits):
            # identical vectors score identically, so duplicates are
            # adjacent under the (query, -score, neighbor) order
            uniq = np.r_[True, (q_s[1:] != q_s[:-1]) | (n_s[1:] != n_s[:-1])]
            q_s, n_s, s_s = q_s[uniq], n_s[uniq], s_s[uniq]
            starts = np.flatnonzero(np.r_[True, q_s[1:] != q_s[:-1]])
            sizes = np.diff(np.r_[starts, len(q_s)])
            rank = np.arange(len(q_s)) - np.repeat(starts, sizes)
            keep = rank < (k + 1)
            yield pd.DataFrame(
                {
                    "query_id": q_s[keep],
                    "neighbor_id": n_s[keep],
                    "score": s_s[keep],
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


def assign_cells_arrow(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row IVF cell assignment (one ``cell`` column) — the
    instrumentation twin of the assignment inside
    :func:`ivf_topk_arrow`, for measuring the exact candidate fraction
    an index configuration probes."""
    import pandas as pd

    cents = np.array(centroids, dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _vec_matrix(pdf[vec_col])
            yield pd.DataFrame({"cell": _assign_cells_np(cm, cents).astype(np.int32)})

    return corpus.select(vec_col).mapInPandas(assign, "cell int")


def _sign_buckets_np(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Random-hyperplane sign buckets for a matrix of vectors — one
    matmul; bit i set iff projection onto plane i is >= 0 (the same
    convention as :func:`bucket_col` / :func:`bucket_col_arrow`)."""
    signs = (m @ planes.T) >= 0
    weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
    return signs @ weights


def lsh_topk_probe_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_bits: int = 16,
    multiprobe: int = 1,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    seed: int = 7,
) -> DataFrame:
    """LSH hot path for broadcastable query sets — the same
    probe-restricted single-scan execution as :func:`ivf_topk_arrow`,
    with random-hyperplane sign buckets as the cells.

    The join-based :func:`lsh_topk`/:func:`lsh_topk_arrow` shuffle one
    pair row PER CANDIDATE carrying both vectors — at a 2% candidate
    fraction on a 400k × 8k-query workload that is ~10 GB of exchange;
    here candidates never materialize as rows.  Each query probes its
    own bucket plus every bucket at Hamming distance ≤ ``multiprobe``
    (driver-side bit flips on the query buckets); the corpus scan
    scores each bucket's members against the queries probing it.

    ``num_tables`` unions candidates from T independent hyperplane sets
    (same ``seed + 101*t`` convention as the join path) — the recall
    lever for weakly-clustered vectors, where any single sign-bucket
    table misses true neighbors: the corpus is still scanned ONCE, each
    batch assigned to all T tables' cells in one (rows, T) matmul, and
    a pair surfacing from several tables is scored once.  Keep the
    join-based variant for the non-broadcastable regime (huge query
    sets, dedup self-joins)."""
    planes_t = [
        np.array(_projection_matrix(dim, num_bits, seed + 101 * t), dtype=np.float64)
        for t in range(num_tables)
    ]

    q_ids, qm, q_zero, qn = _query_matrix(queries, id_col, vec_col)
    probe_sets: dict[int, set[int]] = {}
    for t, planes in enumerate(planes_t):
        offset = t << num_bits
        for qi, b in enumerate(_sign_buckets_np(qm, planes)):
            bs = {int(b)}
            if multiprobe >= 1:
                bs |= {int(b) ^ (1 << i) for i in range(num_bits)}
            if multiprobe >= 2:
                bs |= {
                    int(b) ^ (1 << i) ^ (1 << j)
                    for i in range(num_bits)
                    for j in range(i + 1, num_bits)
                }
            for bb in bs:
                probe_sets.setdefault(offset + bb, set()).add(qi)
    cell_queries = {
        b: np.fromiter(sorted(s), dtype=np.int64) for b, s in probe_sets.items()
    }

    def assign(cm: np.ndarray) -> np.ndarray:
        return np.stack(
            [
                _sign_buckets_np(cm, planes) + (t << num_bits)
                for t, planes in enumerate(planes_t)
            ],
            axis=1,
        )

    return _probe_scan_topk(
        corpus, k, id_col, vec_col, score_decimals,
        q_ids, qn, q_zero, assign, cell_queries,
    )


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched cosine twin of :func:`cosine` — row-wise numpy
    dot/norms over each Arrow batch instead of interpreted HOF folds
    (~10× on candidate-rerank workloads).  float64 math; values agree
    with the Column spec to ≤1 ulp per operation, so use the spec for
    oracle-checked queries and this for rerank hot paths where scores
    are rounded before ranking anyway."""
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    @pandas_udf("double")
    def _cos(xs, ys):  # (pd.Series, pd.Series) -> pd.Series; hints
        # omitted — postponed annotations + local imports break pyspark's
        # hint-based eval-type inference, and "double" pins it anyway
        xm = _vec_matrix(xs)
        ym = _vec_matrix(ys)
        dots = np.einsum("ij,ij->i", xm, ym)
        denom = np.linalg.norm(xm, axis=1) * np.linalg.norm(ym, axis=1)
        out = np.where(denom > 0, dots / np.where(denom == 0, 1.0, denom), 0.0)
        return pd.Series(out)

    return _cos(a, b)


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Arrow/numpy twin of :func:`brute_force_topk` — the 100 TB hot
    path for exact search.  The query side (small, broadcastable by
    contract — same assumption the spec version makes) is collected to
    a driver matrix and closed over a ``mapInPandas`` stage; every
    corpus Arrow batch scores ALL queries with one float64 matmul and
    emits only its per-query top-(k+1) leaders, so the exchange carries
    ``partitions × queries × (k+1)`` candidate rows instead of
    ``corpus × queries`` pairs; a final per-query window merges batch
    leaders.  Same rounding and tie-break as the spec; parity-tested
    (``tests/test_operators.py``)."""
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _vec_matrix([r[1] for r in q_rows])
    q_norm = np.linalg.norm(qm, axis=1)
    q_zero = q_norm == 0.0
    qn = qm / np.where(q_zero, 1.0, q_norm)[:, None]

    # chunk the query axis so the per-batch score matrix stays ~flat in
    # memory (batch × Q doubles at Q=8k is 0.6 GB PER PYTHON WORKER —
    # measured host-thrash at 32 workers); chunking changes no values,
    # only allocation peaks
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


# ---------------------------------------------------------------------------
# DuckDB oracle twins: the projection matrix is a seeded literal, so the
# bucket assignment (and therefore the full approximate result) replays
# in SQL.  Dot products fold sequentially (list_reduce) to match the
# IEEE accumulation order of the Column-side F.aggregate fold exactly —
# bucket sign bits and threshold compares are then bit-identical.


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


def lsh_topk_duckdb_sql(
    query_filter: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    num_bits: int = 8,
    seed: int = 7,
) -> str:
    """Oracle for :func:`lsh_topk` with ``multiprobe=1``."""
    terms = _bucket_terms_sql(vec_col, dim, num_bits, "p")
    probe_list = ", ".join(f"xor(bucket, {1 << i})" for i in range(num_bits))
    cos = _seq_cosine_sql("pr.qemb", f"c.{vec_col}", dim)
    return f"""
WITH planes AS (SELECT {_planes_sql(dim, num_bits, seed)} AS p),
cb AS (
  SELECT {id_col}, {vec_col}, ({terms}) AS bucket FROM {table}, planes),
probes AS (
  SELECT {id_col} AS query_id, {vec_col} AS qemb,
         unnest([bucket, {probe_list}]) AS bucket
  FROM cb WHERE {query_filter}),
scored AS (
  SELECT pr.query_id, c.{id_col} AS neighbor_id, round({cos}, 6) AS score
  FROM probes pr JOIN cb c ON pr.bucket = c.bucket AND c.{id_col} != pr.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)
           AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
FROM ranked WHERE rank <= {k}
"""


def ivf_centroids_from_parquet(
    path: str,
    nlist: int = 16,
    train_sample: int = 4096,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Replay the IVF quantizer training outside Spark: the same
    ``train_sample`` smallest-``md5_long(id)`` rows (DuckDB computes the
    identical 60-bit hash), the same deterministic numpy Lloyd's —
    centroids equal :func:`ivf_topk`'s bit-for-bit, so they embed as
    oracle SQL literals."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {vec_col} FROM read_parquet('{path}') "
        f"ORDER BY ('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT, "
        f"{id_col} LIMIT {train_sample}"
    ).fetchall()
    con.close()
    pts = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return train_centroids(pts, nlist, max_iter)


def _centroids_sql(centroids: list[list[float]]) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in centroids
    ) + "]"


def _cell_structs_sql(vec: str, dim: int, nlist: int, cents_ref: str) -> str:
    """DuckDB twin of :func:`_cell_structs`: sorted list of
    {d: squared-L2, i: cell} structs — ``list_reduce`` folds left-to-
    right from the first element, which equals Spark's 0.0-seeded fold
    (0.0 + x = x exactly), and struct sort is lexicographic (d, then i)
    in both engines."""
    diff = f"(CAST({vec}[i] AS DOUBLE) - {cents_ref}[j][i])"
    d2 = (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> {diff} * {diff}), "
        f"(a, b) -> a + b)"
    )
    return (
        f"list_sort(list_transform(range(1, {nlist + 1}), "
        f"j -> {{'d': {d2}, 'i': CAST(j - 1 AS BIGINT)}}))"
    )


def ivf_topk_duckdb_sql(
    query_filter: str,
    centroids: list[list[float]],
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    nprobe: int = 4,
) -> str:
    """Oracle for :func:`ivf_topk`: assignment = argmin cell over the
    literal centroid table, probes = the query's ``nprobe`` nearest
    cells, exact cosine re-rank — every float computed in the same IEEE
    order as the Spark expressions."""
    nlist = len(centroids)
    cell_sorted_c = _cell_structs_sql(f"c.{vec_col}", dim, nlist, "cs")
    cell_sorted_q = _cell_structs_sql(vec_col, dim, nlist, "cs")
    cos = _seq_cosine_sql("pr.qemb", f"a.{vec_col}", dim)
    return f"""
WITH cents AS (SELECT {_centroids_sql(centroids)} AS cs),
assigned AS (
  SELECT c.{id_col} AS neighbor_id, c.{vec_col},
         ({cell_sorted_c})[1].i AS cell
  FROM {table} c, cents),
probes AS (
  SELECT {id_col} AS query_id, {vec_col} AS qemb,
         unnest(list_transform(({cell_sorted_q})[1:{nprobe}], s -> s.i)) AS cell
  FROM {table}, cents WHERE {query_filter}),
scored AS (
  SELECT pr.query_id, a.neighbor_id, round({cos}, 6) AS score
  FROM probes pr JOIN assigned a ON pr.cell = a.cell AND a.neighbor_id != pr.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)
           AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
FROM ranked WHERE rank <= {k}
"""


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
    embedding space (the SemDeDup observation applied to eval hygiene).

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


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup = k-means clustering + within-cluster cosine


def semdedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    train_sample: int = 4096,
    max_iter: int = 10,
    candidate_cap: int | None = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal — cluster embeddings with a coarse k-means
    quantizer, then drop a row iff a lower-id *representative* of its
    cluster has cosine ≥ ``threshold``.

    Differs from :func:`embedding_cosine_dedup` in the candidate
    grouping: k-means cells capture *semantic* neighborhoods (the
    paper's finding: web corpora carry large semantically-redundant
    regions that random-hyperplane buckets split), while LSH buckets
    capture near-exact copies.  Same scale discipline as the rest of
    the family: the quantizer trains driver-side on a bounded one-pass
    hash-sample (never a full scan), cell assignment is a pure literal
    expression, candidates are bounded per cell by ``candidate_cap``
    id-hash-cell representatives (a hot cell costs rows × cap
    comparisons, never cell²), and the final survivor rejoin is a
    broadcast anti-join on the small dropped-id set — text/vectors
    never shuffle in the drop computation's output.

    Fully deterministic (seedless Lloyd's over the md5-ordered sample)
    — the DuckDB twin :func:`semdedup_duckdb_sql` retrains the same
    quantizer from the same parquet and replays every drop."""
    if centroids is None:
        rows = _hash_sample(df, id_col, vec_col, train_sample).collect()
        centroids = train_centroids(_vec_matrix([r[1] for r in rows]), nlist, max_iter)
    from greatex_spark.operators.dedup import bucket_representatives

    withc = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),  # once per vector
        F.element_at(_cell_structs(F.col(vec_col), centroids), 1)["i"].alias("__kcell"),
    )
    reps = bucket_representatives(withc, ["__kcell"], "__id", candidate_cap).join(
        withc.select(
            F.col("__id").alias("__rep_id"),
            F.col("__v").alias("__rv"),
            F.col("__n").alias("__rn"),
        ),
        on="__rep_id",
    )
    denom = F.col("__n") * F.col("__rn")
    cos = F.when(
        denom > 0, dot(F.col("__v"), F.col("__rv")) / denom
    ).otherwise(F.lit(0.0))
    dropped = (
        withc.join(reps, on="__kcell")
        .where(F.col("__id") > F.col("__rep_id"))
        .where(cos >= threshold)
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return df.join(F.broadcast(dropped), on=id_col, how="left_anti")


def semdedup_duckdb_sql(
    select_cols: str,
    centroids: list[list[float]],
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    candidate_cap: int | None = 64,
) -> str:
    """Oracle for :func:`semdedup` (literal centroid assignment as in
    :func:`ivf_topk_duckdb_sql`, bounded representatives as in
    :func:`embedding_cosine_dedup_duckdb_sql`)."""
    from greatex_spark.operators.dedup import _reps_cte_sql

    nlist = len(centroids)
    cell_sorted = _cell_structs_sql(f"c.{vec_col}", dim, nlist, "cs")
    cos = _seq_cosine_sql(f"l.{vec_col}", f"r.{vec_col}", dim)
    return f"""
WITH cents AS (SELECT {_centroids_sql(centroids)} AS cs),
assigned AS (
  SELECT c.{id_col}, c.{vec_col}, ({cell_sorted})[1].i AS cell
  FROM {table} c, cents),
reps AS ({_reps_cte_sql('assigned', 'cell', id_col, candidate_cap)}),
rvec AS (
  SELECT rp.cell, rp.rid, a.{vec_col}
  FROM reps rp JOIN assigned a ON a.{id_col} = rp.rid),
dropped AS (
  SELECT DISTINCT l.{id_col} AS did
  FROM assigned l JOIN rvec r ON l.cell = r.cell AND l.{id_col} > r.rid
  WHERE {cos} >= {threshold})
SELECT {select_cols} FROM {table} t
WHERE t.{id_col} NOT IN (SELECT did FROM dropped)
"""


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half; Jégou et al. 2011)


def train_pq_codebooks(
    points: np.ndarray, m: int = 8, ksub: int = 16, max_iter: int = 10
) -> list[list[list[float]]]:
    """Per-subspace codebooks for product quantization: split the
    ``dim`` dimensions into ``m`` contiguous subspaces of ``dim/m``
    and run the same deterministic driver-side Lloyd's
    (:func:`train_centroids`) independently in each — ``m`` tables of
    ``ksub`` sub-centroids.  Training input is the bounded hash-sample
    (never the corpus), exactly like the IVF coarse quantizer."""
    pts = np.asarray(points, dtype=np.float64)
    dim = pts.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    return [
        train_centroids(pts[:, j * dsub : (j + 1) * dsub], ksub, max_iter)
        for j in range(m)
    ]


def pq_codebooks_from_parquet(
    path: str,
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 4096,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Replay PQ codebook training outside Spark (same contract as
    :func:`ivf_centroids_from_parquet`): identical hash sample via
    DuckDB, identical numpy Lloyd's per subspace — codebooks equal
    :func:`pq_topk`'s bit-for-bit, so they embed as oracle literals."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {vec_col} FROM read_parquet('{path}') "
        f"ORDER BY ('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT, "
        f"{id_col} LIMIT {train_sample}"
    ).fetchall()
    con.close()
    pts = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return train_pq_codebooks(pts, m, ksub, max_iter)


def pq_encode(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ codes: array of ``m`` sub-centroid indexes, subspace *j*'s
    entry the argmin squared-L2 sub-centroid for the *j*-th slice of
    ``vec`` (ties to the lowest index via the same sorted-struct rule
    as IVF cell assignment).  A pure projection — this is the column a
    production corpus PERSISTS: ``m`` small ints (≲``m`` bytes with
    ``ksub ≤ 256``) instead of ``4·dim`` float bytes, a ~``4·dim/m``×
    scan-IO reduction, which is the whole point of PQ at 100 TB."""
    dsub = len(codebooks[0][0])
    return F.array(
        *[
            F.element_at(
                _cell_structs(F.slice(vec, j * dsub + 1, dsub), codebooks[j]), 1
            )["i"]
            for j in range(len(codebooks))
        ]
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    train_sample: int = 4096,
    max_iter: int = 10,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ top-k (Jégou et al. 2011): the corpus is
    quantized to ``m`` sub-centroid codes, queries stay exact, and the
    rank key is the squared L2 between the exact query and the
    DEQUANTIZED corpus vector — smallest distance first.

    Scale shape: codebooks train driver-side on the bounded hash
    sample; encoding + dequantization is one corpus projection (at
    10^12 rows the stored representation is the code column — ``m``
    bytes/row instead of ``4·dim`` — and this operator's scan reads
    only it); the tiny query side broadcasts into a nested-loop join,
    so the corpus never shuffles.  Compose with the IVF cell column
    (:func:`ivf_topk`) to prune candidates before the ADC scan — this
    operator is the compression half, flat-scan mode.

    Approximate by construction (quantization error): measure recall
    against :func:`brute_force_topk`.  Fully oracle-replayable — same
    literal codebooks, same argmin tie rule, same sequential IEEE
    fold (:func:`pq_topk_duckdb_sql`)."""
    if codebooks is None:
        rows = _hash_sample(corpus, id_col, vec_col, train_sample).collect()
        pts = _vec_matrix([r[1] for r in rows])
        codebooks = train_pq_codebooks(pts, m, ksub, max_iter)
    from greatex_spark.functions.exprs import let

    cb_lit = F.lit([[[float(x) for x in c] for c in cb] for cb in codebooks])

    # dequantize once per corpus row (not per pair): concatenated
    # sub-centroid literals — no FP arithmetic, exact in both engines.
    # The code array is LET-BOUND: without it CollapseProject inlines
    # the full m-argmin encode into every element_at reference (m²
    # argmins per row).
    recon = let(
        pq_encode(F.col("__cv"), codebooks),
        lambda code: F.flatten(
            F.array(
                *[
                    F.element_at(
                        F.element_at(cb_lit, j + 1), F.element_at(code, j + 1) + 1
                    )
                    for j in range(len(codebooks))
                ]
            )
        ),
    )
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).select("neighbor_id", recon.alias("__recon"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__qv"),
            F.col("__recon"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        assigned.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(d2, score_decimals).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def _codebooks_sql(codebooks: list[list[list[float]]]) -> str:
    return (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in cb
            )
            + "]"
            for cb in codebooks
        )
        + "]"
    )


def pq_topk_duckdb_sql(
    query_filter: str,
    codebooks: list[list[list[float]]],
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> str:
    """Oracle for :func:`pq_topk`: the same literal codebooks, the same
    sorted-struct argmin per subspace (``list_reduce`` folds from the
    first element = Spark's 0.0-seeded fold), dequantized literals
    concatenated in subspace order, one sequential IEEE fold for the
    asymmetric distance."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    sub_diff = f"(CAST(c.{vec_col}[(j - 1) * {dsub} + i] AS DOUBLE) - cb[j][t][i])"
    sub_d2 = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), i -> {sub_diff} * {sub_diff}), "
        f"(a, b) -> a + b)"
    )
    argmin = (
        f"list_sort(list_transform(range(1, {ksub + 1}), "
        f"t -> {{'d': {sub_d2}, 'i': t - 1}}))[1].i"
    )
    qdiff = f"(CAST(q.qemb[i] AS DOUBLE) - cd.recon[i])"
    qd2 = (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> {qdiff} * {qdiff}), "
        f"(a, b) -> a + b)"
    )
    return f"""
WITH cbs AS (SELECT {_codebooks_sql(codebooks)} AS cb),
codes AS (
  SELECT c.{id_col} AS neighbor_id,
         list_transform(range(1, {m + 1}), j -> ({argmin})) AS code
  FROM {table} c, cbs),
deq AS (
  SELECT neighbor_id,
         flatten(list_transform(range(1, {m + 1}), j -> cb[j][code[j] + 1])) AS recon
  FROM codes, cbs),
qs AS (SELECT {id_col} AS query_id, {vec_col} AS qemb FROM {table} WHERE {query_filter}),
scored AS (
  SELECT q.query_id, cd.neighbor_id, round({qd2}, 6) AS dist
  FROM qs q CROSS JOIN deq cd WHERE cd.neighbor_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC)
           AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist
FROM ranked WHERE rank <= {k}
"""


def brute_force_l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Exact squared-L2 top-k — the recall referent for
    :func:`pq_topk` (PQ ranks by L2 distance, so measuring its recall
    against the cosine baseline would conflate metric disagreement
    with quantization error).  Same shape as the PQ scan: broadcast
    queries, one corpus pass, per-query row_number."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__qv"),
            F.col("__cv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", F.round(d2, score_decimals).alias("dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file cells + product-quantized RESIDUALS
# (Jégou et al. 2011 §III) — the composition of ivf_topk (candidate
# pruning) and pq_topk (stored-representation compression) that a real
# 10^9–10^12-vector deployment runs.
# ---------------------------------------------------------------------------


def _residuals(pts: np.ndarray, centroids: list[list[float]]) -> np.ndarray:
    """Residual of each sample point w.r.t. its nearest coarse centroid
    (argmin squared L2, ties to the lowest cell — the same rule as
    :func:`train_centroids` assignment and the native ``_cell_structs``
    argmin, so training and serving agree on the cell)."""
    cents = np.asarray(centroids, dtype=np.float64)
    d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return pts - cents[np.argmin(d2, axis=1)]


def train_ivfpq(
    points: np.ndarray,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 10,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Both quantizers of an IVF-PQ index from one training sample:
    the coarse Lloyd's centroids, then per-subspace PQ codebooks over
    the sample's RESIDUALS (vec − nearest coarse centroid).  Residual
    encoding is what makes IVF-PQ beat flat PQ at equal code size: the
    residual distribution is re-centered at 0 in every cell, so the
    ``ksub`` sub-centroids spend their resolution on the within-cell
    variance instead of re-describing the cell layout."""
    pts = np.asarray(points, dtype=np.float64)
    centroids = train_centroids(pts, nlist, max_iter)
    codebooks = train_pq_codebooks(_residuals(pts, centroids), m, ksub, max_iter)
    return centroids, codebooks


def _ivfpq_quantizers(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    m: int,
    ksub: int,
    train_sample: int,
    max_iter: int,
    centroids: list[list[float]] | None,
    codebooks: list[list[list[float]]] | None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Both quantizers as given, or both trained on the hash sample.
    Residual codebooks only describe the cells they were trained
    against, so supplying exactly one of the pair is an error."""
    if (centroids is None) != (codebooks is None):
        raise ValueError(
            "pass both centroids and codebooks (a matched pair, e.g. from "
            "train_ivfpq), or neither to train both"
        )
    if centroids is None:
        rows = _hash_sample(corpus, id_col, vec_col, train_sample).collect()
        centroids, codebooks = train_ivfpq(
            _vec_matrix([r[1] for r in rows]), nlist, m, ksub, max_iter
        )
    return centroids, codebooks


def ivfpq_quantizers_from_parquet(
    path: str,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 4096,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Replay IVF-PQ training outside Spark (same contract as
    :func:`ivf_centroids_from_parquet` / :func:`pq_codebooks_from_parquet`):
    identical DuckDB hash sample, identical numpy training — quantizers
    equal :func:`ivfpq_topk`'s bit-for-bit, so they embed as oracle
    literals."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {vec_col} FROM read_parquet('{path}') "
        f"ORDER BY ('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT, "
        f"{id_col} LIMIT {train_sample}"
    ).fetchall()
    con.close()
    pts = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return train_ivfpq(pts, nlist, m, ksub, max_iter)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    train_sample: int = 4096,
    max_iter: int = 10,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011): coarse cells prune
    candidates (each query scans only its ``nprobe`` nearest cells, as
    :func:`ivf_topk`), and the scan itself reads PQ codes of the
    RESIDUAL vec − centroid[cell] instead of raw floats (as
    :func:`pq_topk`).  Rank key = asymmetric squared L2 between the
    exact query and the reconstruction centroid[cell] + dequantized
    residual, smallest first.

    Scale shape: both quantizers train driver-side on the bounded hash
    sample; the corpus pass is ONE projection producing (cell, recon)
    — at 10^12 rows the PERSISTED representation is (cell:int,
    code:array<m tinyint>) ≈ m+4 bytes/row vs 4·dim raw (16×+ smaller
    scan IO at dim 64), and candidate volume per query is
    ~nprobe/nlist of the corpus; the tiny exploded query side is
    broadcast into the cell join, so the corpus never shuffles — the
    only exchange is the per-query row_number over candidate rows.

    Approximate on two axes (cell pruning + quantization error):
    measure recall against :func:`brute_force_l2_topk`.  Fully
    oracle-replayable — :func:`ivfpq_topk_duckdb_sql` retrains
    identical quantizers and replays every fold in the same IEEE
    order."""
    centroids, codebooks = _ivfpq_quantizers(
        corpus, id_col, vec_col, nlist, m, ksub, train_sample, max_iter,
        centroids, codebooks,
    )
    from greatex_spark.functions.exprs import let

    cent_lit = F.lit([[float(x) for x in c] for c in centroids])
    cb_lit = F.lit([[[float(x) for x in c] for c in cb] for cb in codebooks])
    n_sub = len(codebooks)

    def dequant(code: Column) -> Column:
        return F.flatten(
            F.array(
                *[
                    F.element_at(
                        F.element_at(cb_lit, j + 1), F.element_at(code, j + 1) + 1
                    )
                    for j in range(n_sub)
                ]
            )
        )

    # ONE corpus projection: cell, then centroid lookup, then residual,
    # then codes, then reconstruction — each stage let-bound (HOFs are
    # interpreted, no CSE: unbound, the m-argmin encode would inline
    # into every dequant reference and the centroid argmin into every
    # residual element).
    def corpus_struct(cv: Column) -> Column:
        return let(
            F.element_at(_cell_structs(cv, centroids), 1)["i"],
            lambda cell: let(
                F.element_at(cent_lit, (cell + 1).cast("int")),
                lambda cent_of: let(
                    F.zip_with(cv, cent_of, lambda a, b: a.cast("double") - b),
                    lambda resid: let(
                        pq_encode(resid, codebooks),
                        lambda code: F.struct(
                            cell.alias("cell"),
                            F.zip_with(
                                cent_of, dequant(code), lambda a, b: a + b
                            ).alias("recon"),
                        ),
                    ),
                ),
            ),
        )

    assigned = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
        .select("neighbor_id", corpus_struct(F.col("__cv")).alias("__s"))
        .select(
            "neighbor_id",
            F.col("__s")["cell"].alias("__cell"),
            F.col("__s")["recon"].alias("__recon"),
        )
    )
    probe_cells = F.slice(
        F.transform(_cell_structs(F.col("__qv"), centroids), lambda s: s["i"]),
        1,
        nprobe,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).select("query_id", "__qv", F.explode(probe_cells).alias("__cell"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("__qv"),
            F.col("__recon"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        assigned.join(F.broadcast(q), on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(d2, score_decimals).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def ivfpq_topk_duckdb_sql(
    query_filter: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> str:
    """Oracle for :func:`ivfpq_topk`: the same literal quantizers, the
    same sorted-struct argmins (coarse cell, then per-subspace code
    over the residual), reconstruction = one addition per element in
    the same order, one sequential IEEE fold for the asymmetric
    distance."""
    nlist = len(centroids)
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cell_sorted_c = _cell_structs_sql(f"c.{vec_col}", dim, nlist, "cs")
    cell_sorted_q = _cell_structs_sql(vec_col, dim, nlist, "cs")
    sub_diff = f"(rv[(j - 1) * {dsub} + i] - cb[j][t][i])"
    sub_d2 = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), i -> {sub_diff} * {sub_diff}), "
        f"(a, b) -> a + b)"
    )
    argmin = (
        f"list_sort(list_transform(range(1, {ksub + 1}), "
        f"t -> {{'d': {sub_d2}, 'i': t - 1}}))[1].i"
    )
    qdiff = "(CAST(pr.qemb[i] AS DOUBLE) - r.recon[i])"
    qd2 = (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> {qdiff} * {qdiff}), "
        f"(a, b) -> a + b)"
    )
    return f"""
WITH cents AS (SELECT {_centroids_sql(centroids)} AS cs),
cbs AS (SELECT {_codebooks_sql(codebooks)} AS cb),
assigned AS (
  SELECT c.{id_col} AS neighbor_id, c.{vec_col} AS emb,
         ({cell_sorted_c})[1].i AS cell
  FROM {table} c, cents),
resid AS (
  SELECT neighbor_id, cell,
         list_transform(range(1, {dim + 1}),
                        i -> CAST(emb[i] AS DOUBLE) - cs[cell + 1][i]) AS rv
  FROM assigned, cents),
codes AS (
  SELECT neighbor_id, cell,
         list_transform(range(1, {m + 1}), j -> ({argmin})) AS code
  FROM resid, cbs),
recon AS (
  SELECT neighbor_id, cell,
         list_transform(range(1, {dim + 1}), i -> cs[cell + 1][i] + fl[i]) AS recon
  FROM (SELECT neighbor_id, cell,
               flatten(list_transform(range(1, {m + 1}), j -> cb[j][code[j] + 1])) AS fl
        FROM codes, cbs), cents),
probes AS (
  SELECT {id_col} AS query_id, {vec_col} AS qemb,
         unnest(list_transform(({cell_sorted_q})[1:{nprobe}], s -> s.i)) AS cell
  FROM {table}, cents WHERE {query_filter}),
scored AS (
  SELECT pr.query_id, r.neighbor_id, round({qd2}, 6) AS dist
  FROM probes pr JOIN recon r ON pr.cell = r.cell AND r.neighbor_id != pr.query_id),
ranked AS (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC)
           AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist
FROM ranked WHERE rank <= {k}
"""


def brute_force_l2_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Arrow/numpy exact squared-L2 top-k — the scan-shaped referent
    for the L2-metric indexes (:func:`pq_topk`, :func:`ivfpq_topk`) at
    bench scale, exactly as :func:`brute_force_topk_arrow` is for the
    cosine ones.  ``||c-q||² = |c|² − 2c·q + |q|²`` via one matmul per
    (batch, query-chunk); per-batch top-(k+1) leaders; final window
    merge (distance ASC, neighbor ASC).  Distances are rounded BEFORE
    the per-batch selection, over members pre-ordered by id with a
    stable sort, so a rounding tie at the boundary keeps the lowest
    neighbor_id exactly as :func:`brute_force_l2_topk` does."""
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _vec_matrix([r[1] for r in q_rows])
    q_sq = (qm**2).sum(axis=1)
    q_chunk = max(1, min(len(q_ids), 1024)) if len(q_ids) else 1

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            perm = np.argsort(ids, kind="stable")
            ids = ids[perm]
            cm = _vec_matrix(pdf[vec_col])[perm]
            c_sq = (cm**2).sum(axis=1)
            kk = min(k + 1, len(ids))
            for lo in range(0, len(q_ids), q_chunk):
                sl = slice(lo, lo + q_chunk)
                d = c_sq[:, None] - 2.0 * (cm @ qm[sl].T) + q_sq[None, sl]
                np.maximum(d, 0.0, out=d)  # FP guard on identical vectors
                d = np.round(d, score_decimals)
                top = np.argsort(d, axis=0, kind="stable")[:kk]
                n_q = d.shape[1]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(q_ids[sl], kk),
                        "neighbor_id": ids[top.T.reshape(-1)],
                        "dist": d[top.T.reshape(-1), np.repeat(np.arange(n_q), kk)],
                    }
                )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, "query_id long, neighbor_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def ivfpq_topk_probe_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 64,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    train_sample: int = 4096,
    max_iter: int = 10,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    refine: int = 0,
) -> DataFrame:
    """ADC probe-scan IVF-PQ — the production hot path of
    :func:`ivfpq_topk` (FAISS ``IVFPQ`` search shape): per query the
    driver precomputes one ``m × ksub`` lookup table PER PROBED CELL
    (``LUT[j][t] = ||(q − centroid[cell])_j − cb[j][t]||²``, the whole
    residual geometry folded in), and the corpus scan never touches
    floats per pair — each member's distance is ``m`` table gathers and
    adds over its PQ codes, identical in value to the dequantized
    ``||q − recon||²`` up to FP summation order.

    One ``mapInPandas`` pass: assign cells (one matmul), encode
    residual codes (``m`` small matmuls), per probed cell gather-sum
    LUT rows for exactly the queries probing it, merge to per-query
    top-(k+1) leaders per batch; final window merge.  Exchange carries
    ``partitions × queries × (k+1)`` rows — the
    :func:`brute_force_topk_arrow` shape at ~``nprobe/nlist`` of the
    FLOPs, with the corpus readable from its ``m``-byte codes.

    ``refine=R`` adds the FAISS ``IndexRefineFlat`` step PQ needs when
    true neighbor margins sit below quantization error (tightly
    clustered corpora — measured: recall 0.19 pure-ADC → 0.91 at
    R=256 on the 100k/256-cluster fixture): per batch each query's
    ADC top-``min(R, cell)`` shortlist per cell is re-ranked with
    EXACT squared L2, and only exact distances leave the worker.  At
    cluster scale this is the fetch-``R``-full-vectors-per-query IO
    pattern (the scan still reads codes); here the shortlist vectors
    are already in the batch.  Per-cell-capped shortlists union to a
    superset of the batch-level ADC top-R, so recall is ≥ the
    global-shortlist semantics.

    Closure size is the scale guard: the full LUT tensor is
    ``queries × nprobe × m × ksub`` doubles — 540 MB at the crossover
    bench config (4k q × 4 × 16 × 256), which serialized into every
    task and made the first cut SLOWER than exact scan.  The driver
    therefore ships only the small factors (query matrix, probe map,
    per-probe residual subvectors, codebooks — ~10 MB at the same
    config) and each worker materializes a cell's LUT rows on demand,
    with the IDENTICAL arithmetic expression, only for the queries
    probing the cells present in its batch (~``m·ksub·dsub`` flops per
    probing query — ~0.1 s per partition at bench config, measured
    80 s → 2.3 s end-to-end)."""
    import pandas as pd

    centroids, codebooks = _ivfpq_quantizers(
        corpus, id_col, vec_col, nlist, m, ksub, train_sample, max_iter,
        centroids, codebooks,
    )
    cents = np.asarray(centroids, dtype=np.float64)
    cbs = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    n_sub = cbs.shape[0]
    dsub = cbs.shape[2]

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _vec_matrix([r[1] for r in q_rows])
    # per-query probe cells (stable sort: ties to the lowest cell, the
    # native sorted-struct rule)
    d2q = ((qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe = np.argsort(d2q, kind="stable", axis=1)[:, : min(nprobe, len(cents))]
    # per-probe residual subvectors (nq × nprobe × m × dsub — small);
    # LUT rows materialize per cell ON THE WORKER (see docstring)
    res = qm[:, None, :] - cents[probe]  # (nq, nprobe, dim)
    res_sub = res.reshape(len(qm), probe.shape[1], n_sub, dsub)
    # codebook norms, shared by the encode and LUT expansions below
    cb_norms = (cbs**2).sum(-1)  # (m, ksub)
    q_norms = (qm**2).sum(axis=1)  # whole-cell refine path
    # cell -> (query row indices, probe slot indices)
    cell_q: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    acc: dict[int, list[tuple[int, int]]] = {}
    for qi in range(len(qm)):
        for pi in range(probe.shape[1]):
            acc.setdefault(int(probe[qi, pi]), []).append((qi, pi))
    for cell, lst in acc.items():
        cell_q[cell] = (
            np.array([q for q, _ in lst], dtype=np.int64),
            np.array([p for _, p in lst], dtype=np.int64),
        )

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = _vec_matrix(pdf[vec_col])
            cells = _assign_cells_np(cm, cents)
            rs = (cm - cents[cells]).reshape(len(cm), n_sub, dsub)
            codes = np.empty((len(cm), n_sub), dtype=np.int64)
            for j in range(n_sub):
                # |r|^2 is constant across t — argmin needs only the
                # cross/norm terms; matmul allocates output-size only
                # (the subtract-square form's (batch × ksub × dsub)
                # temporaries were ~2 s/batch at crossover config)
                dj = cb_norms[j][None, :] - 2.0 * (rs[:, j, :] @ cbs[j].T)
                codes[:, j] = dj.argmin(axis=1)
            parts = []
            ref_qi: list[np.ndarray] = []
            ref_rows: list[np.ndarray] = []
            for cell in np.unique(cells):
                cq = cell_q.get(int(cell))
                if cq is None:
                    continue
                qidx, pidx = cq
                member = cells == cell
                member_rows = np.flatnonzero(member)
                sub_ids = ids[member]
                sub_codes = codes[member]  # (mem, m)
                # members sharing a code have IDENTICAL quantized
                # distance — ties are the NORM under PQ, not the
                # exception.  Round BEFORE selection (the native spec
                # rounds in the projection, then tie-breaks in the
                # window) and select with a stable sort over members
                # pre-ordered by id, so ties resolve to the lowest
                # neighbor_id exactly as the sorted-struct spec does.
                perm = np.argsort(sub_ids, kind="stable")
                member_rows = member_rows[perm]
                sub_ids = sub_ids[perm]
                sub_codes = sub_codes[perm]
                if refine >= len(sub_ids) > 0:
                    # the refine budget covers the whole (batch-local)
                    # cell — ADC would shortlist EVERYTHING, so skip it
                    # and exact-score the cell in one BLAS matmul: each
                    # corpus row is gathered ONCE (the shortlist-gather
                    # formulation fetched every row once per probing
                    # query — 64× the DRAM traffic at crossover config,
                    # measured 22.6 s → ~6 s for the whole scan) and
                    # only per-cell top-(k+1) leaders are emitted.
                    sub_cm = cm[member_rows]
                    d2 = (
                        q_norms[qidx][:, None]
                        - 2.0 * (qm[qidx] @ sub_cm.T)
                        + (sub_cm**2).sum(axis=1)[None, :]
                    )
                    np.maximum(d2, 0.0, out=d2)
                    d2 = np.round(d2, score_decimals)
                    kk = min(k + 1, len(sub_ids))
                    top = np.argsort(d2, axis=1, kind="stable")[:, :kk]
                    parts.append(
                        (
                            np.repeat(q_ids[qidx], kk),
                            sub_ids[top.reshape(-1)],
                            d2[
                                np.repeat(np.arange(len(qidx)), kk),
                                top.reshape(-1),
                            ],
                        )
                    )
                    continue
                # cell LUT on demand, expanded |r|^2 − 2 r·cb + |cb|^2
                # via einsum (allocates only the (nq_p, m, ksub)
                # output; the subtract-square broadcast built a 33 MB
                # temporary PER CELL at crossover config)
                rs_q = res_sub[qidx, pidx]  # (nq_p, m, dsub)
                lut = (
                    (rs_q**2).sum(-1)[:, :, None]
                    - 2.0 * np.einsum("qmd,mtd->qmt", rs_q, cbs)
                    + cb_norms[None, :, :]
                )
                d = np.zeros((len(qidx), len(sub_ids)))
                for j in range(n_sub):
                    d += lut[:, j, :][:, sub_codes[:, j]]
                d = np.round(d, score_decimals)
                kk = min(refine if refine > 0 else k + 1, len(sub_ids))
                top = np.argsort(d, axis=1, kind="stable")[:, :kk]
                if refine > 0:
                    # shortlist only: exact re-rank happens below, ADC
                    # values never leave the worker
                    ref_qi.append(np.repeat(qidx, kk))
                    ref_rows.append(member_rows[top.reshape(-1)])
                    continue
                parts.append(
                    (
                        np.repeat(q_ids[qidx], kk),
                        sub_ids[top.reshape(-1)],
                        d[np.repeat(np.arange(len(qidx)), kk), top.reshape(-1)],
                    )
                )
            if refine > 0 and ref_qi:
                qi_all = np.concatenate(ref_qi)
                row_all = np.concatenate(ref_rows)
                d2 = np.empty(len(row_all))
                # chunked so the (pairs × dim) diff stays ~64 MB
                for lo in range(0, len(row_all), 131072):
                    sl = slice(lo, lo + 131072)
                    diff = cm[row_all[sl]] - qm[qi_all[sl]]
                    d2[sl] = np.einsum("ij,ij->i", diff, diff)
                parts.append(
                    (q_ids[qi_all], ids[row_all], np.round(d2, score_decimals))
                )
            if not parts:
                continue
            # batch-level leader merge (emission bound — see
            # _probe_scan_topk), ascending distance
            q_all = np.concatenate([p[0] for p in parts])
            n_all = np.concatenate([p[1] for p in parts])
            s_all = np.concatenate([p[2] for p in parts])
            order = np.lexsort((n_all, s_all, q_all))
            q_s, n_s, s_s = q_all[order], n_all[order], s_all[order]
            starts = np.flatnonzero(np.r_[True, q_s[1:] != q_s[:-1]])
            sizes = np.diff(np.r_[starts, len(q_s)])
            rank = np.arange(len(q_s)) - np.repeat(starts, sizes)
            keep = rank < (k + 1)
            yield pd.DataFrame(
                {
                    "query_id": q_s[keep],
                    "neighbor_id": n_s[keep],
                    "dist": s_s[keep],
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, "query_id long, neighbor_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )
