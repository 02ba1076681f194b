"""Deterministic clustered synthetic embeddings, generated distributed.

Real text/image embeddings are CLUSTERED (documents about one topic
collapse into a small region); the ``embeddings.parquet`` test
fixture is uniform-random.  This module
synthesizes a clustered corpus for the embedding operators' tests
(:mod:`greatex_spark.operators.embedding`) the same way
``greatex_spark.pages`` synthesizes pages: fixed seed, no external
data, deterministic per row id regardless of partitioning or executor
count.

Construction: ``n_clusters`` centroids are drawn once driver-side from
seeded numpy (tiny: n_clusters × dim floats, shipped in the task closure);
row ``i`` belongs to cluster ``i % n_clusters`` and equals
``centroid + noise_scale * u`` where ``u`` is SplitMix64-mixed uniform
noise derived from ``(seed, i, component)`` — counter-based, so any
partitioning of ``spark.range`` produces identical bytes (unlike
per-partition RNG state).  Executed as one ``mapInPandas`` projection
over ``spark.range(n)``: numpy-vectorized, no shuffle, scales linearly
with executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

EMB_SCHEMA = "vec_id long, cluster int, embedding array<float>"

_SM64_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM64_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 finalizer (Steele et al. 2014) — a
    counter-based bijective mixer: uint64 in, well-distributed uint64
    out, pure arithmetic (deterministic everywhere numpy runs)."""
    z = (x + _SM64_GAMMA).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z *= _SM64_M1
    z ^= z >> np.uint64(27)
    z *= _SM64_M2
    z ^= z >> np.uint64(31)
    return z


def _noise(ids: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """(len(ids), dim) uniform noise in [-0.5, 0.5), a pure function of
    (seed, id, component)."""
    base = ids.astype(np.uint64)[:, None] * np.uint64(dim) + np.arange(
        dim, dtype=np.uint64
    )[None, :]
    mixed = _splitmix64(base + np.uint64(seed) * np.uint64(0x100000001))
    return (mixed / np.float64(2**64)) - 0.5


def cluster_centroids(
    n_clusters: int, dim: int, seed: int = 13, spread: float = 1.0
) -> np.ndarray:
    """Seeded centroid matrix (n_clusters, dim) — standard normal,
    rounded so the same literals replay anywhere."""
    rng = np.random.default_rng(seed)
    return (spread * rng.standard_normal((n_clusters, dim))).round(6)


def generate_clustered_embeddings(
    spark: SparkSession,
    n: int,
    dim: int = 64,
    n_clusters: int = 256,
    seed: int = 13,
    noise_scale: float = 0.3,
    partitions: int | None = None,
) -> DataFrame:
    """Clustered corpus: ``vec_id``, ground-truth ``cluster``, and a
    float32 ``embedding`` = centroid[cluster] + noise.  With the default
    ``noise_scale`` the intra-cluster distance is far below the
    inter-centroid distance, so a vector's true nearest neighbors are
    in-cluster."""
    cents = cluster_centroids(n_clusters, dim, seed)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            cl = (ids % n_clusters).astype(np.int32)
            vecs = cents[cl] + noise_scale * _noise(ids, dim, seed)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cluster": cl,
                    "embedding": list(vecs.astype(np.float32)),
                }
            )

    rng_df = spark.range(n, numPartitions=partitions) if partitions else spark.range(n)
    return rng_df.mapInPandas(gen, EMB_SCHEMA)
