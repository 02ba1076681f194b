"""Clustered-embedding generator + embedding-space decontamination."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from greatex_spark.embeddings import (
    cluster_centroids,
    generate_clustered_embeddings,
)
from greatex_spark.operators.embedding import _vec_matrix

N, DIM, NC = 4000, 32, 16


@pytest.fixture(scope="module")
def emb(spark):
    df = (
        generate_clustered_embeddings(spark, N, dim=DIM, n_clusters=NC, seed=13)
        .repartition(8)
        .cache()
    )
    df.count()
    return df


def test_generator_deterministic_across_partitionings(spark):
    """Noise is counter-based (SplitMix64 of (seed, id, component)), so
    any partitioning of the id range yields identical bytes."""
    a = generate_clustered_embeddings(spark, 500, dim=16, n_clusters=8, partitions=1)
    b = generate_clustered_embeddings(spark, 500, dim=16, n_clusters=8, partitions=7)

    def chk(df):
        return df.agg(
            F.bit_xor(F.xxhash64("vec_id", "cluster", F.col("embedding").cast("array<double>"))).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]

    assert chk(a) == chk(b)


def test_generator_cluster_structure(spark, emb):
    """Every vector is nearer its own centroid than any other."""
    cents = cluster_centroids(NC, DIM, seed=13)
    rows = emb.limit(500).collect()
    vm = _vec_matrix([r.embedding for r in rows])
    d2 = ((vm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assert (np.argmin(d2, axis=1) == np.array([r.cluster for r in rows])).all()


class TestEmbeddingDecontaminate:
    def test_contaminated_rows_dropped(self, spark):
        from greatex_spark.operators.embedding import embedding_decontaminate

        rows = [
            (0, [1.0, 0.0, 0.0], "bench"),   # benchmark member
            (1, [0.99, 0.1, 0.0], "near"),   # cosine ~0.995 -> contaminated
            (2, [0.0, 1.0, 0.0], "clean"),   # orthogonal -> survives
            (3, [-1.0, 0.0, 0.0], "anti"),   # cosine -1 -> survives
        ]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<float>, label string"
        )
        bench = df.where(F.col("vec_id") == 0)
        out = embedding_decontaminate(df, bench, dim=3, threshold=0.9)
        assert {r.vec_id for r in out.collect()} == {2, 3}

    def test_duckdb_twin_parity(self, spark, emb):
        import duckdb

        from greatex_spark.operators.embedding import (
            embedding_decontaminate,
            embedding_decontaminate_duckdb_sql,
        )

        corpus = emb.where(F.col("vec_id") < 500)
        bench = corpus.where(F.col("vec_id") % 17 == 0)
        got = {
            r.vec_id
            for r in embedding_decontaminate(
                corpus, bench, dim=DIM, threshold=0.6
            ).collect()
        }
        pdf = corpus.select("vec_id", "embedding").toPandas()
        con = duckdb.connect()
        con.register("embeddings", pdf)
        sql = embedding_decontaminate_duckdb_sql(
            "t.vec_id",
            benchmark_sql="SELECT * FROM embeddings WHERE vec_id % 17 = 0",
            dim=DIM,
            threshold=0.6,
        )
        want = {r[0] for r in con.execute(sql).fetchall()}
        assert got == want

    def test_corpus_never_shuffles_for_decision(self, spark, emb):
        from greatex_spark.operators.embedding import embedding_decontaminate

        bench = emb.where(F.col("vec_id") % 97 == 0)
        plan = (
            embedding_decontaminate(emb, bench, dim=DIM, threshold=0.9)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan and "LeftSemi" in plan
        # both joins broadcast: no hash-partitioned exchange anywhere
        assert "Exchange hashpartitioning" not in plan
