"""Duplicate clustering (operators/cluster.py): connected components
via path-doubling min-label propagation, and the composed
duplicate_clusters operator over near-dup text."""

from __future__ import annotations

from pyspark.sql import functions as F

from greatex_spark.operators.cluster import connected_components, duplicate_clusters


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_cc_chain_and_triangle_and_separate(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), isolated pair 20-21
    got = _cc_dict(
        spark,
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_long_path_converges_by_doubling(spark):
    # a 64-node path: naive neighbor-min needs 63 rounds; path doubling
    # must close it well inside the 25-iteration cap
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_dict(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_cc_self_loops_and_duplicates_ignored(spark):
    got = _cc_dict(spark, [(5, 5), (6, 7), (7, 6), (6, 7)])
    assert got == {6: 6, 7: 6}


def test_duplicate_clusters_transitive_chain(spark):
    # deterministic chain (md5 family + literal LSH constants): at
    # threshold 0.8 the verified edges are exactly 1~2 (j=0.80) and
    # 2~3 (j=0.83); 1~3 sits at j=0.67 and is REJECTED by verification
    # — only the transitive closure puts all three in one cluster
    base = "the quick brown fox jumps over the lazy dog again and again "
    a = base * 6 + "one two three four"
    b = base * 6 + "one two three four five six seven eight"
    c = base * 6 + "one two three four five six seven eight nine ten eleven twelve"
    rows = [(1, a), (2, b), (3, c), (9, "completely unrelated text about spark")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_survivor"])
        for r in duplicate_clusters(df, threshold=0.8, candidate_cap=None).collect()
    }
    assert got[1] == (1, 3, True)
    assert got[2] == (1, 3, False)
    assert got[3] == (1, 3, False)
    assert got[9] == (9, 1, True)


def test_duplicate_clusters_covers_every_row(spark):
    rows = [(i, f"unique document number {i} with its own words {i * 7}")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_clusters(df)
    assert out.count() == 30
    assert out.where(F.col("is_survivor")).count() == 30


def test_cc_reliable_checkpoint_dir_used_and_result_unchanged(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation to reliable
    DataFrame.checkpoint(): files must land under the dir and the
    components must equal the localCheckpoint run's."""
    ckpt_dir = str(tmp_path / "cc_ckpt")
    edges = [(i, i + 1) for i in range(20)] + [(50, 51), (51, 52)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    reliable = {
        r["node"]: r["component"]
        for r in connected_components(df, checkpoint_dir=ckpt_dir).collect()
    }
    assert reliable == local
    import os

    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert files, "no reliable checkpoint files written under checkpoint_dir"


def test_cc_long_path_closes_in_log_rounds(spark):
    """The round count over a long path is O(log2 diameter), the
    property that keeps 1M-edge graphs cheap.  A 128-edge path
    (diameter 128) must close within 12 rounds; path doubling predicts
    ~log2(128)=7, while plain min-label propagation needs ~128."""
    edges = [(i, i + 1) for i in range(128)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iters=12).collect()
    }
    assert len(got) == 129 and set(got.values()) == {0}


def test_duplicate_clusters_checkpoint_dir_parity(spark, tmp_path):
    rows = [(1, "alpha beta gamma delta " * 20), (2, "alpha beta gamma delta " * 20 + "x"),
            (9, "entirely different content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {(r["doc_id"], r["cluster_id"]) for r in duplicate_clusters(df).collect()}
    with_dir = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(
            df, checkpoint_dir=str(tmp_path / "dc_ckpt")
        ).collect()
    }
    assert with_dir == base
