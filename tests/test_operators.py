"""Tests for the dedup operators (exact, MinHash, SimHash, n-gram
Jaccard), stratified sampling and salted repartitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from greatex_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signature,
    ngram_jaccard,
    ngram_jaccard_dedup,
    simhash64,
    simhash_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the old hills and the river keeps moving toward the distant sea "
    "carrying leaves and small branches from the autumn forest floor"
)
NEAR_DUP = BASE.replace("autumn", "winter")  # one-word change
DIFFERENT = (
    "completely unrelated content about database engines and query planners "
    "discussing join strategies shuffle partitions and adaptive execution "
    "with no overlap in the underlying shingle space whatsoever at all"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, NEAR_DUP),
        (2, DIFFERENT),
        (3, BASE),  # exact dup of 0
        (4, "  The   quick brown fox jumps over the lazy dog while the sun sets slowly "
            "behind the old hills and the river keeps moving toward the distant sea "
            "carrying leaves and small branches from the autumn forest floor  "),
        # normalized-exact dup of 0 (case/whitespace)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [0, 1, 2]  # 3 and 4 are exact/normalized dups of 0


def test_minhash_signature_deterministic(docs):
    a = docs.select(minhash_signature("text", 16).alias("s")).collect()
    b = docs.repartition(5).select(minhash_signature("text", 16).alias("s")).collect()
    assert sorted(map(str, (r.s for r in a))) == sorted(map(str, (r.s for r in b)))


def test_minhash_lsh_dedup(docs):
    kept = sorted(r.doc_id for r in minhash_lsh_dedup(docs).collect())
    # near-dup 1 collapses into 0 with high probability at r=4,b=16
    assert kept == [0, 2]


def test_simhash_near_dup(docs):
    rows = {r.doc_id: r.h for r in docs.select("doc_id", simhash64("text").alias("h")).collect()}
    ham = bin(rows[0] ^ rows[1]).count("1")
    assert ham <= 6  # near-dup → small hamming distance
    assert rows[0] == rows[3]  # exact dup → identical simhash
    assert bin(rows[0] ^ rows[2]).count("1") > 10
    kept = sorted(r.doc_id for r in simhash_dedup(docs).collect())
    assert 0 in kept and 2 in kept and 3 not in kept


def test_ngram_jaccard_pairwise(spark):
    df = spark.createDataFrame([(BASE, NEAR_DUP), (BASE, DIFFERENT)], "a string, b string")
    sims = [r.s for r in df.select(ngram_jaccard("a", "b").alias("s")).collect()]
    assert sims[0] > 0.7
    assert sims[1] == 0.0


def test_ngram_jaccard_dedup(docs):
    kept = sorted(r.doc_id for r in ngram_jaccard_dedup(docs, threshold=0.5).collect())
    assert kept == [0, 2]


def test_hot_bucket_candidates_bounded(spark):
    """Boilerplate fixture: 400 copies of one text (all four simhash
    bands collide → one hot bucket per band).  The representative step
    must bound candidates at rows × cap instead of bucket² pairs, and
    dedup must still collapse the clones to the lowest id."""
    from pyspark.sql import functions as F

    from greatex_spark.operators.dedup import (
        bucket_representatives,
        ngram_jaccard_dedup,
        simhash_dedup,
    )

    n, cap = 400, 8
    boiler = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    fresh = spark.createDataFrame([(n + 1, DIFFERENT)], "doc_id long, text string")
    df = boiler.unionByName(fresh)

    # representative bound: ≤ cap rows per (bucket-cols) group
    banded = df.select(
        F.col("doc_id").alias("__id"), F.lit(0).alias("__bucket")
    )
    reps = bucket_representatives(banded, ["__bucket"], "__id", cap)
    per_bucket = reps.groupBy("__bucket").count().collect()
    assert all(r["count"] <= cap for r in per_bucket)

    # capped candidates: rows × cap pairs max, NOT n²/2 ≈ 80k
    for dedup_fn in (simhash_dedup, ngram_jaccard_dedup):
        kept = sorted(
            r.doc_id
            for r in dedup_fn(df, "text", "doc_id", candidate_cap=cap).collect()
        )
        assert kept == [0, n + 1], dedup_fn.__name__

    # exact mode still available
    kept_exact = sorted(
        r.doc_id for r in simhash_dedup(df, "text", "doc_id", candidate_cap=None).collect()
    )
    assert kept_exact == [0, n + 1]


def test_salted_repartition_balances_hot_domains(spark):
    from pyspark.sql import functions as F

    from greatex_spark.operators.skew import salted_repartition
    from greatex_spark.pages import generate_pages

    # fixture plants ~30% of pages on one domain; after salting by
    # hash(url) no partition may hold more than ~2x the mean
    pages = generate_pages(spark, 2000, seed=9).localCheckpoint()
    balanced = salted_repartition(pages, "url", num_partitions=16)
    sizes = [
        r.n
        for r in balanced.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == 16
    assert max(sizes) < 2 * (sum(sizes) / len(sizes))


def test_salted_count_distinct_matches_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from greatex_spark.operators.skew import salted_count_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    two_phase = {
        (r.user_id): r.n_distinct
        for r in salted_count_distinct(ev, "user_id", "event_type").collect()
    }
    exact = {
        (r.user_id): r.n
        for r in ev.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n"))
        .collect()
    }
    assert two_phase == exact


def test_salted_count_distinct_all_null_key_emits_zero(spark):
    """A key whose values are ALL null must appear with count 0, exactly
    like groupBy(key).agg(count_distinct(value)) and the SQL oracle."""
    from pyspark.sql import functions as F

    from greatex_spark.operators.skew import salted_count_distinct

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None), ("b", None), ("c", "x"), ("c", "y")],
        "k string, v string",
    )
    got = {r.k: r.n_distinct for r in salted_count_distinct(df, "k", "v").collect()}
    exact = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert got == exact == {"a": 1, "b": 0, "c": 2}


def test_salted_repartition_salt_col_spreads_repeated_hot_key(spark):
    """With a row-dependent salt column, copies of one duplicated hot key
    spread over multiple partitions (plain key hashing pins them to one)."""
    from pyspark.sql import functions as F

    from greatex_spark.operators.skew import salted_repartition

    hot = spark.range(0, 1000).select(
        F.lit("https://hot.example.com/").alias("url"), F.col("id").alias("row_id")
    )
    plain = salted_repartition(hot, "url", num_partitions=8)
    salted = salted_repartition(hot, "url", num_partitions=8, salt_col="row_id")

    def n_nonempty(df):
        return (
            df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .count()
        )

    assert n_nonempty(plain) == 1  # documented: key-only hash cannot spread
    assert n_nonempty(salted) >= 4


def test_stratified_sample_semantics(spark):
    from greatex_spark.operators.sampling import stratified_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    frac = {"a": 1.0, "b": 0.0, "c": 0.5}
    out = stratified_sample(df, "source", frac, id_col="doc_id").cache()
    by = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by.get("a") == 1000 and "b" not in by
    assert 400 <= by.get("c", 0) <= 600  # ~0.5 of 1000, hash-uniform
    # deterministic under repartitioning AND independent of other strata:
    # dropping stratum b entirely must not change which c-rows survive
    kept_c = {r.doc_id for r in out.where(F.col("source") == "c").collect()}
    df2 = df.where(F.col("source") != "b").repartition(13)
    kept_c2 = {
        r.doc_id
        for r in stratified_sample(df2, "source", frac, id_col="doc_id")
        .where(F.col("source") == "c")
        .collect()
    }
    assert kept_c == kept_c2


def test_dedup_families_handle_short_documents(spark):
    """Documents shorter than the shingle size (including empty and
    fully-filtered texts) must dedup, not crash: try_element_at reads
    NULL past the word array and _compose_hash folds it as 0, exactly
    like the DuckDB twin's out-of-range list index (regression: plain
    element_at is an ANSI-mode ERROR and killed the whole stage)."""
    import duckdb

    from greatex_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_duckdb_sql,
        ngram_jaccard_dedup,
    )

    rows = [(1, ""), (2, "one"), (3, "two words"),
            (4, "a b c d e f g h"), (5, "a b c d e f g h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("md5", "xxhash64"):
        kept = sorted(r.doc_id for r in minhash_lsh_dedup(df, family=fam).collect())
        assert kept == [1, 2, 3, 4], fam  # exact dup 5 dropped, shorts kept
    assert ngram_jaccard_dedup(df, candidate_cap=None).count() == 4
    # the md5 oracle replays the identical short-doc decisions
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in rows) + ") t(doc_id, text)"
    )
    duck = sorted(
        r[0] for r in con.execute(minhash_lsh_dedup_duckdb_sql("t.doc_id")).fetchall()
    )
    assert duck == [1, 2, 3, 4]


def test_minhash_dedup_anti_join_parity(spark, sf_dir):
    """survivor_join='anti' (drop-set broadcast path) must select the
    exact same survivor rows as the spec semi join, including on frames
    with null/short texts."""
    from greatex_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "tiny")],
        "doc_id long, text string",
    )
    frame = docs.select("doc_id", "text").unionByName(extra)
    semi = {r.doc_id for r in minhash_lsh_dedup(frame).select("doc_id").collect()}
    anti = {
        r.doc_id
        for r in minhash_lsh_dedup(frame, survivor_join="anti")
        .select("doc_id").collect()
    }
    assert anti == semi


class TestMinhashAccuracyEval:
    def test_identical_and_disjoint_extremes(self, spark):
        from greatex_spark.operators.dedup import minhash_accuracy_pairs

        same = "the quick brown fox jumps over the lazy dog again and again today"
        other = "completely different words about oceans tides currents reefs corals waves salt"
        df = spark.createDataFrame(
            [(0, same), (1, same), (2, other)], "doc_id long, text string"
        )
        rows = {r.id_a: r for r in minhash_accuracy_pairs(df, max_id=10).collect()}
        # identical docs: est == exact == 1.0, zero error
        assert rows[0].est_jaccard == 1.0
        assert rows[0].exact_jaccard == 1.0
        assert rows[0].abs_err == 0.0
        # disjoint shingle sets: exact 0; estimate can only collide by hash
        assert rows[1].exact_jaccard == 0.0
        assert rows[1].est_jaccard <= 0.1

    def test_estimator_tracks_exact(self, spark):
        """On overlapping docs the 64-perm estimate stays within the
        ~1/sqrt(64) Broder band of the exact Jaccard."""
        from greatex_spark.operators.dedup import minhash_accuracy_pairs

        base = ("w%d " * 60) % tuple(range(60))
        rows = []
        for i in range(20):
            # doc i+1 shares a growing prefix with doc i
            rows.append((i, base + ("x%d " * i) % tuple(range(i))))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = minhash_accuracy_pairs(df, max_id=50).collect()
        assert out, "sample pairs exist"
        for r in out:
            assert r.abs_err <= 0.25, (r.id_a, r.est_jaccard, r.exact_jaccard)
