"""Tests for dedup / ANN / multimodal operators."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from greatex_spark.operators.ann import (
    brute_force_topk,
    cosine,
    embedding_cosine_dedup,
    lsh_topk,
)
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


def test_brute_force_topk_vs_duckdb(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50).cache()
    got = brute_force_topk(emb, emb, k=3).orderBy("query_id", "rank").collect()
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH e AS (SELECT vec_id, embedding FROM
                   (SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')
                    ORDER BY vec_id LIMIT 50)),
        s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  c.embedding::DOUBLE[]), 6) AS score
              FROM e q JOIN e c ON q.vec_id != c.vec_id),
        r AS (SELECT *, row_number() OVER
                 (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
              FROM s)
        SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 3
        ORDER BY query_id, rank
        """
    ).fetchall()
    got_t = [(r.query_id, r.neighbor_id, r.rank, r.score) for r in got]
    # limit(50) on Spark side is order-dependent; both sides take vec_id<50 set
    assert len(got_t) == len(want)
    mismatches = [
        (g, w) for g, w in zip(got_t, want) if g[:3] != w[:3] or abs(g[3] - w[3]) > 1e-6
    ]
    assert not mismatches, mismatches[:5]


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    exact = brute_force_topk(emb, emb, k=5)
    # uniformly random vectors are LSH's worst case — 4 independent
    # 4-bit tables with Hamming-1 multiprobe hold recall ≥ 0.8 even here
    # (measured 0.92 at sf0.01; real clustered embeddings do better at a
    # fraction of the candidate volume)
    approx = lsh_topk(emb, emb, dim=64, k=5, num_bits=4, num_tables=4)
    pairs_exact = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    pairs_approx = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(pairs_exact & pairs_approx) / len(pairs_exact)
    assert recall >= 0.8, recall
    assert pairs_approx  # non-empty


def test_ivf_topk_recall(spark, sf_dir):
    from greatex_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    exact = brute_force_topk(emb, emb, k=5)
    approx = ivf_topk(emb, emb, k=5, nlist=8, nprobe=6)
    pairs_exact = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    pairs_approx = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(pairs_exact & pairs_approx) / len(pairs_exact)
    # probing 6/8 cells of the seeded k-means quantizer (measured 0.98
    # at sf0.01)
    assert recall >= 0.8, recall
    # scores of returned pairs are exact cosines: any overlap must agree
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(r.score - exact_scores[key]) < 1e-9


def test_brute_force_topk_arrow_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from greatex_spark.operators.ann import brute_force_topk_arrow

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 16)
    spec = {(r.query_id, r.neighbor_id): r.score
            for r in brute_force_topk(q, emb, k=5).collect()}
    arrow = {(r.query_id, r.neighbor_id): r.score
             for r in brute_force_topk_arrow(q, emb, k=5).collect()}
    assert set(spec) == set(arrow)
    for pair, s in spec.items():
        assert abs(s - arrow[pair]) <= 1e-6, (pair, s, arrow[pair])


def test_lsh_topk_arrow_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from greatex_spark.operators.ann import lsh_topk_arrow

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 16)
    spec = {(r.query_id, r.neighbor_id): r.score
            for r in lsh_topk(q, emb, dim=64, k=5, num_bits=4, num_tables=2).collect()}
    arrow = {(r.query_id, r.neighbor_id): r.score
             for r in lsh_topk_arrow(q, emb, dim=64, k=5, num_bits=4, num_tables=2).collect()}
    assert set(spec) == set(arrow)
    for pair, s in spec.items():
        assert abs(s - arrow[pair]) <= 1e-6, (pair, s, arrow[pair])


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


def test_embedding_cosine_dedup(spark):
    base = [float(i) for i in range(8)]
    near = [float(i) + (0.001 if i == 0 else 0.0) for i in range(8)]
    far = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    kept = sorted(
        r.vec_id for r in embedding_cosine_dedup(df, dim=8, num_bits=4).collect()
    )
    assert kept == [0, 2]


def test_multimodal_plumbing(spark):
    from greatex_spark.operators.multimodal import (
        extract_features,
        resize_images,
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, 12).cache()
    feats = extract_features(media).collect()
    assert len(feats) == 12
    assert all(len(r.features) == 16 for r in feats)
    # deterministic under repartitioning
    feats2 = extract_features(media.repartition(7)).collect()
    assert {r.media_id: r.features for r in feats2} == {
        r.media_id: r.features for r in feats
    }

    resized = resize_images(media.where("kind = 'image'"), 64, 64).collect()
    assert all(r.meta.width == 64 and r.meta.height == 64 for r in resized)

    frames = sample_frames(media, every_ms=1000).collect()
    vids = media.where("kind = 'video'").count()
    assert len(frames) == vids * 4  # 3500ms / 1000ms → 4 samples (0,1,2,3s)
    assert all(len(r.frame) == 32 for r in frames)


def test_decontaminate_drops_ngram_overlap(spark):
    from greatex_spark.operators.decontaminate import (
        contaminated_ids,
        decontaminate,
    )

    secret = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    clean = "completely different words about weather patterns in coastal regions today"
    corpus = spark.createDataFrame(
        [
            (0, f"prefix words here {secret} suffix words here"),  # contaminated
            (1, clean),  # clean
            (2, f"another doc quoting {secret} verbatim in the middle"),  # contaminated
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, f"eval question: {secret}?")], "doc_id long, text string"
    )
    bad = sorted(r.doc_id for r in contaminated_ids(corpus, benchmark, n=8).collect())
    assert bad == [0, 2]
    kept = sorted(r.doc_id for r in decontaminate(corpus, benchmark, n=8).collect())
    assert kept == [1]


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


def test_semdedup_drops_planted_semantic_dups(spark):
    """SemDeDup: planted near-copies of cluster members are dropped
    (same k-means cell, cosine above threshold); orthogonal vectors
    survive; survivors keep the lowest id of each dup group."""
    import random

    from greatex_spark.operators.ann import semdedup

    rng = random.Random(5)
    dim = 16

    def unit(axis: int) -> list[float]:
        v = [0.0] * dim
        v[axis] = 1.0
        return v

    def jitter(v: list[float], eps: float) -> list[float]:
        return [x + rng.uniform(-eps, eps) for x in v]

    rows = []
    # 4 well-separated clusters of 10 near-identical members each
    for c in range(4):
        for m in range(10):
            rows.append((c * 100 + m, jitter(unit(c * 3), 0.01)))
    # 8 mutually-orthogonal singletons (axes disjoint from the cluster
    # axes {0,3,6,9}, so no cross-group near-dups exist)
    for s, axis in enumerate((1, 2, 4, 5, 7, 8, 10, 11)):
        rows.append((1000 + s, unit(axis)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semdedup(
        df, dim=dim, threshold=0.95, nlist=4, candidate_cap=None
    ).select("vec_id")
    ids = {r.vec_id for r in kept.collect()}
    # each planted cluster collapses to its minimum id
    for c in range(4):
        assert c * 100 in ids
        assert not any(c * 100 + m in ids for m in range(1, 10))
    # orthogonal singletons all survive
    assert all(1000 + s in ids for s in range(8))
    # the survivor rejoin must broadcast the dropped-id set
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


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


class TestPQTopk:
    def _corpus(self, spark, n=120, dim=16, seed=3):
        import numpy as np

        rng = np.random.default_rng(seed)
        # clustered corpus: 4 centers, tight noise — PQ-friendly
        centers = rng.normal(0, 1, (4, dim))
        rows = []
        for i in range(n):
            v = centers[i % 4] + rng.normal(0, 0.05, dim)
            rows.append((i, [float(x) for x in v]))
        return rows

    def test_planted_duplicate_is_rank1(self, spark):
        from greatex_spark.operators.ann import pq_topk

        rows = self._corpus(spark)
        rows[77] = (77, rows[5][1])  # exact duplicate of vec 5
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = pq_topk(df.where("vec_id = 5"), df, k=3, m=4, ksub=16).collect()
        top1 = [r for r in out if r["rank"] == 1][0]
        # identical vectors share codes; asymmetric distance to the
        # duplicate equals the query's OWN quantization error — small
        # (tight clusters) but not zero, and strictly the minimum
        assert top1["neighbor_id"] == 77
        assert top1["dist"] < 0.1
        assert all(top1["dist"] <= r["dist"] for r in out)

    def test_recall_vs_exact_l2(self, spark):
        """Recall is meaningful when true neighbors are separated by
        more than the quantization error: 30 well-separated clusters
        of 4 — PQ must retrieve cluster-mates, not resolve orderings
        finer than its code resolution."""
        import numpy as np

        from greatex_spark.operators.ann import pq_topk

        rng = np.random.default_rng(3)
        centers = rng.normal(0, 5, (30, 16))
        rows = [
            (i, [float(x) for x in centers[i % 30] + rng.normal(0, 0.05, 16)])
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = pq_topk(df.where("vec_id < 6"), df, k=3, m=4, ksub=16).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        mat = np.array([r[1] for r in rows])
        hits = tot = 0
        for q in range(6):
            d2 = ((mat - mat[q]) ** 2).sum(axis=1)
            d2[q] = np.inf
            exact = set(int(i) for i in np.argsort(d2, kind="stable")[:3])
            hits += len(got[q] & exact)
            tot += 3
        assert hits / tot >= 0.8, hits / tot

    def test_corpus_never_shuffles(self, spark):
        from greatex_spark.operators.ann import pq_topk

        rows = self._corpus(spark)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = pq_topk(df.where("vec_id < 2"), df, k=3, m=4, ksub=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # query side broadcasts; the only exchange is the final per-query
        # row_number partitioning over (query_id, ...) candidate rows
        assert "BroadcastNestedLoopJoin" in plan

    def test_codebooks_deterministic(self, spark):
        import numpy as np

        from greatex_spark.operators.ann import train_pq_codebooks

        pts = np.random.default_rng(9).normal(0, 1, (300, 16))
        assert train_pq_codebooks(pts, 4, 16) == train_pq_codebooks(pts, 4, 16)


class TestIVFPQTopk:
    def _clustered(self, n=120, dim=16, n_centers=30, spread=5.0, seed=3):
        import numpy as np

        rng = np.random.default_rng(seed)
        centers = rng.normal(0, spread, (n_centers, dim))
        return [
            (i, [float(x) for x in centers[i % n_centers] + rng.normal(0, 0.05, dim)])
            for i in range(n)
        ]

    def test_planted_duplicate_is_rank1(self, spark):
        from greatex_spark.operators.ann import ivfpq_topk

        rows = self._clustered(n_centers=4, spread=1.0)
        rows[77] = (77, rows[5][1])  # exact duplicate of vec 5
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = ivfpq_topk(
            df.where("vec_id = 5"), df, k=3, nlist=4, nprobe=2, m=4, ksub=16
        ).collect()
        top1 = [r for r in out if r["rank"] == 1][0]
        # identical vectors share the cell and the residual codes, so the
        # asymmetric distance to the duplicate is the query's OWN
        # quantization error — strictly the minimum
        assert top1["neighbor_id"] == 77
        assert top1["dist"] < 0.1
        assert all(top1["dist"] <= r["dist"] for r in out)

    def test_recall_vs_exact_l2(self, spark):
        import numpy as np

        from greatex_spark.operators.ann import ivfpq_topk

        rows = self._clustered()
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = ivfpq_topk(
            df.where("vec_id < 6"), df, k=3, nlist=8, nprobe=4, m=4, ksub=16
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        mat = np.array([r[1] for r in rows])
        hits = tot = 0
        for q in range(6):
            d2 = ((mat - mat[q]) ** 2).sum(axis=1)
            d2[q] = np.inf
            exact = set(int(i) for i in np.argsort(d2, kind="stable")[:3])
            hits += len(got.get(q, set()) & exact)
            tot += 3
        assert hits / tot >= 0.8, hits / tot

    def test_corpus_never_shuffles(self, spark):
        from greatex_spark.operators.ann import ivfpq_topk

        rows = self._clustered(n_centers=4, spread=1.0)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = ivfpq_topk(
            df.where("vec_id < 2"), df, k=3, nlist=4, nprobe=2, m=4, ksub=16
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exploded query side broadcasts into the cell equi-join; the only
        # exchange is the final per-query row_number over candidate rows
        assert "BroadcastHashJoin" in plan
        import re

        exchanges = re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", plan)
        assert all(e.startswith("query_id") for e in exchanges), exchanges

    def test_residual_encoding_beats_flat_pq(self, spark):
        """The point of encoding residuals: on clustered data the
        reconstruction error of IVF-PQ (centroid + dequantized residual)
        must be well below flat PQ at the same (m, ksub) — measured, not
        asserted from the paper."""
        import numpy as np

        from greatex_spark.operators.ann import (
            _residuals,
            train_ivfpq,
            train_pq_codebooks,
        )

        pts = np.array([r[1] for r in self._clustered(n=300)], dtype=np.float64)

        def pq_recon(vecs, cbs):
            m = len(cbs)
            dsub = len(cbs[0][0])
            out = np.empty_like(vecs)
            for j in range(m):
                sub = vecs[:, j * dsub : (j + 1) * dsub]
                cb = np.asarray(cbs[j])
                code = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2).argmin(1)
                out[:, j * dsub : (j + 1) * dsub] = cb[code]
            return out

        flat_cbs = train_pq_codebooks(pts, 4, 16)
        flat_err = ((pts - pq_recon(pts, flat_cbs)) ** 2).sum(axis=1).mean()

        # nlist sized to the cluster structure (30 planted centers): the
        # coarse quantizer absorbs the layout, residuals are unimodal
        # noise, and the same 16 sub-centroids describe it ~perfectly
        cents, res_cbs = train_ivfpq(pts, nlist=30, m=4, ksub=16)
        resid = _residuals(pts, cents)
        ivfpq_err = ((resid - pq_recon(resid, res_cbs)) ** 2).sum(axis=1).mean()
        assert ivfpq_err < flat_err / 10, (ivfpq_err, flat_err)
        # even with cells ~4x coarser than the true layout the residual
        # codes must still beat flat PQ at equal (m, ksub)
        cents8, res_cbs8 = train_ivfpq(pts, nlist=8, m=4, ksub=16)
        resid8 = _residuals(pts, cents8)
        err8 = ((resid8 - pq_recon(resid8, res_cbs8)) ** 2).sum(axis=1).mean()
        assert err8 < flat_err, (err8, flat_err)

    def test_quantizers_deterministic(self, spark):
        import numpy as np

        from greatex_spark.operators.ann import train_ivfpq

        pts = np.random.default_rng(9).normal(0, 1, (300, 16))
        assert train_ivfpq(pts, 8, 4, 16) == train_ivfpq(pts, 8, 4, 16)


class TestIVFPQProbeArrow:
    def _clustered_df(self, spark, n=4000, dim=16, ncl=16, seed=3):
        import numpy as np

        rng = np.random.default_rng(seed)
        centers = rng.normal(0, 5, (ncl, dim))
        rows = [
            (i, [float(x) for x in centers[i % ncl] + rng.normal(0, 0.05, dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_adc_matches_native_spec_exactly(self, spark):
        """Pure-ADC probe-scan returns the identical (query, neighbor,
        rank) set as the native ivfpq_topk at the same quantizers —
        including the tie handling PQ makes routine (shared codes ⇒
        identical distances ⇒ lowest-id wins)."""
        from greatex_spark.operators.ann import (
            _hash_sample,
            _vec_matrix,
            ivfpq_topk,
            ivfpq_topk_probe_arrow,
            train_ivfpq,
        )

        df = self._clustered_df(spark)
        rows = _hash_sample(df, "vec_id", "embedding", 1024).collect()
        cents, cbs = train_ivfpq(
            _vec_matrix([r[1] for r in rows]), nlist=16, m=4, ksub=16
        )
        kw = dict(
            k=5, nlist=16, nprobe=4, m=4, ksub=16, centroids=cents, codebooks=cbs
        )
        q = df.where("vec_id % 200 = 0")
        nat = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in ivfpq_topk(q, df, **kw).collect()
        }
        arw = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in ivfpq_topk_probe_arrow(q, df, **kw).collect()
        }
        assert nat == arw and len(nat) == 100

    def test_refine_recovers_recall(self, spark):
        """Quantization can't rank below-noise margins; the exact
        refine step must lift recall to ~1.0 where pure ADC fails."""
        from greatex_spark.operators.ann import (
            brute_force_l2_topk_arrow,
            ivfpq_topk_probe_arrow,
        )

        df = self._clustered_df(spark)
        q = df.where("vec_id % 100 = 0")
        ex = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_l2_topk_arrow(q, df, k=5).collect()
        }
        kw = dict(k=5, nlist=16, nprobe=4, m=4, ksub=16)
        adc = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk_probe_arrow(q, df, **kw).collect()
        }
        ref = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk_probe_arrow(q, df, refine=64, **kw).collect()
        }
        r_adc = len(ex & adc) / len(ex)
        r_ref = len(ex & ref) / len(ex)
        assert r_ref >= 0.95, (r_adc, r_ref)
        assert r_ref > r_adc, (r_adc, r_ref)

    def test_l2_arrow_matches_spec(self, spark):
        from greatex_spark.operators.ann import (
            brute_force_l2_topk,
            brute_force_l2_topk_arrow,
        )

        df = self._clustered_df(spark, n=500)
        q = df.where("vec_id < 4")
        spec = {
            (r.query_id, r.neighbor_id, r.rank, r.dist)
            for r in brute_force_l2_topk(q, df, k=5).collect()
        }
        arw = {
            (r.query_id, r.neighbor_id, r.rank, r.dist)
            for r in brute_force_l2_topk_arrow(q, df, k=5).collect()
        }
        assert spec == arw and len(spec) == 20

    def test_l2_arrow_rounding_tie_at_k_boundary_keeps_lowest_id(self, spark):
        """Three neighbours whose squared distances differ only below the
        6th decimal tie after rounding; the spec keeps the lowest id, so
        the per-batch selection must round first and break ties by id."""
        from greatex_spark.operators.ann import (
            brute_force_l2_topk,
            brute_force_l2_topk_arrow,
        )

        rows = [
            (0, [0.0]),
            (10, [1.0000002]),  # d ≈ 1.0000004 → 1.0
            (11, [1.00000015]),  # d ≈ 1.0000003 → 1.0
            (12, [1.0000001]),  # d ≈ 1.0000002 → 1.0
            (20, [3.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        df = df.coalesce(1)  # one Arrow batch holds every candidate
        q = df.where("vec_id = 0")
        spec = [
            (r.neighbor_id, r.dist) for r in brute_force_l2_topk(q, df, k=1).collect()
        ]
        arw = [
            (r.neighbor_id, r.dist)
            for r in brute_force_l2_topk_arrow(q, df, k=1).collect()
        ]
        assert spec == [(10, 1.0)]
        assert arw == spec

    @pytest.mark.parametrize("given", ["centroids", "codebooks"])
    def test_half_given_quantizers_rejected(self, spark, given):
        """Residual codebooks describe the cells they were trained
        against: a lone centroid set or a lone codebook set must not
        be paired with a freshly trained other half."""
        from greatex_spark.operators.ann import (
            _vec_matrix,
            ivfpq_topk,
            ivfpq_topk_probe_arrow,
            train_ivfpq,
        )

        df = self._clustered_df(spark, n=200)
        cents, cbs = train_ivfpq(
            _vec_matrix([r.embedding for r in df.collect()]), nlist=4, m=4, ksub=16
        )
        kw = {"centroids": cents} if given == "centroids" else {"codebooks": cbs}
        q = df.where("vec_id < 2")
        for fn in (ivfpq_topk, ivfpq_topk_probe_arrow):
            with pytest.raises(ValueError, match="centroids and codebooks"):
                fn(q, df, k=3, nlist=4, nprobe=2, m=4, ksub=16, **kw)
