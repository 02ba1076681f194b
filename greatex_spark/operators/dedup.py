"""Corpus dedup operators off the pipeline path.

The pipeline's near-duplicate stage is MinHash + LSH
(:mod:`greatex_spark.operators.minhash`, which also defines the shared
md5 hash family).  This module holds the operators that do other jobs:

- **exact**: hash-groupBy on a normalized-content fingerprint
  (one shuffle, map-side partial dedup via the window min), and the
  incremental mode that dedups a new batch against a committed
  fingerprint index without rescanning the corpus.
- **n-gram Jaccard pairs**: MinHash-LSH candidates verified by exact
  n-gram Jaccard; :mod:`greatex_spark.operators.cluster` closes these
  edges into duplicate clusters.
- **MinHash accuracy audit**: the signature estimate next to the exact
  shingle Jaccard it estimates, on a bounded pair sample.

The md5-family operators have DuckDB twins (``*_duckdb_sql``) that
replay them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from greatex_spark.functions.exprs import let
from greatex_spark.functions.textstats import normalize_for_fingerprint
from greatex_spark.operators.minhash import (
    _compose_hash,
    _compose_hash_sql,
    _minhash_ctes_sql,
    _norm_sql,
    _perm_sql,
    band_hashes,
    md5_long,
    md5_long_sql,
    minhash_signature,
    perm_constants,
    shingle_hashes,
    shingles_select_sql,
)


# ---------------------------------------------------------------------------
# bounded candidate generation (n-gram Jaccard pair candidates)
#
# A naive candidate step joins a bucket against itself — O(bucket²)
# pairs, and web boilerplate makes giant buckets (one hot bucket at
# 10^12 docs is a straggler/OOM task no AQE split can bound).  Instead,
# every row compares only against its bucket's REPRESENTATIVES: split
# the bucket into ``candidate_cap`` hash cells by id and take each
# cell's minimum id.  That is a plain two-key aggregation (fully
# map-side combinable, no collected lists, hot buckets stream through
# the partial min) and bounds candidate pairs at ``rows × cap``.
#
# Semantics (documented approximation, replayed exactly by the SQL
# oracles): a row is paired with every verified-similar representative
# with a LOWER id that shares one of its buckets.  For buckets smaller
# than ``candidate_cap`` most ids are their own cell's minimum, so this
# degrades toward full pairwise; for hot buckets the comparison set is
# the cap.  Duplicates cluster, so representatives (lowest ids spread
# pseudo-randomly by the md5 cell hash) catch them; a lost edge needs a
# bucket where >cap distinct near-dup *groups* collide — at that point
# the bucket itself is boilerplate and belongs to a coarser rule.
# ``candidate_cap=None`` restores exact all-pairs generation.


def _rep_cell(id_col: Column, cap: int) -> Column:
    """Deterministic cell in [0, cap) — md5-derived so DuckDB replays it
    for both long and string ids (cast to string first)."""
    return F.pmod(md5_long(id_col.cast("string")), F.lit(cap))


def _rep_cell_sql(id_expr: str, cap: int) -> str:
    return f"({md5_long_sql(f'CAST({id_expr} AS VARCHAR)')} % {cap})"


def bucket_representatives(
    banded: DataFrame, bucket_cols: list[str], id_col: str, cap: int | None
) -> DataFrame:
    """Per-bucket representative ids: the minimum id of each of ``cap``
    id-hash cells (≤ cap rows per bucket).  ``cap=None`` → every row is
    a representative (exact all-pairs candidates)."""
    out_id = f"__rep_{id_col.strip('_')}"
    if cap is None:
        return banded.select(*bucket_cols, F.col(id_col).alias(out_id)).distinct()
    return (
        banded.groupBy(*bucket_cols, _rep_cell(F.col(id_col), cap).alias("__cell"))
        .agg(F.min(id_col).alias(out_id))
        .drop("__cell")
    )


def _reps_cte_sql(
    banded_cte: str, bucket_cols: str, id_col: str, cap: int | None
) -> str:
    """SQL twin of :func:`bucket_representatives` (a SELECT body)."""
    if cap is None:
        return f"SELECT DISTINCT {bucket_cols}, {id_col} AS rid FROM {banded_cte}"
    return (
        f"SELECT {bucket_cols}, min({id_col}) AS rid FROM {banded_cte} "
        f"GROUP BY {bucket_cols}, {_rep_cell_sql(id_col, cap)}"
    )


# ---------------------------------------------------------------------------
# exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint."""
    fp = F.xxhash64(normalize_for_fingerprint(text_col)).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def content_fingerprint_index(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The committed survivor index for incremental dedup: one
    ``fingerprint`` (md5-family 60-bit hash of the normalized text) per
    distinct content.  md5, not xxhash64, so the DuckDB oracle replays
    it exactly; persist via ``Catalog.write_snapshot`` and grow it with
    each batch's new fingerprints."""
    return df.select(
        md5_long(normalize_for_fingerprint(text_col)).alias("fingerprint")
    ).distinct()


def exact_dedup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Production-mode dedup: dedupe a NEW batch against the committed
    corpus without rescanning it.  Keeps the lowest-id row per
    fingerprint within the batch, then anti-joins the
    :func:`content_fingerprint_index` of everything already ingested —
    a 100 TB corpus is never re-read, only its (distinct-fingerprint)
    index shuffles.  Fingerprints are uniform 60-bit hashes, so the
    anti-join keys have no skew by construction; an index persisted
    bucketed on ``fingerprint`` (Spark ``bucketBy``) would also drop the
    exchange on the index side."""
    fp = md5_long(normalize_for_fingerprint(text_col)).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    batch_kept = (
        new_df.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        batch_kept.join(
            index, batch_kept["__fp"] == index["fingerprint"], "left_anti"
        )
        .drop("__fp")
    )


def exact_dedup_incremental_duckdb_sql(
    select_cols: str,
    new_pred: str,
    index_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle for :func:`exact_dedup_incremental` where both the new
    batch and the already-ingested corpus are predicates over one
    table (the driver-query fixture)."""
    fp = md5_long_sql(_norm_sql(f"t.{text_col}"))
    return f"""
WITH __idx AS (
  SELECT DISTINCT {md5_long_sql(_norm_sql(text_col))} AS fingerprint
  FROM {table} WHERE {index_pred}),
__batch AS (
  SELECT t.*, {fp} AS fp,
         row_number() OVER (PARTITION BY {fp} ORDER BY t.{id_col}) AS rn
  FROM {table} t WHERE {new_pred})
SELECT {select_cols} FROM __batch t
WHERE t.rn = 1 AND t.fp NOT IN (SELECT fingerprint FROM __idx)
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard


def ngram_set(text: Column | str, n: int = 3) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(normalize_for_fingerprint(c), " "), lambda w: w != F.lit(""))
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    )


def ngram_jaccard(a: Column | str, b: Column | str, n: int = 3) -> Column:
    """Exact Jaccard similarity of the two texts' word-n-gram sets."""
    sa, sb = ngram_set(a, n), ngram_set(b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_hash_set(text: Column | str, n: int = 3) -> Column:
    """Distinct hashes of the word-n-gram set — the compact identity a
    candidate pair is verified on (jaccard on hash sets equals jaccard
    on gram sets up to hash collisions; spec semantics).  Gram hashes
    compose numerically from per-word hashes (empty words filtered, as
    in :func:`ngram_set`) — no gram strings are materialized."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(normalize_for_fingerprint(c), " "), lambda w: w != F.lit(""))

    def grams(wh: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(wh) - n, F.lit(0)))
        # try_element_at, as in shingle_hashes: short (or fully-filtered)
        # docs read NULL word hashes, folded as 0 like the SQL twin
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: _compose_hash(
                    [F.try_element_at(wh, i + j + 1) for j in range(n)]
                ),
            )
        )

    return let(F.transform(words, lambda w: md5_long(w)), grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    num_bands: int = 8,
    candidate_cap: int | None = 64,
) -> DataFrame:
    """Verified near-duplicate EDGES: ``(__ida, __idb)`` pairs
    (``__ida > __idb``) whose exact n-gram Jaccard meets ``threshold``
    among MinHash-LSH band candidates (≤``candidate_cap``
    representatives per bucket — see the bounded-candidate note above;
    ``None`` = exact all-pairs).  :func:`cluster.duplicate_clusters`
    closes these edges transitively into duplicate clusters.

    Scale path: the band exchange carries ONLY (id, bucket) — document
    text never enters a shuffle — and the representative step is a
    plain aggregation, so hot buckets never materialize.  Candidate
    id-pairs (few) then join the per-doc n-gram *hash set* table twice
    to verify; the gram-hash arrays are the only wide payload shuffled,
    and only once each."""
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            band_hashes(F.col(text_col), num_perm, num_bands, shingle_k=n, family="md5")
        ).alias("__bucket"),
    )
    reps = bucket_representatives(banded, ["__bucket"], "__id", candidate_cap)
    pairs = (
        banded.join(reps, on="__bucket")
        .where(F.col("__id") > F.col("__rep_id"))
        .select(F.col("__id").alias("__ida"), F.col("__rep_id").alias("__idb"))
        .distinct()
    )
    grams = df.select(
        F.col(id_col).alias("__gid"), ngram_hash_set(F.col(text_col), n).alias("__grams")
    )
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb"))).cast("double")
    union = F.size(F.array_union(F.col("__ga"), F.col("__gb"))).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.join(grams.select(F.col("__gid"), F.col("__grams").alias("__ga")),
                   pairs.__ida == F.col("__gid")).drop("__gid")
        .join(grams.select(F.col("__gid"), F.col("__grams").alias("__gb")),
              F.col("__idb") == F.col("__gid")).drop("__gid")
        .where(jac >= threshold)
        .select("__ida", "__idb")
    )


def ngram_jaccard_pairs_duckdb_ctes(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    num_bands: int = 8,
    candidate_cap: int | None = 64,
) -> str:
    """CTE block (for a ``WITH``) ending in ``__vpairs(ida, idb)`` — the
    SQL twin of :func:`ngram_jaccard_pairs` (the duplicate-cluster
    oracle's edge set)."""
    ctes = _minhash_ctes_sql(table, id_col, text_col, num_perm, num_bands, n)
    wf = f"list_filter(string_split({_norm_sql(text_col)}, ' '), w -> w != '')"
    gram = _compose_hash_sql([f"wh[i + {j}]" for j in range(n)])
    return f"""{ctes},
__grams AS (
  SELECT {id_col} AS gid,
    list_distinct(list_transform(
      range(1, greatest(len(wh) - {n}, 0) + 2), i -> {gram})) AS gh
  FROM (SELECT {id_col},
        list_transform({wf}, w -> {md5_long_sql('w')}) AS wh FROM {table})),
__reps AS ({_reps_cte_sql('__banded', 'bucket', id_col, candidate_cap)}),
__pairs AS (
  SELECT DISTINCT l.{id_col} AS ida, r.rid AS idb
  FROM __banded l JOIN __reps r
    ON l.bucket = r.bucket AND l.{id_col} > r.rid),
__vpairs AS (
  SELECT p.ida, p.idb
  FROM __pairs p
  JOIN __grams a ON a.gid = p.ida
  JOIN __grams b ON b.gid = p.idb
  WHERE CASE WHEN len(list_distinct(list_concat(a.gh, b.gh))) > 0
        THEN CAST(len(list_intersect(a.gh, b.gh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gh, b.gh)))
        ELSE 0.0 END >= {threshold})"""


# ---------------------------------------------------------------------------
# MinHash accuracy evaluation: estimator vs exact Jaccard


def minhash_accuracy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    max_id: int = 200,
) -> DataFrame:
    """Measured-not-asserted dedup accuracy: for a deterministic bounded
    pair sample (consecutive ids below ``max_id`` — the same sample rule
    as the exact-Jaccard verification kernel), emit the MinHash
    signature-agreement ESTIMATE next to the exact shingle-set Jaccard
    it estimates, plus the absolute error.

    This is the operator a corpus owner runs before trusting
    ``minhash_lsh_dedup`` at 100 TB: E[est] = exact Jaccard (Broder
    1997), and the observed error distribution at ``num_perm``
    permutations decides whether the signature is wide enough.  The
    pair sample is bounded by construction (``max_id`` consecutive
    pairs), so cost is O(sample), never O(corpus²).

    All math is native and oracle-exact: md5-family signatures (literal
    permutation constants), ``zip_with`` position agreement, and two
    single IEEE divisions (matches/num_perm, inter/union).
    """
    sigs = df.where(F.col(id_col) < max_id + 1).select(
        F.col(id_col).alias("__id"),
        minhash_signature(F.col(text_col), num_perm, shingle_k, family="md5").alias(
            "__sig"
        ),
        shingle_hashes(F.col(text_col), shingle_k).alias("__sh"),
    )
    a = sigs.select(
        F.col("__id").alias("id_a"),
        F.col("__sig").alias("__sa"),
        F.col("__sh").alias("__ha"),
    )
    b = sigs.select(
        F.col("__id").alias("id_b"),
        F.col("__sig").alias("__sb"),
        F.col("__sh").alias("__hb"),
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("__sa"),
            F.col("__sb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb"))).cast("double")
    union = F.size(F.array_union(F.col("__ha"), F.col("__hb"))).cast("double")
    exact = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    est = matches.cast("double") / F.lit(float(num_perm))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .where(F.col("id_a") < max_id)
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


def minhash_accuracy_pairs_duckdb_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    max_id: int = 200,
) -> str:
    """Oracle for :func:`minhash_accuracy_pairs`: same shingle CTEs and
    literal permutation constants as the minhash dedup twin, same
    position-agreement count, same two single divisions."""
    sh = shingles_select_sql(
        f"(SELECT * FROM {table} WHERE {id_col} < {max_id + 1})", id_col, text_col,
        shingle_k,
    )
    sig_elems = ", ".join(
        f"list_min(list_transform(h, x -> {_perm_sql('x', a, b)}))"
        for a, b in perm_constants(num_perm)
    )
    return f"""
WITH __sh AS MATERIALIZED ({sh}),
__sig AS MATERIALIZED (
  SELECT {id_col}, h, [{sig_elems}] AS s FROM __sh),
__pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         a.s AS sa, b.s AS sb, a.h AS ha, b.h AS hb
  FROM __sig a JOIN __sig b ON b.{id_col} = a.{id_col} + 1
  WHERE a.{id_col} < {max_id}),
__scored AS (
  SELECT id_a, id_b,
    CAST(len(list_filter(range(1, {num_perm + 1}),
                         i -> sa[i] = sb[i])) AS DOUBLE) / {float(num_perm)}
      AS est_jaccard,
    CASE WHEN len(list_distinct(list_concat(ha, hb))) > 0
         THEN CAST(len(list_intersect(ha, hb)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(ha, hb))) AS DOUBLE)
         ELSE 0.0 END AS exact_jaccard
  FROM __pairs)
SELECT id_a, id_b, est_jaccard, exact_jaccard,
       abs(est_jaccard - exact_jaccard) AS abs_err
FROM __scored
"""
