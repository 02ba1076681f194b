"""Deduplication operators for web-scale training-data pipelines.

Four families, all shuffle-conscious and 100%-JVM in the hot path:

- **exact**: hash-groupBy on a normalized-content fingerprint
  (one shuffle, map-side partial dedup via the window min).
- **MinHash + LSH** (Broder 1997): shingles → permuted min-hashes →
  band buckets → bucket-join.  A doc is dropped iff some LSH band
  bucket contains a lower-id doc — the standard scalable
  approximation (no transitive-closure pass; documented semantics).
- **SimHash** (Charikar 2002): 64-bit sign-of-weighted-bit-sums over
  word hashes; near-dup candidates share one of four 16-bit bands.
- **n-gram Jaccard**: exact similarity on candidate pairs (a Column
  combinator usable after any candidate generator).

Hash families (``family=`` on every operator):

- ``"md5"`` (default, the SPEC): 60-bit hashes from the first 15 hex
  chars of md5 — md5 exists in BOTH Spark and DuckDB with identical
  output, so every dedup decision replays in the SQL oracle
  (``*_duckdb_sql`` generators below).  MinHash permutations are
  Carter-Wegman arithmetic ``(a·(h mod p) + b) mod p``, ``p = 2³¹−1``,
  with seeded literal constants — overflow-free in both engines' BIGINT.
- ``"xxhash64"``: Spark-native, numerically-composed (no shingle
  strings materialized) — the faster hot path for the pipeline, not
  oracle-replayable (DuckDB has no xxhash64).

Both are deterministic across partitions, cluster sizes, and Spark
versions.

Scale notes (10^12 docs): the only shuffles are (a) the band-bucket
exchange, whose width is ``num_bands × docs`` small rows (doc_id +
two longs), and (b) the per-doc min-reduction — both key-partitioned
with AQE skew splitting enabled (hot buckets from boilerplate text
are real; see ``session.py``).  Signatures are computed in one
projection; shingling never materializes more than one doc's shingle
array at a time.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from greatex_spark.functions.textstats import normalize_for_fingerprint


# ---------------------------------------------------------------------------
# md5-derived hash family (oracle-replayable)

MOD31 = 2147483647  # 2^31 - 1
MERSENNE61 = (1 << 61) - 1

# DuckDB fragment of normalize_for_fingerprint (same as the green
# doc_exact_dedup oracle)
_DD_NORM = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


def md5_long(c: Column) -> Column:
    """60-bit hash: first 15 hex chars of md5, parsed base-16.  Twin of
    :func:`md5_long_sql` — identical values in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def perm_constants(num_perm: int, seed: int = 11) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the affine MinHash permutations over
    ``p = 2³¹−1``; shared by the Spark builder and the DuckDB SQL
    generator.

    Why the modulus is 2³¹−1 and not 2⁶¹−1: with ``(a·x + b) mod M61``
    and the 64-bit-overflow-safe ``a < 2³¹``, the map wraps the modulus
    at most twice, so it is near-MONOTONE in ``x`` — the 64
    "permutations" pick correlated minima and the Jaccard estimate is
    wildly biased (measured: MAE 0.215, worst case estimating 0.25 for
    a true Jaccard of 0.98).  Taking the modulus equal to the
    coefficient range — ``(a·(h mod p) + b) mod p`` with ``a`` uniform
    on ``[1, p)`` — is the textbook Carter-Wegman universal family over
    Z_p (Spark ML's own MinHashLSH uses the same shape with a ~2³¹
    prime): the map wraps ~a times and mixes properly.  Measured on
    planted-overlap pairs: MAE 0.038 / max 0.153, statistically
    identical to a two-round-M61 construction (0.036 / 0.161) at the
    Broder σ≈1/√64 noise floor, at half the arithmetic.  Products stay
    under 2⁶², so both engines compute identical values in plain
    64-bit integers."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MOD31, num_perm)
    b = rng.integers(0, MOD31, num_perm)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _perm(h: Column, a: int, b: int) -> Column:
    # a, h%MOD31 < 2^31 → product < 2^62: no 64-bit overflow in either
    # engine; modulus == coefficient range, see perm_constants
    return (F.lit(a).cast("long") * (h % F.lit(MOD31)) + F.lit(b).cast("long")) % F.lit(
        MOD31
    )


def _perm_sql(h: str, a: int, b: int) -> str:
    return f"(({a}::BIGINT * ({h} % {MOD31}) + {b}::BIGINT) % {MOD31})"


# shingle hashes compose NUMERICALLY from per-word md5 hashes (shingle
# strings were a measured ~20× slowdown): two independent 31-bit
# polynomial states over the k word hashes, concatenated to 62 bits.
# Every intermediate stays under 2^63, so Spark longs and DuckDB BIGINTs
# compute identical values with no overflow in either engine.
_POLY_C1 = 1000003
_POLY_C2 = 100000007


def _compose_hash(word_hashes: list[Column]) -> Column:
    s1 = F.lit(0).cast("long")
    s2 = F.lit(0).cast("long")
    for wh in word_hashes:
        # coalesce: a shingle window that runs past the word array (short
        # doc) reads NULL word hashes — fold them as 0, identically in SQL
        m = F.coalesce(wh, F.lit(0).cast("long")) % F.lit(MOD31)
        s1 = (s1 * F.lit(_POLY_C1) + m) % F.lit(MOD31)
        s2 = (s2 * F.lit(_POLY_C2) + m) % F.lit(MOD31)
    return s1 * F.lit(1 << 31).cast("long") + s2


def _compose_hash_sql(terms: list[str]) -> str:
    s1, s2 = "0::BIGINT", "0::BIGINT"
    for t in terms:
        m = f"(coalesce({t}, 0::BIGINT) % {MOD31})"
        s1 = f"(({s1} * {_POLY_C1} + {m}) % {MOD31})"
        s2 = f"(({s2} * {_POLY_C2} + {m}) % {MOD31})"
    return f"({s1} * {1 << 31}::BIGINT + {s2})"


# ---------------------------------------------------------------------------
# bounded candidate generation (shared by the verify-style families)
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
# oracles): a row is dropped iff a verified-similar representative with
# a LOWER id shares one of its buckets.  For buckets smaller than
# ``candidate_cap`` most ids are their own cell's minimum, so this
# degrades toward full pairwise; for hot buckets the comparison set is
# the cap.  Duplicates cluster, so representatives (lowest ids spread
# pseudo-randomly by the md5 cell hash) catch them; a lost drop needs a
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
# MinHash


def shingles_col(text: Column | str, k: int = 5) -> Column:
    """Distinct word-k-shingles of the normalized text (k-word windows)."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(normalize_for_fingerprint(c), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    )


def shingle_hashes(text: Column | str, k: int = 5, family: str = "xxhash64") -> Column:
    """Distinct 64-bit hashes of the word-k-shingles.

    ``xxhash64``: composed NUMERICALLY — words are hashed once, then
    each shingle hash is ``xxhash64`` of the k word-hash longs; the
    shingle strings are never materialized (word-salad shingle strings
    were the dominant allocation in the dedup hot path; longs keep the
    interpreted HOF pass GC-light, which is what lets the stage scale
    with cores).

    ``md5``: also numeric — each word is hashed once with
    :func:`md5_long` and shingle hashes compose via
    :func:`_compose_hash` (two 31-bit polynomial states → 62 bits);
    no shingle strings are materialized in this family either.  The
    DuckDB oracle replays the identical composition (spec path)."""
    c = F.col(text) if isinstance(text, str) else text
    from greatex_spark.functions.exprs import let

    words = F.split(normalize_for_fingerprint(c), " ")
    word_hash = (lambda w: md5_long(w)) if family == "md5" else (lambda w: F.xxhash64(w))
    def grams(wh: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(wh) - k, F.lit(0)))
        # try_element_at: a shingle window that runs past the word array
        # (doc shorter than k words) reads NULL — _compose_hash folds
        # NULLs as 0, exactly like the DuckDB twin's out-of-range list
        # index.  Plain element_at is an ERROR under ANSI, which made
        # short documents crash the whole dedup stage.
        if family == "md5":
            shingle = lambda i: _compose_hash(  # noqa: E731
                [F.try_element_at(wh, i + j + 1) for j in range(k)]
            )
        else:
            shingle = lambda i: F.xxhash64(  # noqa: E731
                *[F.try_element_at(wh, i + j + 1) for j in range(k)]
            )
        return F.array_distinct(F.transform(idx, shingle))

    return let(F.transform(words, word_hash), grams)


def minhash_signature(
    text: Column | str,
    num_perm: int = 64,
    shingle_k: int = 5,
    family: str = "xxhash64",
) -> Column:
    """Array of ``num_perm`` min-hashes.  Permutation *i* is
    ``xxhash64(lit(i), shingle_hash)`` for the xxhash64 family, or the
    literal Carter-Wegman map ``(aᵢ·(h mod p) + bᵢ) mod p`` with
    ``p = 2³¹−1`` for the md5 family (see :func:`perm_constants` for
    why the modulus must equal the coefficient range) — independent
    hash functions from one seeded family, evaluated entirely in JVM
    expressions.

    The base shingle-hash array is **let-bound** (see
    :mod:`greatex_spark.functions.exprs`): it is evaluated once per row,
    and the ``num_perm`` permutations only re-hash cheap longs.  Without
    this, Catalyst inlines the shingle expression into every permutation
    lambda — a measured ~50× blowup."""
    from greatex_spark.functions.exprs import let

    base = shingle_hashes(text, shingle_k, family)
    if family == "md5":
        # constants as literal arrays indexed per permutation: ONE nested
        # transform instead of num_perm unrolled subtrees — the unrolled
        # form was a measured ~3× slowdown from sheer interpreted-plan
        # size, with identical values
        consts = perm_constants(num_perm)
        arr_a = F.array(*[F.lit(a).cast("long") for a, _ in consts])
        arr_b = F.array(*[F.lit(b).cast("long") for _, b in consts])
        return let(
            base,
            lambda bh: F.transform(
                F.sequence(F.lit(0), F.lit(num_perm - 1)),
                lambda i: F.array_min(
                    F.transform(
                        bh,
                        lambda h: (
                            F.element_at(arr_a, i + 1) * (h % F.lit(MOD31))
                            + F.element_at(arr_b, i + 1)
                        )
                        % F.lit(MOD31),
                    )
                ),
            ),
        )
    return F.element_at(
        F.transform(
            F.array(base),
            lambda bh: F.transform(
                F.sequence(F.lit(0), F.lit(num_perm - 1)),
                lambda i: F.array_min(F.transform(bh, lambda b: F.xxhash64(i, b))),
            ),
        ),
        1,
    )


def band_hashes(
    text: Column | str,
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    family: str = "xxhash64",
) -> Column:
    """LSH band-bucket hashes: the signature is let-bound (see
    :func:`minhash_signature`) so it is computed once, not per band."""
    from greatex_spark.functions.exprs import let

    r = num_perm // num_bands
    sig = minhash_signature(text, num_perm, shingle_k, family)
    if family == "md5":
        return let(
            sig,
            lambda s: F.array(
                *[
                    md5_long(
                        F.array_join(
                            F.transform(
                                F.slice(s, b * r + 1, r), lambda x: x.cast("string")
                            ),
                            ",",
                        )
                    )
                    for b in range(num_bands)
                ]
            ),
        )
    return F.element_at(
        F.transform(
            F.array(sig),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.xxhash64(b, F.array_join(F.slice(s, b * r + 1, r), ",")),
            ),
        ),
        1,
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    family: str = "md5",
    survivor_join: str = "semi",
) -> DataFrame:
    """Drop near-duplicates: a row survives iff its id is the minimum of
    every LSH band bucket it lands in.

    ``num_perm=64, num_bands=16`` → r=4 rows/band; the Jaccard s-curve
    crosses 0.5 near s ≈ (1/b)^(1/r) ≈ 0.5.

    The default ``md5`` family is the oracle-replayable spec
    (:func:`minhash_lsh_dedup_duckdb_sql`); pass ``family="xxhash64"``
    for the GC-light pipeline hot path.

    Survivor selection is ONE aggregation chain, no window and no
    self-join: a doc lands in exactly ``num_bands`` distinct
    (band, bucket) keys, so *id is the min of every one of its buckets*
    ⟺ *id appears as a bucket-min exactly ``num_bands`` times*.  The
    banded projection (the expensive signature pass) is computed once;
    the only wide exchange is the bucket-min aggregate, collapsed by
    map-side partial combine to one row per distinct bucket; nothing
    buffers whole buckets (hot boilerplate buckets stream through the
    partial min).

    ``survivor_join`` picks how survivors rejoin the full rows:

    - ``"semi"`` (default, the spec): ``df ⋉ survivors`` — one hash
      join keyed on id.  Right choice when a large fraction of the
      corpus is duplicate (raw crawls), since the survivor set is the
      smaller side there.
    - ``"anti"``: ``df ▷ (ids − survivors)`` — the DROPPED-id set is
      joined instead.  On quality-filtered web text the near-dup rate
      is a few percent, so the drop set is tiny and AQE broadcasts it:
      the text-carrying rows never shuffle at all (measured: the
      survivor semi-join was the non-scaling phase of the 1→4-executor
      pipeline run).  Results are identical — parity-pinned by pytest.
    """
    if num_perm % num_bands:
        raise ValueError("num_perm must be divisible by num_bands")
    rows_per_band = num_perm // num_bands
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            band_hashes(F.col(text_col), num_perm, num_bands, shingle_k, family)
        ).alias("__band", "__bucket"),
    )
    reps = (
        banded.groupBy("__band", "__bucket")
        .agg(F.min("__id").alias("__bmin"))
        .groupBy("__bmin")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == num_bands)
        .select(F.col("__bmin").alias(id_col))
    )
    if survivor_join == "anti":
        # ids − survivors: long-only columns end to end; the final anti
        # join's build side is the (small) drop set, so the wide rows
        # stream through map-side only.  The broadcast HINT (not AQE) is
        # load-bearing: AQE's runtime SMJ→BHJ conversion happens only
        # after both sides' exchanges are already materialized, so
        # without the hint the full text rows are still shuffle-WRITTEN
        # once (measured 126 MB at 480k pages on the 4-executor cluster
        # — the dedup phase's main scaling drag); with it the planner
        # never exchanges the wide rows at all
        drops = (
            df.select(F.col(id_col)).distinct()
            .join(reps, on=id_col, how="left_anti")
        )
        return df.join(F.broadcast(drops), on=id_col, how="left_anti")
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# SimHash


def _simhash_masks(num_bits: int) -> Column:
    return F.array(
        *[
            F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
            for i in range(num_bits)
        ]
    )


def simhash64(text: Column | str, family: str = "xxhash64") -> Column:
    """SimHash over word hashes — pure higher-order expressions.

    bit_i(simhash) = 1  iff  count over words of bit_i(hash(word))
    exceeds n_words/2.  ONE pass over the word-hash array: the per-bit
    counters live in a per-bit accumulator array updated by a nested
    ``zip_with`` against literal bit masks (HOFs are interpreted, so a
    per-bit ``aggregate`` would re-hash every word 64 times).

    ``xxhash64`` family → 64 bits; ``md5`` family → 60 bits (the
    md5-derived word hash is 60 bits, and 60 = 4 bands × 15 stays
    oracle-replayable — see :func:`simhash_dedup_duckdb_sql`)."""
    from greatex_spark.functions.exprs import let

    num_bits = 60 if family == "md5" else 64
    c = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(normalize_for_fingerprint(c), " "), lambda w: w != F.lit(""))
    masks = _simhash_masks(num_bits)
    word_hash = (lambda w: md5_long(w)) if family == "md5" else (lambda w: F.xxhash64(w))

    def from_hashes(hashes: Column) -> Column:
        n = F.size(hashes)
        counts = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0).cast("long"), num_bits),
            lambda acc, h: F.zip_with(
                acc, masks, lambda a, m: a + (h.bitwiseAND(m) != 0).cast("long")
            ),
        )
        return F.aggregate(
            F.zip_with(
                counts,
                masks,
                lambda cnt, m: F.when(cnt * 2 > n, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc.bitwiseOR(v),
        )

    return let(F.transform(words, word_hash), from_hashes)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    family: str = "md5",
    candidate_cap: int | None = 64,
) -> DataFrame:
    """SimHash near-dup filter, candidate-generate + verify:

    1. signature computed ONCE per row (own projection);
    2. candidates = each row × the ≤``candidate_cap`` representatives
       of any band bucket it shares (pigeonhole: a pair with Hamming ≤ 3
       shares at least one of the four bands — so a near-dup of a
       representative is always caught; see the bounded-candidate note
       above);
    3. verify with an exact popcount on the XOR of full signatures;
    4. drop a row iff a verified lower-id representative exists.

    The band exchange shuffles only (id, band, bucket, sig) rows; the
    representative step is a plain aggregation, so no task ever
    materializes a hot bucket."""
    band_bits = 15 if family == "md5" else 16
    band_mask = (1 << band_bits) - 1
    sigs = df.select(
        F.col(id_col).alias("__id"), simhash64(text_col, family).alias("__sim")
    )
    banded = sigs.select(
        "__id",
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sim"), b * band_bits).bitwiseAND(
                        F.lit(band_mask)
                    )
                    for b in range(4)
                ]
            )
        ).alias("__band", "__bucket"),
    )
    reps = bucket_representatives(
        banded, ["__band", "__bucket"], "__id", candidate_cap
    ).join(
        sigs.select(F.col("__id").alias("__rep_id"), F.col("__sim").alias("__rsim")),
        on="__rep_id",
    )
    dropped = (
        banded.join(reps, on=["__band", "__bucket"])
        .where(F.col("__id") > F.col("__rep_id"))
        .where(
            F.bit_count(F.col("__sim").bitwiseXOR(F.col("__rsim"))) <= max_hamming
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


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


def ngram_hash_set(text: Column | str, n: int = 3, family: str = "md5") -> Column:
    """Distinct hashes of the word-n-gram set — the compact identity a
    candidate pair is verified on (jaccard on hash sets equals jaccard
    on gram sets up to hash collisions; spec semantics).  Gram hashes
    compose numerically from per-word hashes (empty words filtered, as
    in :func:`ngram_set`) — no gram strings are materialized."""
    from greatex_spark.functions.exprs import let

    c = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(normalize_for_fingerprint(c), " "), lambda w: w != F.lit(""))
    word_hash = (lambda w: md5_long(w)) if family == "md5" else (lambda w: F.xxhash64(w))

    def grams(wh: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(wh) - n, F.lit(0)))
        # try_element_at, as in shingle_hashes: short (or fully-filtered)
        # docs read NULL word hashes, folded as 0 like the SQL twin
        if family == "md5":
            gram = lambda i: _compose_hash(  # noqa: E731
                [F.try_element_at(wh, i + j + 1) for j in range(n)]
            )
        else:
            gram = lambda i: F.xxhash64(  # noqa: E731
                *[F.try_element_at(wh, i + j + 1) for j in range(n)]
            )
        return F.array_distinct(F.transform(idx, gram))

    return let(F.transform(words, word_hash), grams)


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    num_bands: int = 8,
    family: str = "md5",
    candidate_cap: int | None = 64,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification:
    drop a row iff a lower-id verified representative shares one of its
    band buckets (≤``candidate_cap`` representatives per bucket — see
    the bounded-candidate note above; ``None`` = exact all-pairs).

    Scale path: the band exchange carries ONLY (id, bucket) — document
    text never enters a shuffle — and the representative step is a
    plain aggregation, so hot buckets never materialize.  Candidate
    id-pairs (few) then join the per-doc n-gram *hash set* table twice
    to verify; the gram-hash arrays are the only wide payload shuffled,
    and only once each."""
    dropped = (
        ngram_jaccard_pairs(
            df, text_col, id_col, n, threshold, num_perm, num_bands, family,
            candidate_cap,
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    num_bands: int = 8,
    family: str = "md5",
    candidate_cap: int | None = 64,
) -> DataFrame:
    """The verified near-duplicate EDGES of :func:`ngram_jaccard_dedup`:
    ``(__ida, __idb)`` pairs (``__ida > __idb``) whose exact n-gram
    Jaccard meets ``threshold`` among LSH band candidates.  The dedup
    operator drops ``distinct __ida``; :func:`cluster.duplicate_clusters`
    instead closes these edges transitively into duplicate clusters."""
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            band_hashes(F.col(text_col), num_perm, num_bands, shingle_k=n, family=family)
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
        F.col(id_col).alias("__gid"), ngram_hash_set(F.col(text_col), n, family).alias("__grams")
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


# ---------------------------------------------------------------------------
# DuckDB oracle twins (md5 family).  Each generator replays the exact
# md5-family decision procedure in SQL: same normalization, same 60-bit
# md5 hashes, same literal permutation constants, same survivor rule.


def _norm_sql(text_col: str) -> str:
    return _DD_NORM.format(c=text_col)


def shingles_select_sql(table: str, id_col: str, text_col: str, k: int) -> str:
    """SELECT body producing ``({id_col}, h)`` where ``h`` is the
    distinct md5-family word-k-shingle hash list — the DuckDB twin of
    :func:`shingle_hashes` with ``family="md5"`` (shared by the minhash
    dedup and minhash accuracy oracles)."""
    words = f"string_split({_norm_sql(text_col)}, ' ')"
    shingle = _compose_hash_sql([f"wh[i + {j}]" for j in range(k)])
    return (
        f"SELECT {id_col}, "
        f"list_distinct(list_transform("
        f"range(1, greatest(len(wh) - {k}, 0) + 2), i -> {shingle})) AS h "
        f"FROM (SELECT {id_col}, "
        f"list_transform({words}, w -> {md5_long_sql('w')}) AS wh FROM {table})"
    )


def _minhash_ctes_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_perm: int,
    num_bands: int,
    shingle_k: int,
) -> str:
    """CTEs ``__sh`` (shingle hashes), ``__sig`` (signature), ``__banded``
    (one row per band with the bucket hash) — the SQL twin of
    :func:`band_hashes` with ``family="md5"``."""
    r = num_perm // num_bands
    sh = shingles_select_sql(table, id_col, text_col, shingle_k)
    sig_elems = ", ".join(
        f"list_min(list_transform(h, x -> {_perm_sql('x', a, b)}))"
        for a, b in perm_constants(num_perm)
    )
    sig = f"SELECT {id_col}, [{sig_elems}] AS s FROM __sh"
    band_selects = []
    for b in range(num_bands):
        joined = (
            f"array_to_string(list_transform(s[{b * r + 1}:{b * r + r}], "
            f"x -> x::VARCHAR), ',')"
        )
        band_selects.append(
            f"SELECT {id_col}, {b} AS band, {md5_long_sql(joined)} AS bucket FROM __sig"
        )
    banded = "\nUNION ALL ".join(band_selects)
    # __sig MUST be materialized: __banded references it once per band,
    # and an inlined CTE would recompute the full signature num_bands
    # times (measured 12 s -> ~1 s on a 1.9k-doc oracle replay)
    return (
        f"__sh AS MATERIALIZED ({sh}),\n"
        f"__sig AS MATERIALIZED ({sig}),\n__banded AS ({banded})"
    )


def minhash_lsh_dedup_duckdb_sql(
    select_cols: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
) -> str:
    """Oracle for :func:`minhash_lsh_dedup` (md5 family): a row survives
    iff it is the bucket min in exactly ``num_bands`` buckets (⟺ min of
    every bucket it lands in)."""
    ctes = _minhash_ctes_sql(table, id_col, text_col, num_perm, num_bands, shingle_k)
    return f"""
WITH {ctes},
__mins AS (
  SELECT band, bucket, min({id_col}) AS bmin FROM __banded GROUP BY band, bucket),
__reps AS (
  SELECT bmin FROM __mins GROUP BY bmin HAVING count(*) = {num_bands})
SELECT {select_cols} FROM {table} t
JOIN __reps r ON t.{id_col} = r.bmin
"""


def simhash_dedup_duckdb_sql(
    select_cols: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    candidate_cap: int | None = 64,
) -> str:
    """Oracle for :func:`simhash_dedup` (md5 family, 60-bit signature,
    4 bands × 15 bits, same bounded-representative candidates)."""
    words = (
        f"list_filter(string_split({_norm_sql(text_col)}, ' '), w -> w != '')"
    )
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> ((x >> {i}) & 1) = 1)) > len(h) "
        f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(60)
    )
    bands = "\nUNION ALL ".join(
        f"SELECT {id_col}, sim, {b} AS band, (sim >> {b * 15}) & 32767 AS bucket "
        f"FROM __sim"
        for b in range(4)
    )
    return f"""
WITH __wh AS (
  SELECT {id_col}, list_transform({words}, w -> {md5_long_sql('w')}) AS h
  FROM {table}),
__sim AS (SELECT {id_col}, ({terms}) AS sim FROM __wh),
__banded AS ({bands}),
__reps AS ({_reps_cte_sql('__banded', 'band, bucket', id_col, candidate_cap)}),
__rsig AS (
  SELECT r.band, r.bucket, r.rid, s.sim AS rsim
  FROM __reps r JOIN __sim s ON s.{id_col} = r.rid),
__dropped AS (
  SELECT DISTINCT l.{id_col} AS did
  FROM __banded l JOIN __rsig r
    ON l.band = r.band AND l.bucket = r.bucket AND l.{id_col} > r.rid
  WHERE bit_count(xor(l.sim, r.rsim)) <= {max_hamming})
SELECT {select_cols} FROM {table} t
WHERE t.{id_col} NOT IN (SELECT did FROM __dropped)
"""


def ngram_jaccard_dedup_duckdb_sql(
    select_cols: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    num_bands: int = 8,
    candidate_cap: int | None = 64,
) -> str:
    """Oracle for :func:`ngram_jaccard_dedup` (md5 family): LSH band
    candidates against bounded bucket representatives + exact jaccard
    on the n-gram hash sets."""
    ctes = ngram_jaccard_pairs_duckdb_ctes(
        table, id_col, text_col, n, threshold, num_perm, num_bands, candidate_cap
    )
    return f"""
WITH {ctes},
__dropped AS (SELECT DISTINCT ida AS did FROM __vpairs)
SELECT {select_cols} FROM {table} t
WHERE t.{id_col} NOT IN (SELECT did FROM __dropped)
"""


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
    SQL twin of :func:`ngram_jaccard_pairs`; shared by the dedup oracle
    and the duplicate-cluster oracle."""
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
        shingle_hashes(F.col(text_col), shingle_k, family="md5").alias("__sh"),
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
