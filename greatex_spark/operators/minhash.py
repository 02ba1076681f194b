"""MinHash + LSH near-duplicate removal (Broder 1997): the pipeline's
dedup stage and its DuckDB twin.

shingles → permuted min-hashes → band buckets → one survivor
aggregation.  A doc is dropped iff some LSH band bucket contains a
lower-id doc — the standard scalable approximation (no transitive-
closure pass; documented semantics).

Hash families (``family=`` on the MinHash builders):

- ``"md5"`` (the SPEC): 60-bit hashes from the first 15 hex chars of
  md5 — md5 exists in BOTH Spark and DuckDB with identical output, so
  every dedup decision replays in the SQL oracle
  (:func:`minhash_lsh_dedup_duckdb_sql`).  Permutations are
  Carter-Wegman arithmetic ``(a·(h mod p) + b) mod p``, ``p = 2³¹−1``,
  with seeded literal constants — overflow-free in both engines' BIGINT.
- ``"xxhash64"``: Spark-native word hashes — the faster hot path the
  pipeline runs, not oracle-replayable (DuckDB has no xxhash64).
  Signatures and band keys of this family come from one numpy Arrow
  batch kernel (:func:`minhash_batch`) that replays Spark's XxHash64
  bit for bit.

Both are deterministic across partitions, cluster sizes, and Spark
versions.  The md5 hash helpers here are also the shared hash family
of the other corpus operators (:mod:`greatex_spark.operators.dedup`,
line and substring dedup, sampling, the quality classifier).

Scale notes (10^12 docs): the only shuffles are (a) the band-bucket
exchange, whose width is ``num_bands × docs`` small rows (doc_id +
two longs), and (b) the per-doc min-reduction — both key-partitioned
with AQE skew splitting enabled (hot buckets from boilerplate text
are real; see ``session.py``).  Signatures are computed in one
projection; md5 shingling never materializes more than one doc's
shingle array at a time, and the xxhash64 kernel holds one Arrow
batch's shingle hashes (one long each) and permutes them in blocks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from greatex_spark.functions.exprs import let
from greatex_spark.functions.textstats import normalize_for_fingerprint


# ---------------------------------------------------------------------------
# md5-derived hash family (oracle-replayable)

MOD31 = 2147483647  # 2^31 - 1

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


def _perm_sql(h: str, a: int, b: int) -> str:
    # a, h%MOD31 < 2^31 → product < 2^62: no 64-bit overflow in either
    # engine; modulus == coefficient range, see perm_constants
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


def shingle_hashes(text: Column | str, k: int = 5) -> Column:
    """Distinct md5-family hashes of the word-k-shingles: each word is
    hashed once with :func:`md5_long` and shingle hashes compose via
    :func:`_compose_hash` (two 31-bit polynomial states → 62 bits); no
    shingle strings are materialized.  The DuckDB oracle replays the
    identical composition (:func:`shingles_select_sql`)."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(normalize_for_fingerprint(c), " ")

    def grams(wh: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(wh) - k, F.lit(0)))
        # try_element_at: a shingle window that runs past the word array
        # (doc shorter than k words) reads NULL — _compose_hash folds
        # NULLs as 0, exactly like the DuckDB twin's out-of-range list
        # index.  Plain element_at is an ERROR under ANSI, which made
        # short documents crash the whole dedup stage.
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: _compose_hash(
                    [F.try_element_at(wh, i + j + 1) for j in range(k)]
                ),
            )
        )

    return let(F.transform(words, lambda w: md5_long(w)), grams)


# ---------------------------------------------------------------------------
# xxhash64 family: one numpy batch kernel per Arrow batch.
#
# The word hashes stay ``F.xxhash64`` in the JVM; everything after them
# (k-word shingles, ``num_perm`` permutation minima, band keys) is
# Spark's XxHash64 replayed on uint64 arrays.  Spark folds each argument
# of ``xxhash64(a, b, ...)`` into a running hash that starts at seed 42:
# an int through ``hashInt``, a long through ``hashLong``, a NULL not at
# all.  So shingle i of a document is ``xxhash64(w_i, ..., w_{i+k-1})``
# (a window past the last word folds only the words it has), permutation
# p is ``xxhash64(int p, shingle)`` and band b is
# ``xxhash64(int b, s_{br}, ..., s_{br+r-1})`` over the signed-min
# signature.  The tests pin the signatures bit-equal to those Spark
# expressions.

_XXH_SEED = 42
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
# shingles per kernel block: keeps the (num_perm × block) work arrays
# cache-resident (the permutation step ran 1.9× faster than with 8192
# on a 4-vCPU x86 host)
_BLOCK = 2048


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxh64_int(value: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark ``XXH64.hashInt`` on uint64 arrays (wrap-around arithmetic)."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(4)
        h = h ^ ((value & np.uint64(0xFFFFFFFF)) * _P1)
        return _fmix(_rotl(h, 23) * _P2 + _P3)


def _long_term(value: np.ndarray) -> np.ndarray:
    # the seed-independent half of hashLong: shared by every permutation
    with np.errstate(over="ignore"):
        return _rotl(value * _P2, 31) * _P1


def _long_with_term(term: np.ndarray, seed: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = (seed + _P5 + np.uint64(8)) ^ term
        return _fmix(_rotl(h, 27) * _P1 + _P4)


def xxh64_long(value: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark ``XXH64.hashLong`` on uint64 arrays (wrap-around arithmetic)."""
    return _long_with_term(_long_term(value), seed)


def _int_seeds(count: int) -> np.ndarray:
    """``xxhash64(int i)`` for i < count: the running hash after the int."""
    return xxh64_int(
        np.arange(count, dtype=np.uint64), np.full(count, _XXH_SEED, np.uint64)
    )


def _shingles(word_hashes: pa.Array, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(shingle hashes, first-shingle offset per document).  A document
    of n words has max(n - k, 0) + 1 shingles; a NULL word array counts
    as no words, exactly like the Spark expression."""
    n_words = word_hashes.value_lengths().fill_null(0).to_numpy().astype(np.int64)
    words = pc.list_flatten(word_hashes).to_numpy().view(np.uint64)
    term = _long_term(words if len(words) else np.zeros(1, np.uint64))
    word_end = np.cumsum(n_words)
    n_sh = np.maximum(n_words - k, 0) + 1
    sh_off = np.concatenate([[0], np.cumsum(n_sh)])
    doc = np.repeat(np.arange(len(n_words)), n_sh)
    first = (word_end - n_words)[doc] + (np.arange(sh_off[-1]) - sh_off[doc])
    end = word_end[doc]
    h = np.full(len(doc), _XXH_SEED, np.uint64)
    for j in range(k):
        pos = first + j
        h = np.where(pos < end, _long_with_term(term[np.minimum(pos, len(term) - 1)], h), h)
    return h, sh_off


def minhash_batch(
    word_hashes: pa.Array, num_perm: int, k: int, num_bands: int | None = None
) -> pa.Array:
    """MinHash signatures (``num_bands=None``) or LSH band keys of one
    Arrow batch of per-document ``xxhash64`` word-hash arrays."""
    shingles, sh_off = _shingles(word_hashes, k)
    term = _long_term(shingles)
    perm_seeds = _int_seeds(num_perm)[:, None]
    sig = np.empty((len(sh_off) - 1, num_perm), np.int64)
    # blocks end on document boundaries, so each reduceat segment is one
    # document's shingles; the min is signed, as Spark's array_min
    d0 = 0
    while d0 < len(sig):
        d1 = max(int(np.searchsorted(sh_off, sh_off[d0] + _BLOCK, "right")) - 1, d0 + 1)
        lo, hi = sh_off[d0], sh_off[d1]
        perms = _long_with_term(term[None, lo:hi], perm_seeds).view(np.int64)
        sig[d0:d1] = np.minimum.reduceat(perms, sh_off[d0:d1] - lo, axis=1).T
        d0 = d1
    if num_bands is None:
        out = sig
    else:
        r = num_perm // num_bands
        h = np.broadcast_to(_int_seeds(num_bands), (len(sig), num_bands))
        bands = sig.view(np.uint64).reshape(len(sig), num_bands, r)
        for j in range(r):
            h = xxh64_long(bands[:, :, j], h)
        out = h.view(np.int64)
    return pa.FixedSizeListArray.from_arrays(pa.array(out.ravel()), out.shape[1]).cast(
        pa.list_(pa.int64())
    )


def _minhash_udf(num_perm: int, k: int, num_bands: int | None):
    @arrow_udf(T.ArrayType(T.LongType()))
    def minhash_xxhash64(word_hashes: pa.Array) -> pa.Array:
        return minhash_batch(word_hashes, num_perm, k, num_bands)

    return minhash_xxhash64


def _xxhash64_word_hashes(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.transform(F.split(normalize_for_fingerprint(c), " "), lambda w: F.xxhash64(w))


# ---------------------------------------------------------------------------
# signatures, band keys and the dedup operator


def minhash_signature(
    text: Column | str,
    num_perm: int = 64,
    shingle_k: int = 5,
    family: str = "xxhash64",
) -> Column:
    """Array of ``num_perm`` min-hashes.  Permutation *i* is
    ``xxhash64(int i, shingle_hash)`` for the xxhash64 family (computed
    by the Arrow batch kernel :func:`minhash_batch`), or the literal
    Carter-Wegman map ``(aᵢ·(h mod p) + bᵢ) mod p`` with ``p = 2³¹−1``
    for the md5 family (see :func:`perm_constants` for why the modulus
    must equal the coefficient range), evaluated in JVM expressions.

    md5: the base shingle-hash array is **let-bound** (see
    :mod:`greatex_spark.functions.exprs`): it is evaluated once per row,
    and the ``num_perm`` permutations only re-hash cheap longs.  Without
    this, Catalyst inlines the shingle expression into every permutation
    lambda — a measured ~50× blowup."""
    if family != "md5":
        return _minhash_udf(num_perm, shingle_k, None)(_xxhash64_word_hashes(text))
    # constants as literal arrays indexed per permutation: ONE nested
    # transform instead of num_perm unrolled subtrees — the unrolled
    # form was a measured ~3× slowdown from sheer interpreted-plan
    # size, with identical values
    consts = perm_constants(num_perm)
    arr_a = F.array(*[F.lit(a).cast("long") for a, _ in consts])
    arr_b = F.array(*[F.lit(b).cast("long") for _, b in consts])
    return let(
        shingle_hashes(text, shingle_k),
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


def band_hashes(
    text: Column | str,
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    family: str = "xxhash64",
) -> Column:
    """LSH band-bucket hashes.  xxhash64: numeric band keys
    ``xxhash64(int b, s_1, ..., s_r)`` straight from the Arrow kernel
    (one crossing for shingles, signature and bands).  md5: the
    signature is let-bound (see :func:`minhash_signature`) so it is
    computed once, not per band."""
    if family != "md5":
        return _minhash_udf(num_perm, shingle_k, num_bands)(_xxhash64_word_hashes(text))
    r = num_perm // num_bands
    return let(
        minhash_signature(text, num_perm, shingle_k, family),
        lambda s: F.array(
            *[
                md5_long(
                    F.array_join(
                        F.transform(F.slice(s, b * r + 1, r), lambda x: x.cast("string")),
                        ",",
                    )
                )
                for b in range(num_bands)
            ]
        ),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    family: str = "md5",
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

    The rows rejoin through the DROPPED ids (``ids − survivors``), not
    the survivors: on quality-filtered web text the near-dup rate is a
    few percent, so the drop set is small and broadcast, and the
    text-carrying rows never shuffle.  On a raw crawl with a high
    near-dup rate the broadcast set grows with it.

    A NULL text has no shingles, so its row lands in no bucket: it is
    nobody's near-duplicate and always survives.
    """
    if num_perm % num_bands:
        raise ValueError("num_perm must be divisible by num_bands")
    text = F.col(text_col)
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.when(
                text.isNotNull(),
                band_hashes(text, num_perm, num_bands, shingle_k, family),
            )
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
    # ids − survivors: long-only columns end to end; the final join's
    # build side is the (small) drop set, so the wide rows stream through
    # map-side only.  The broadcast HINT (not AQE) is load-bearing: AQE's
    # runtime SMJ→BHJ conversion happens only after both sides' exchanges
    # are already materialized, so without the hint the full text rows
    # are still shuffle-WRITTEN once (measured 126 MB at 480k pages on
    # the 4-executor cluster — the dedup phase's main scaling drag); with
    # it the planner never exchanges the wide rows at all
    drops = F.broadcast(
        df.select(F.col(id_col)).distinct()
        .join(reps, on=id_col, how="left_anti")
        .select(F.col(id_col).alias("__match"))
    )
    # a left join (not an anti join), so that bucketless rows, which are
    # in no bucket-min set, are kept; the predicate reads the text the
    # returned rows carry anyway
    return (
        df.join(drops, F.col(id_col) == F.col("__match"), how="left")
        .where(F.col("__match").isNull() | text.isNull())
        .drop("__match")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin (md5 family): same normalization, same 60-bit md5
# hashes, same literal permutation constants, same survivor rule.


def _norm_sql(text_col: str) -> str:
    return _DD_NORM.format(c=text_col)


def shingles_select_sql(table: str, id_col: str, text_col: str, k: int) -> str:
    """SELECT body producing ``({id_col}, h)`` where ``h`` is the
    distinct md5-family word-k-shingle hash list — the DuckDB twin of
    :func:`shingle_hashes` (shared by the minhash dedup and minhash
    accuracy oracles)."""
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
    every bucket it lands in), or its text is NULL (no buckets)."""
    texts = f"(SELECT * FROM {table} WHERE {text_col} IS NOT NULL)"
    ctes = _minhash_ctes_sql(texts, id_col, text_col, num_perm, num_bands, shingle_k)
    return f"""
WITH {ctes},
__mins AS (
  SELECT band, bucket, min({id_col}) AS bmin FROM __banded GROUP BY band, bucket),
__reps AS (
  SELECT bmin FROM __mins GROUP BY bmin HAVING count(*) = {num_bands})
SELECT {select_cols} FROM {table} t
LEFT JOIN __reps r ON t.{id_col} = r.bmin
WHERE r.bmin IS NOT NULL OR t.{text_col} IS NULL
"""
