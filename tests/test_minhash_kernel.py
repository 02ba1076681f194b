"""The xxhash64-family MinHash runs as a numpy Arrow batch kernel.  Its
signatures and band keys must be bit-equal to the same definition
written with Spark's own ``F.xxhash64`` expressions, built here from
scratch: shingle ``xxhash64(w_i, ..., w_{i+k-1})`` over the normalized
word hashes, permutation ``xxhash64(int p, shingle)``, signed minimum,
band ``xxhash64(int b, s_1, ..., s_r)``."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from greatex_spark.functions.exprs import let
from greatex_spark.functions.textstats import normalize_for_fingerprint
from greatex_spark.operators.minhash import (
    band_hashes,
    minhash_signature,
    xxh64_int,
    xxh64_long,
)
from greatex_spark.pages import generate_pages


def _reference_signature(text, num_perm, k):
    words = F.split(normalize_for_fingerprint(text), " ")

    def shingles(wh):
        idx = F.sequence(F.lit(0), F.greatest(F.size(wh) - k, F.lit(0)))
        return F.transform(
            idx, lambda i: F.xxhash64(*[F.try_element_at(wh, i + j + 1) for j in range(k)])
        )

    return let(
        let(F.transform(words, lambda w: F.xxhash64(w)), shingles),
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda p: F.array_min(F.transform(sh, lambda h: F.xxhash64(p, h))),
        ),
    )


def _reference_bands(text, num_perm, num_bands, k):
    r = num_perm // num_bands
    return let(
        _reference_signature(text, num_perm, k),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda b: F.xxhash64(b, *[F.element_at(s, b * r + j + 1) for j in range(r)]),
        ),
    )


def _assert_kernel_matches(frame, num_perm=64, num_bands=16, k=5):
    text = F.col("text")
    rows = frame.select(
        "id",
        _reference_signature(text, num_perm, k).alias("ref_sig"),
        minhash_signature(text, num_perm, k, family="xxhash64").alias("sig"),
        _reference_bands(text, num_perm, num_bands, k).alias("ref_bands"),
        band_hashes(text, num_perm, num_bands, k, family="xxhash64").alias("bands"),
    ).collect()
    assert rows
    for r in rows:
        assert r.sig == r.ref_sig, r.id
        assert r.bands == r.ref_bands, r.id
        assert len(r.sig) == num_perm and len(r.bands) == num_bands
    return {r.id: r for r in rows}


EDGE_TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one"),
    (5, "four words only here"),
    (6, "exactly five words in here"),
    (7, "Ünïcödé straße ÇA VA 中文字符 naïve café — emoji 🙂 text"),
    (8, "tabs\tand\nnewlines\r\nmixed  in   between words here"),
]


def test_kernel_matches_spark_on_edge_texts(spark):
    df = spark.createDataFrame(EDGE_TEXTS, "id long, text string")
    rows = _assert_kernel_matches(df)
    # NULL text reads as zero words, as in the Spark expression: one
    # shingle that is the bare seed 42, so its band keys are not NULL
    # (minhash_lsh_dedup gives NULL-text rows no buckets).  "" is one empty
    # word, a different shingle.
    assert rows[1].bands is not None
    assert rows[1].sig != rows[2].sig == rows[3].sig


@pytest.mark.parametrize("num_perm,num_bands,k", [(16, 8, 3), (64, 16, 5)])
def test_kernel_matches_spark_on_seeded_pages(spark, num_perm, num_bands, k):
    pages = generate_pages(spark, 400, seed=17).select(
        F.monotonically_increasing_id().alias("id"), "text"
    )
    _assert_kernel_matches(pages.localCheckpoint(), num_perm, num_bands, k)


def test_xxh64_finalisers_match_spark(spark):
    """The 4- and 8-byte XXH64 finalisers, with uint64 wrap-around, on
    extreme and random values and chained seeds."""
    rng = np.random.default_rng(5)
    longs = [0, 1, -1, 2**63 - 1, -(2**63)] + [int(x) for x in rng.integers(-(2**63), 2**63 - 1, 20)]
    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [int(x) for x in rng.integers(-(2**31), 2**31 - 1, 20)]
    df = spark.createDataFrame(list(zip(ints, longs)), "i int, l long")
    got = df.select(
        "i", "l",
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("i", "l").alias("hil"),
    ).collect()
    seed = np.full(len(got), 42, np.uint64)
    i = np.array([r.i for r in got], np.int64).view(np.uint64)
    l_ = np.array([r.l for r in got], np.int64).view(np.uint64)
    assert xxh64_int(i, seed).view(np.int64).tolist() == [r.hi for r in got]
    assert xxh64_long(l_, seed).view(np.int64).tolist() == [r.hl for r in got]
    chained = xxh64_long(l_, xxh64_int(i, seed))
    assert chained.view(np.int64).tolist() == [r.hil for r in got]
