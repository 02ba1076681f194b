"""Tests for the quality-rule function layer: heuristics, PII scrub
(byte-identity across Spark/Python/DuckDB), langid, perplexity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from greatex_spark.expectations import run_suite
from greatex_spark.functions.heuristics import (
    gopher_keep_condition,
    gopher_quality_suite,
    with_quality_features,
)
from greatex_spark.functions.langid import langid_py, with_langid
from greatex_spark.functions.perplexity import log_perplexity_py, with_perplexity
from greatex_spark.functions.pii import (
    PII_PATTERNS,
    pii_count,
    scrub_pii,
    scrub_pii_duckdb_sql,
    scrub_pii_py,
)
from greatex_spark.functions.textstats import (
    bpe_token_count,
    detect_lang,
    detect_lang_duckdb_sql,
    whitespace_token_count,
)

GOOD_DOC = (
    "The history of the region is long and well documented. "
    "Researchers have found that the development of trade routes was "
    "essential to the growth of early settlements, and that the exchange "
    "of goods came to define how communities were organized. Over time, "
    "the towns grew into cities with markets, schools and libraries that "
    "served people from every walk of life."
)


def test_quality_features_values(spark):
    df = spark.createDataFrame([("one two three two three two",)], "text string")
    row = with_quality_features(df).collect()[0]
    assert row.qf_n_words == 6
    assert row.qf_n_chars == 27
    assert abs(row.qf_mean_word_length - 22 / 6) < 1e-12
    # 2-grams: "one two","two three","three two","two three","three two" → 5 total, 3 distinct
    assert abs(row.qf_dup_2gram_fraction - 2 / 5) < 1e-12
    assert row.qf_stopword_count == 0


def test_gopher_keep_condition(spark):
    docs = [
        (GOOD_DOC, True),
        ("short text", False),  # too few words/chars
        ("#" * 300, False),  # symbols, no stopwords
        (("spam " * 60).strip(), False),  # no stopwords, heavy repetition
    ]
    df = spark.createDataFrame([(t,) for t, _ in docs], "text string")
    got = [r.keep for r in df.select(gopher_keep_condition().alias("keep")).collect()]
    assert got == [want for _, want in docs]


def test_gopher_suite_runs_fused(spark):
    df = spark.createDataFrame([(GOOD_DOC,), ("tiny",)], "text string")
    vr = run_suite(df, gopher_quality_suite(mostly=0.5))
    assert vr.success
    # report-only variant counts the failing doc
    first = vr.results[0].result
    assert first["element_count"] == 2 and first["unexpected_count"] == 1


PII_SAMPLES = [
    "Contact john.doe+spam@example.co.uk or call (555) 123-4567 now.",
    "SSN 123-45-6789 leaked from host 192.168.0.1 yesterday.",
    "Call 555-123-4567 or +1 555 234 5678; ip 10.0.0.255, no pii in 1234-5678.",
    "plain text without identifiers",
    "edge: a@b.io,end 999-99-9999. 1.2.3.4.5 chains",
]


def test_scrub_byte_identity_spark_python_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in PII_SAMPLES], "text string")
    got_spark = [r.s for r in df.select(scrub_pii("text").alias("s")).collect()]
    got_py = [scrub_pii_py(s) for s in PII_SAMPLES]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"select {scrub_pii_duckdb_sql('?::VARCHAR')}", [s]).fetchone()[0]
        for s in PII_SAMPLES
    ]
    assert got_spark == got_py == got_duck
    assert "<EMAIL>" in got_py[0] and "<PHONE>" in got_py[0]
    assert "<SSN>" in got_py[1] and "<IP>" in got_py[1]
    assert got_py[3] == PII_SAMPLES[3]


def test_pii_count(spark):
    df = spark.createDataFrame([(PII_SAMPLES[1],)], "text string")
    assert df.select(pii_count("text").alias("n")).collect()[0].n == 2


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("Hello, world! 42 times", "Hello,   world! 42 times")], "a string, b string"
    )
    row = df.select(
        whitespace_token_count("a").alias("ws"),
        bpe_token_count("a").alias("bpe"),
    ).collect()[0]
    assert row.ws == 4
    # tokens: Hello , world ! 42 times → 6
    assert row.bpe == 6


LANG_SENTENCES = [
    ("the cat sat on the mat and it was happy with that", "en"),
    ("der hund und die katze sind nicht auf der straße", "de"),
    ("le chien et le chat sont dans la maison pour la nuit", "fr"),
    ("el perro y el gato están en la casa para la noche del", "es"),
    ("随着时间的推移这座城市变得越来越大人们的生活也越来越好", "zh"),
]


def test_detect_lang_native_and_duckdb_agree(spark):
    df = spark.createDataFrame([(s,) for s, _ in LANG_SENTENCES], "text string")
    got = [r.l for r in df.select(detect_lang("text").alias("l")).collect()]
    assert got == [want for _, want in LANG_SENTENCES]
    con = duckdb.connect()
    duck = [
        con.execute(
            f"select {detect_lang_duckdb_sql('t')} from (select ?::VARCHAR as t)", [s]
        ).fetchone()[0]
        for s, _ in LANG_SENTENCES
    ]
    assert duck == got


def test_langid_udf_matches_reference_and_is_correct(spark):
    df = spark.createDataFrame([(s,) for s, _ in LANG_SENTENCES], "text string")
    rows = with_langid(df).collect()
    for (s, want), r in zip(LANG_SENTENCES, rows):
        ref_lang, ref_conf = langid_py(s)
        assert r.langid_lang == ref_lang == want
        assert r.langid_confidence == ref_conf
    # null/empty handling
    df2 = spark.createDataFrame([(None,), ("",)], "text string")
    rows2 = with_langid(df2).collect()
    assert all(r.langid_lang is None for r in rows2)


def test_perplexity_udf_matches_reference_and_ranks_gibberish(spark):
    gibberish = "xq zv jk qq wxp zzkt rj qqq vxz kjq wz xqz vv zzz"
    df = spark.createDataFrame([(GOOD_DOC,), (gibberish,), (None,)], "text string")
    rows = with_perplexity(df).collect()
    assert rows[0].log_ppl == log_perplexity_py(GOOD_DOC)
    assert rows[1].log_ppl == log_perplexity_py(gibberish)
    assert rows[1].log_ppl > rows[0].log_ppl  # gibberish is higher-perplexity
    assert rows[2].log_ppl is None


def test_perplexity_vectorized_batch_exactly_matches_scalar_spec():
    """The numpy hot path (_score_batch) must reproduce the per-char
    Python spec bit-for-bit: same trigram terms (math.log over identical
    IEEE arguments), same sequential left-to-right fold (np.cumsum, not
    pairwise np.sum), same final round — across edge cases (None, too
    short, unknown alphabets, astral codepoints, lower()-expanding
    chars, >512-char truncation) and across chunk boundaries."""
    import random

    from greatex_spark.functions.perplexity import _score_batch, log_perplexity_py

    rng = random.Random(11)
    vocab = ["the", "quick", "brown", "fox", "of", "data", "qualité", "中文", "x9!"]
    texts = [
        None, "", "ab", "abc", "   ", "İstanbul " * 100,
        "\U0001F600" * 600, "a b" * 400, GOOD_DOC,
        "xq zv jk qq wxp zzkt rj qqq vxz kjq wz xqz vv zzz",
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 300)))
        for _ in range(400)
    ]
    got = _score_batch(texts)
    want = [log_perplexity_py(t) for t in texts]
    assert got == want


def test_scrub_patterns_compile_everywhere():
    import re

    for name, pat, _ in PII_PATTERNS:
        re.compile(pat)  # CPython
    con = duckdb.connect()
    for name, pat, _ in PII_PATTERNS:  # RE2
        con.execute("select regexp_replace('x', ?, 'y', 'g')", [pat]).fetchone()
