"""Unit tests for the expectation compiler — clean + planted-defect rows
mirroring the reference's retail_validating defect classes
(/root/reference/source-data/clean_trial_dataset.py:8-20, FIXTURES.md F2)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from greatex_spark.expectations import Expectation, Suite, run_suite
from greatex_spark.expectations.compiler import (
    GateFailed,
    normalize_type,
    strftime_to_spark,
)
from greatex_spark.expectations.spec import E

COLUMNS = [
    "invoice_number",
    "stock_code",
    "detail",
    "quantity",
    "invoice_date",
    "unit_price",
    "customer_id",
    "country",
]


@pytest.fixture(scope="module")
def retail_clean(spark):
    rows = [
        ("INV1", "S1", "widget", 0, "2021-01-01 10:00:00", 1.5, 1001, "United Kingdom"),
        ("INV2", "S2", "gadget", 5, "2021-01-02 11:30:00", 2.25, None, "France"),
        ("INV3", "S3", None, 80000, "2021-01-03 12:00:00", 0.0, 1003, "Germany"),
        ("INV4", "S4", "thing", 7, "2021-01-04 09:15:00", 99999.0, 1004, "Unspecified"),
    ]
    return spark.createDataFrame(
        rows,
        "invoice_number string, stock_code string, detail string, quantity int, "
        "invoice_date string, unit_price double, customer_id int, country string",
    )


@pytest.fixture(scope="module")
def retail_dirty(spark):
    rows = [
        ("INV1", "S1", "widget", -3, "2021-01-01 10:00:00", -1.5, 1001, "United KingdomKingdom"),
        ("INV2", "S2", "gadget", 5, "not-a-date", 2.25, None, "RSA"),
        ("INV3", "S3", "doohickey", 80000, "2021-01-03 12:00:00", 250000.0, 1003, "Germany"),
        ("INV4", "S4", "whatsit", 4, "2021-01-04 09:00:00", 3.5, 1004, "France"),
    ]
    return spark.createDataFrame(
        rows,
        "invoice_number string, stock_code string, detail string, quantity int, "
        "invoice_date string, unit_price double, customer_id int, country string",
    )


def suite_source() -> Suite:
    # mirrors /root/reference/dags/scripts/python/retail_source.py:108-212
    return Suite.of(
        "retail_source_suite",
        E("expect_table_columns_to_match_ordered_list", column_list=COLUMNS),
        E("expect_table_row_count_to_be_between", min_value=1, max_value=100),
        E("expect_column_values_to_not_be_null", column="invoice_number"),
        E("expect_column_values_to_not_be_null", column="detail", mostly=0.7),
        E("expect_column_values_to_be_in_type_list", column="quantity",
          type_list=["INTEGER", "int64"]),
        E("expect_column_min_to_be_between", column="quantity", min_value=0, max_value=0),
        E("expect_column_max_to_be_between", column="quantity",
          min_value=50000, max_value=100000),
        E("expect_column_min_to_be_between", column="unit_price", min_value=0.0, max_value=0.0),
        E("expect_column_max_to_be_between", column="unit_price", min_value=0, max_value=100000),
        E("expect_column_values_to_be_in_set", column="country",
          value_set=["United Kingdom", "France", "Germany", "Unspecified"]),
        E("expect_column_values_to_match_strftime_format", column="invoice_date",
          strftime_format="%Y-%m-%d %H:%M:%S"),
        E("expect_column_values_to_not_be_null", column="customer_id", mostly=0.7),
    )


def test_clean_suite_passes(retail_clean):
    vr = run_suite(retail_clean, suite_source(), batch_identifier="clean")
    failed = [r.expectation_config for r in vr.results if not r.success]
    assert vr.success, failed
    assert vr.statistics["evaluated_expectations"] == 12
    assert vr.statistics["success_percent"] == 100.0


def test_dirty_suite_fails_expected_expectations(retail_dirty):
    vr = run_suite(retail_dirty, suite_source(), batch_identifier="dirty")
    assert not vr.success
    by_key = {
        (
            r.expectation_config["expectation_type"],
            r.expectation_config["kwargs"].get("column"),
        ): r
        for r in vr.results
    }
    # planted defects (FIXTURES.md F2): negative quantity → min != 0
    assert not by_key[("expect_column_min_to_be_between", "quantity")].success
    assert not by_key[("expect_column_min_to_be_between", "unit_price")].success
    # price above band
    assert not by_key[("expect_column_max_to_be_between", "unit_price")].success
    # country typo + unexpected country
    inset = by_key[("expect_column_values_to_be_in_set", "country")]
    assert not inset.success
    assert inset.result["unexpected_count"] == 2
    assert inset.result["partial_unexpected_list"] == ["RSA", "United KingdomKingdom"]
    # bad date string
    strf = by_key[("expect_column_values_to_match_strftime_format", "invoice_date")]
    assert not strf.success
    assert strf.result["partial_unexpected_list"] == ["not-a-date"]
    # mostly=0.7 tolerates 1/3 nulls
    assert by_key[("expect_column_values_to_not_be_null", "customer_id")].success


def test_mostly_threshold(spark):
    df = spark.createDataFrame([(1,), (None,), (None,), (None,)], "x int")
    s_strict = Suite.of("s", E("expect_column_values_to_not_be_null", column="x", mostly=0.5))
    s_loose = Suite.of("s", E("expect_column_values_to_not_be_null", column="x", mostly=0.25))
    assert not run_suite(df, s_strict).success
    assert run_suite(df, s_loose).success


def test_extension_expectations(spark):
    df = spark.createDataFrame(
        [("abcdef", 3.0), ("xy", 5.0), ("hello!", 7.0), ("abcdef", 100.0)],
        "s string, v double",
    )
    suite = Suite.of(
        "ext",
        E("expect_column_value_lengths_to_be_between", column="s", min_value=3,
          max_value=10, mostly=0.75),
        E("expect_column_values_to_match_regex", column="s", regex="^[a-z!]+$"),
        E("expect_column_values_to_not_match_regex", column="s", regex="[0-9]"),
        E("expect_column_mean_to_be_between", column="v", min_value=20, max_value=40),
        E("expect_column_unique_value_count_to_be_between", column="s", min_value=3,
          max_value=3),
        E("expect_column_values_to_be_unique", column="s", mostly=0.5),
        E("expect_values_to_satisfy_expression",
          expression="length(s) >= 2 AND v > 0"),
        E("expect_column_values_to_be_between", column="v", min_value=0, max_value=50,
          mostly=0.75),
    )
    vr = run_suite(df, suite)
    assert vr.success, [r.expectation_config for r in vr.results if not r.success]
    uniq = vr.results[5]
    # excess-duplicate semantics: count − count_distinct (one "abcdef"
    # beyond the first), fused into the single-pass agg
    assert uniq.result["unexpected_count"] == 1


def test_values_to_be_unique_fails(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "s string")
    vr = run_suite(df, Suite.of("u", E("expect_column_values_to_be_unique", column="s")))
    assert not vr.success


def test_values_to_be_unique_approx_never_negative(spark):
    """With approx=True an HLL overestimate could make
    count − approx_count_distinct negative; the clamp must keep the
    unexpected count (and percent) at ≥ 0 so nothing silently passes
    with a negative percent."""
    df = spark.createDataFrame([(f"v{i}",) for i in range(5000)], "s string")
    vr = run_suite(
        df,
        Suite.of("u", E("expect_column_values_to_be_unique", column="s", approx=True)),
    )
    r = vr.results[0].result
    assert r["unexpected_count"] >= 0
    assert r["unexpected_percent"] >= 0.0


def test_empty_dataframe(spark):
    df = spark.createDataFrame([], "x int")
    suite = Suite.of(
        "empty",
        E("expect_table_row_count_to_be_between", min_value=0, max_value=0),
        E("expect_column_values_to_not_be_null", column="x"),
        E("expect_column_min_to_be_between", column="x", min_value=0, max_value=1),
    )
    vr = run_suite(df, suite)
    assert vr.results[0].success
    assert vr.results[1].success          # 0 unexpected of 0
    assert not vr.results[2].success      # observed min None → fail


def test_metrics_rows_and_json_roundtrip(retail_clean):
    suite = suite_source()
    rt = Suite.from_json(suite.to_json())
    assert rt == suite
    vr = run_suite(retail_clean, suite, run_name="r1", batch_identifier="b1")
    rows = vr.to_metrics_rows()
    assert len(rows) == 12
    assert all(r["run_name"] == "r1" and r["successful_outcome"] for r in rows)
    d = vr.to_dict()
    assert d["statistics"]["evaluated_expectations"] == 12
    assert d["meta"]["expectation_suite_name"] == "retail_source_suite"


def test_gate_failed_message(retail_dirty):
    vr = run_suite(retail_dirty, suite_source())
    with pytest.raises(GateFailed, match="retail_source_suite"):
        raise GateFailed(vr)


def test_strftime_translation():
    assert strftime_to_spark("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert strftime_to_spark("%d/%m/%y") == "dd/MM/yy"


def test_type_normalization():
    assert normalize_type("VARCHAR(16)") == "string"
    assert normalize_type("int64") == "bigint"
    assert normalize_type("NUMERIC(8,3)") == "decimal"
    assert normalize_type("float64") == "double"


def test_exception_isolation(spark):
    df = spark.createDataFrame([(1,)], "x int")
    suite = Suite.of(
        "exc",
        E("expect_column_values_to_not_be_null", column="nope"),
        E("expect_table_row_count_to_be_between", min_value=1, max_value=1),
    )
    vr = run_suite(df, suite)
    assert not vr.results[0].success
    assert vr.results[0].exception_info["raised_exception"]
    assert vr.results[1].success


def test_integer_sum_expectation_survives_int64_overflow(spark):
    """expect_column_sum_to_be_between on a bigint column accumulates in
    DECIMAL(38,0): a sum past int64 range must gate correctly, not die
    with ARITHMETIC_OVERFLOW."""
    from pyspark.sql import functions as F

    big = 2**62
    df = spark.range(4).select(F.lit(big).cast("bigint").alias("v"))
    vr = run_suite(
        df,
        Suite.of("s", E("expect_column_sum_to_be_between", column="v",
                        min_value=4 * big - 1, max_value=4 * big + 1)),
    )
    assert vr.success
    assert vr.results[0].result["observed_value"] == 4 * big  # exact int


def test_decimal_aggregates_keep_their_exact_value(spark):
    """Only the decimal(38,0) integral sum converts to int: min, max,
    mean and quantile of a decimal column keep the exact Decimal."""
    df = spark.createDataFrame(
        [(Decimal("10.70"),), (Decimal("3.20"),)], "d decimal(8,2)"
    )
    vr = run_suite(
        df,
        Suite.of(
            "dec",
            E("expect_column_max_to_be_between", column="d", max_value=10.5),
            E("expect_column_mean_to_be_between", column="d", min_value=6.9),
            E("expect_column_min_to_be_between", column="d", min_value=3.1),
            E("expect_column_sum_to_be_between", column="d", max_value=13.9),
            E("expect_column_quantile_to_be_between", column="d", quantile=1.0,
              approx=True, max_value=10.5),
        ),
    )
    observed = [r.result["observed_value"] for r in vr.results]
    assert observed == [Decimal("10.70"), Decimal("6.950000"), Decimal("3.20"),
                        Decimal("13.90"), Decimal("10.70")]
    assert [r.success for r in vr.results] == [False, True, True, True, False]
    from greatex_spark.expectations.params import validation_parameters

    params = validation_parameters(vr)
    assert params["dec.expect_column_mean_to_be_between.d.observed_value"] == 6.95


def test_values_to_be_unique_exact_matches_ge_semantics(spark):
    """exact=True computes GE's unexpected_count: EVERY member of a
    duplicate group.  Planted frame: 'a'x3 + 'b'x2 + 'c','d' unique +
    2 nulls -> GE unexpected = 5 (3 a's + 2 b's), fused default = 3
    (excess duplicates).  10 rows, so exact mostly=0.5 fails (50% > 50%
    is false -> pct 50 <= 50 passes)... hand-compute: ux=5, ec=10,
    pct=50.0; mostly=0.5 threshold is exactly 50.0 -> passes; mostly=0.6
    (threshold 40.0) -> fails, while the fused variant (ux=3, pct=30)
    would pass: the divergence exact=True exists to close."""
    rows = [("a",), ("a",), ("a",), ("b",), ("b",), ("c",), ("d",),
            ("e",), (None,), (None,)]
    df = spark.createDataFrame(rows, "s string")

    exact = run_suite(
        df, Suite.of("u", E("expect_column_values_to_be_unique", column="s",
                            exact=True, mostly=0.6)))
    r = exact.results[0].result
    assert r["unexpected_count"] == 5          # 3 a's + 2 b's, nulls excluded
    assert r["element_count"] == 10
    assert not exact.results[0].success        # 50% > 40% allowed

    fused = run_suite(
        df, Suite.of("u", E("expect_column_values_to_be_unique", column="s",
                            mostly=0.6)))
    assert fused.results[0].result["unexpected_count"] == 3   # excess only
    assert fused.results[0].success            # 30% <= 40% -> the documented gap

    # at mostly=1.0 the two modes agree on outcome (both fail here,
    # both pass on a clean frame)
    clean = spark.createDataFrame([("x",), ("y",), (None,)], "s string")
    for kw in ({}, {"exact": True}):
        vr = run_suite(
            clean, Suite.of("u", E("expect_column_values_to_be_unique",
                                   column="s", **kw)))
        assert vr.success
        assert vr.results[0].result["unexpected_count"] == 0
