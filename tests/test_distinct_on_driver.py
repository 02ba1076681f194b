"""Exact distinct metrics counted on the driver: ``run_suite`` collects
the distinct columns as Arrow in one job when the frame's size estimate
is within ``spark.sql.autoBroadcastJoinThreshold`` and Arrow's equality
is Spark's, and aggregates with Spark otherwise.  Both sides of the
bound must give the same result."""

from __future__ import annotations

import contextlib
import datetime as dt

import pytest
from pyspark.sql import functions as F

from greatex_spark.expectations import Suite, run_suite
from greatex_spark.expectations.compiler import compile_suite
from greatex_spark.expectations.spec import E

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# one slot per row: NULLs, empty strings, case variants, NFC vs NFD é
# and repeated values; each column maps the slots to its own type
NFC, NFD = "\u00e9", "e\u0301"
SLOTS = ["a", "a", "A", "", "", None, None, NFC, NFD, "b"]
INTS = {"a": 1, "A": 2, "": 0, NFC: 3, NFD: 4, "b": 5}
BASE = dt.datetime(2024, 1, 1)


def _outcome(vr) -> dict:
    d = vr.to_dict()
    return {k: d[k] for k in ("results", "success", "statistics")}


@contextlib.contextmanager
def _threshold(spark, value: str):
    previous = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, previous)


def _spy(monkeypatch, df) -> list[str]:
    """Records which path each ``run_suite`` took: ``toArrow`` (the
    driver count) or ``agg`` (the Spark aggregate)."""
    calls: list[str] = []
    cls = type(df)
    for name in ("toArrow", "agg"):
        original = getattr(cls, name)

        def spied(self, *args, _name=name, _original=original, **kwargs):
            calls.append(_name)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, spied)
    return calls


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """A parquet-backed frame (so it has a size estimate) with one
    column per type the driver path takes."""
    rows = [
        (
            s,
            None if s is None else s.encode(),
            None if s is None else INTS[s],
            None if s is None else BASE + dt.timedelta(seconds=INTS[s]),
        )
        for s in SLOTS
    ]
    path = str(tmp_path_factory.mktemp("distinct") / "typed")
    spark.createDataFrame(rows, "s string, b binary, n bigint, ts timestamp").write.parquet(path)
    return spark.read.parquet(path)


def _suite(columns) -> Suite:
    exps = []
    for c in columns:
        exps += [
            E("expect_column_values_to_be_unique", column=c, mostly=0.5),
            E("expect_column_values_to_be_unique", column=c, exact=True, mostly=0.5),
            E("expect_column_unique_value_count_to_be_between", column=c,
              min_value=1, max_value=6),
        ]
    return Suite.of("distinct", *exps)


def test_results_equal_on_both_sides_of_the_bound(spark, typed, monkeypatch):
    suite = _suite(typed.columns)
    calls = _spy(monkeypatch, typed)
    below = run_suite(typed, suite)
    assert calls == ["toArrow"]
    calls.clear()
    with _threshold(spark, "-1"):
        above = run_suite(typed, suite)
    assert "toArrow" not in calls and "agg" in calls
    assert _outcome(below) == _outcome(above)
    # per column: excess duplicates 2 ('a' and '' twice), every member 4,
    # 6 distinct non-null values (NFC and NFD é differ, as do 'a'/'A')
    observed = [
        r.result.get("unexpected_count", r.result.get("observed_value"))
        for r in below.results
    ]
    assert observed == [2, 4, 6] * len(typed.columns)
    assert below.element_count == len(SLOTS)


def test_double_column_takes_the_spark_path(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "d")
    spark.createDataFrame([(-0.0,), (0.0,), (float("nan"),), (float("nan"),)], "d double") \
        .write.parquet(path)
    df = spark.read.parquet(path)
    calls = _spy(monkeypatch, df)
    vr = run_suite(df, Suite.of("d", E(
        "expect_column_unique_value_count_to_be_between", column="d", min_value=2,
        max_value=2)))
    assert calls == ["agg"]
    assert vr.results[0].result["observed_value"] == 2 and vr.success


def test_approx_metric_stays_observable_and_unchanged(spark, typed, monkeypatch):
    suite = Suite.of("approx", E(
        "expect_column_unique_value_count_to_be_between", column="s", approx=True,
        min_value=1))
    metrics, _ = compile_suite(typed, suite)
    assert all(m.observable for m in metrics)
    calls = _spy(monkeypatch, typed)
    below = run_suite(typed, suite)
    with _threshold(spark, "-1"):
        above = run_suite(typed, suite)
    assert calls == ["agg", "agg"]
    assert _outcome(below) == _outcome(above)
    assert below.results[0].result["observed_value"] == 6


def test_frame_without_size_estimate_runs_the_spark_aggregate(spark, monkeypatch):
    rdd = spark.sparkContext.parallelize([(s,) for s in SLOTS])
    df = spark.createDataFrame(rdd, "s string")
    calls = _spy(monkeypatch, df)
    vr = run_suite(df, _suite(["s"]))
    assert "toArrow" not in calls and "agg" in calls
    assert [r.result.get("unexpected_count", r.result.get("observed_value"))
            for r in vr.results] == [2, 4, 6]


def test_collated_string_column_runs_the_spark_aggregate(spark, typed, monkeypatch):
    # under UTF8_LCASE 'a' and 'A' are one value; Arrow's byte equality
    # would count them apart
    df = typed.select(F.collate("s", "UTF8_LCASE").alias("s"))
    calls = _spy(monkeypatch, df)
    vr = run_suite(df, Suite.of("lcase", E(
        "expect_column_unique_value_count_to_be_between", column="s", min_value=1)))
    assert calls == ["agg"]
    assert vr.results[0].result["observed_value"] == 5
