"""Gates on the write: each stage write observes its suite's metrics and
commits them with the snapshot (``_commit.json``); gates and resumes
take them from there instead of re-scanning."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from greatex_spark.expectations.compiler import compile_suite, run_suite
from greatex_spark.expectations.spec import E, Suite
from greatex_spark.pages import generate_pages
from greatex_spark.pipeline import checkpoint as checkpoint_mod
from greatex_spark.pipeline import suites as S
from greatex_spark.pipeline.checkpoint import Checkpoint, run_checkpoint
from greatex_spark.pipeline.runner import BRONZE, GOLD, KEPT, SILVER, run_pipeline
from greatex_spark.pipeline.stages import PipelineConfig
from greatex_spark.tables import COMMIT_RECORD, Catalog

TABLES = {"source": BRONZE, "silver": SILVER, "kept": KEPT, "gold": GOLD}


def _outcome(vr) -> dict:
    """A validation without its run name and times."""
    d = vr.to_dict()
    return {k: d[k] for k in ("results", "success", "statistics")}


def _suites(n_bronze: int) -> dict[str, Suite]:
    config = PipelineConfig()
    lo, hi = (int(n_bronze * f) for f in config.keep_fraction_band)
    return {
        "source": S.source_suite(),
        "silver": S.silver_suite(),
        "kept": S.kept_suite(lo, hi),
        "gold": S.gold_suite(config.target_lang),
    }


class JobCounter:
    """Runs calls under their own Spark job group and counts their jobs.
    Group names are unique across counters: a name shared with an earlier
    counter's call would count that call's jobs too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: list[tuple[str, str]] = []

    def wrap(self, fn, label):
        def wrapper(*args, **kwargs):
            group = f"gate-on-write-{uuid.uuid4().hex}"
            self.calls.append((label(args, kwargs), group))
            previous = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", previous)

        return wrapper

    def jobs(self) -> list[tuple[str, int]]:
        return [
            (label, len(self.sc.statusTracker().getJobIdsForGroup(group)))
            for label, group in self.calls
        ]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    pages = generate_pages(spark, 600, seed=3)
    root = str(tmp_path_factory.mktemp("gate_on_write"))
    result = run_pipeline(spark, Catalog(root), 1, source_df=pages, run_name="fresh")
    assert all(v.success for v in result.validations.values())
    return root, result


def _copy(lake, tmp_path) -> Catalog:
    root, _ = lake
    dst = str(tmp_path / "lake")
    shutil.copytree(root, dst)
    return Catalog(dst)


def _resume_counted(spark, monkeypatch, catalog):
    counter = JobCounter(spark)
    monkeypatch.setattr(
        Catalog, "read_snapshot",
        counter.wrap(Catalog.read_snapshot, lambda a, k: f"read:{a[2]}"),
    )
    monkeypatch.setattr(
        checkpoint_mod, "run_suite",
        counter.wrap(checkpoint_mod.run_suite, lambda a, k: f"gate:{a[1].name}"),
    )
    result = run_pipeline(spark, catalog, 1, resume=True, run_name="resume")
    return result, dict(counter.jobs())


def test_gates_on_recorded_metrics_equal_a_plain_scan(spark, lake):
    root, fresh = lake
    suites = _suites(fresh.counts[BRONZE])
    for gate, table in TABLES.items():
        committed = spark.read.parquet(os.path.join(root, table, "snapshot=1"))
        assert _outcome(fresh.validations[gate]) == _outcome(
            run_suite(committed, suites[gate])
        ), gate


def test_resume_reads_and_silver_gate_run_no_job(spark, lake, tmp_path, monkeypatch):
    _, fresh = lake
    result, jobs = _resume_counted(spark, monkeypatch, _copy(lake, tmp_path))
    assert sorted(result.skipped) == sorted(TABLES.values())
    for gate in TABLES:
        assert _outcome(result.validations[gate]) == _outcome(fresh.validations[gate])
    assert {label: n for label, n in jobs.items() if label.startswith("read:")} == {
        f"read:{t}": 0 for t in TABLES.values()
    }
    assert jobs["gate:pages_silver_suite"] == 0
    # the exact url-uniqueness metric is not observable: one small agg
    for suite in ("pages_source_suite", "pages_kept_suite", "pages_gold_suite"):
        assert jobs[f"gate:{suite}"] >= 1


URL_GATES = ("pages_source_suite", "pages_kept_suite", "pages_gold_suite")


def test_resume_url_gates_run_one_job_each(spark, lake, tmp_path, monkeypatch):
    """Each url-uniqueness gate of a resume is one Arrow collect of the
    url column, counted on the driver."""
    _, jobs = _resume_counted(spark, monkeypatch, _copy(lake, tmp_path))
    assert {suite: jobs[f"gate:{suite}"] for suite in URL_GATES} == dict.fromkeys(URL_GATES, 1)


def test_url_gates_above_the_bound_take_the_spark_scan(spark, lake, tmp_path, monkeypatch):
    """With ``autoBroadcastJoinThreshold`` at -1 nothing is small enough
    to collect: the url gates run Spark's count(DISTINCT) (more than one
    job under adaptive execution) and their outcomes are the fresh run's."""
    _, fresh = lake
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    previous = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        result, jobs = _resume_counted(spark, monkeypatch, _copy(lake, tmp_path))
    finally:
        spark.conf.set(threshold, previous)
    for gate in TABLES:
        assert _outcome(result.validations[gate]) == _outcome(fresh.validations[gate])
    for suite in URL_GATES:
        assert jobs[f"gate:{suite}"] > 1, suite


def test_resume_without_bronze_record_takes_the_corridor_from_the_source_gate(
    spark, lake, tmp_path
):
    """The kept corridor of a resume comes from bronze's recorded row
    count; with no bronze record the kept gate waits for the source
    gate's scan, and every gate still equals the fresh run's."""
    _, fresh = lake
    catalog = _copy(lake, tmp_path)
    os.remove(os.path.join(catalog.root, BRONZE, "snapshot=1", COMMIT_RECORD))
    result = run_pipeline(spark, catalog, 1, resume=True, run_name="resume")
    for gate in TABLES:
        assert _outcome(result.validations[gate]) == _outcome(fresh.validations[gate])
    assert result.counts == fresh.counts


def test_recorded_schema_equals_inferred_schema(spark, lake):
    root, _ = lake
    catalog = Catalog(root)
    for table in TABLES.values():
        snap = os.path.join(root, table, "snapshot=1")
        inferred = spark.read.parquet(snap).schema
        with open(os.path.join(snap, COMMIT_RECORD)) as f:
            recorded = json.load(f)["schema"]
        assert recorded == inferred.jsonValue(), table
        assert catalog.read_snapshot(spark, table, 1).schema == inferred


def test_missing_or_stale_records_gate_by_a_full_scan(spark, lake, tmp_path, monkeypatch):
    _, fresh = lake
    catalog = _copy(lake, tmp_path)
    # silver: a snapshot written before commit records existed
    os.remove(os.path.join(catalog.root, SILVER, "snapshot=1", COMMIT_RECORD))
    # kept: a record whose file list no longer matches the directory; its
    # (wrong) values must not be used
    path = os.path.join(catalog.root, KEPT, "snapshot=1", COMMIT_RECORD)
    with open(path) as f:
        record = json.load(f)
    record["files"] = record["files"][1:] + ["part-99999-gone.parquet"]
    record["metrics"] = {k: 10**9 for k in record["metrics"]}
    with open(path, "w") as f:
        json.dump(record, f)
    assert catalog.snapshot_metrics(SILVER, 1) == {}
    assert catalog.snapshot_metrics(KEPT, 1) == {}
    result, jobs = _resume_counted(spark, monkeypatch, catalog)
    for gate in TABLES:
        assert _outcome(result.validations[gate]) == _outcome(fresh.validations[gate])
    assert jobs["gate:pages_silver_suite"] >= 1
    assert jobs[f"read:{SILVER}"] >= 1  # schema inference


def _agg_spy(monkeypatch, df):
    aggregated: list[list[str]] = []
    original = type(df).agg

    def agg(self, *cols):
        out = original(self, *cols)
        aggregated.append(out.columns)  # each metric is aliased to its key
        return out

    monkeypatch.setattr(type(df), "agg", agg)
    return aggregated


def test_changed_bound_rescans_only_that_metric(spark, tmp_path, monkeypatch):
    catalog = Catalog(str(tmp_path))
    df = spark.range(50).select(F.col("id").alias("v"), (F.col("id") % 7).alias("w"))
    suite = Suite.of(
        "bounds",
        E("expect_table_row_count_to_be_between", min_value=1),
        E("expect_column_values_to_be_between", column="v", max_value=60),
        E("expect_column_values_to_not_be_null", column="w"),
    )
    metrics, _ = compile_suite(df, suite)
    catalog.write_snapshot(df, "t", 1, [m.column for m in metrics if m.observable])
    committed = catalog.read_snapshot(spark, "t", 1)
    known = catalog.snapshot_metrics("t", 1)
    assert len(known) == 3

    aggregated = _agg_spy(monkeypatch, committed)
    sc = spark.sparkContext
    group = f"all-known-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        same = run_suite(committed, suite, known=known)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert same.success and same.results[1].result["unexpected_count"] == 0
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert aggregated == []

    # a suite edit: only the edited bound's metric is aggregated
    edited = Suite.of(
        "bounds",
        suite.expectations[0],
        E("expect_column_values_to_be_between", column="v", max_value=45),
        suite.expectations[2],
    )
    vr = run_suite(committed, edited, known=known)
    assert aggregated == [["sum(CAST(and(or(false, >(v, 45)), isNotNull(v)) AS BIGINT))"]]
    monkeypatch.undo()
    assert _outcome(vr) == _outcome(run_suite(committed, edited))
    assert vr.results[1].result["unexpected_count"] == 4

    # a $PARAMETER bound resolved to a new value rescans the same way
    aggregated = _agg_spy(monkeypatch, committed)
    marked = Suite.of(
        "bounds",
        suite.expectations[0],
        E("expect_column_values_to_be_between", column="v",
          max_value={"$PARAMETER": "cap - 10"}),
        suite.expectations[2],
    )
    vr = run_checkpoint(
        spark, committed, Checkpoint("bounds", marked, raise_on_failure=False),
        evaluation_parameters={"cap": 48}, known=known,
    )
    assert aggregated == [
        ["sum(CAST(and(or(false, >(v, 38.0)), isNotNull(v)) AS BIGINT))"]
    ]
    assert vr.results[1].result["unexpected_count"] == 11


def test_commit_record_round_trips_values_exactly(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [
            (Decimal("10.70"), dt.datetime(2024, 1, 1, 12, 30, 0, 123456), 0.1),
            (Decimal("3.20"), dt.datetime(2023, 6, 2), 0.2),
            (None, None, 0.7),
        ],
        "d decimal(8,2), ts timestamp, x double",
    )
    observe = [
        F.sum("d").alias("sum_d"),
        F.avg("d").alias("mean_d"),
        F.min("ts").alias("min_ts"),
        F.max(F.to_date("ts")).alias("max_day"),
        F.sum("x").alias("sum_x"),
        F.stddev_samp("x").alias("sd_x"),
        F.avg(F.lit(None).cast("double")).alias("none"),
        F.count(F.lit(1)).alias("n"),
    ]
    observed = catalog.write_snapshot(df, "t", 1, observe)
    back = catalog.snapshot_metrics("t", 1)
    assert back == observed
    assert {k: type(v) for k, v in back.items()} == {k: type(v) for k, v in observed.items()}
    assert back["sum_d"] == Decimal("13.90") and str(back["mean_d"]) == "6.950000"
    assert back["min_ts"] == dt.datetime(2023, 6, 2)
    assert back["max_day"] == dt.date(2024, 1, 1)
    assert back["none"] is None and back["n"] == 3
    assert sorted(catalog.read_snapshot(spark, "t", 1).collect(), key=str) == sorted(
        df.collect(), key=str
    )
