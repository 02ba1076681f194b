"""Gate bookkeeping (metrics, evaluation parameters, lineage): appends
written on the driver — atomic, safe under concurrency, readable next to
Spark-written files, and free of Spark jobs."""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading

import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from greatex_spark.expectations.compiler import run_suite
from greatex_spark.expectations.params import (
    load_parameters,
    store_parameters,
    validation_parameters,
)
from greatex_spark.expectations.spec import E, Suite
from greatex_spark.pipeline.checkpoint import (
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    METRICS_TABLE,
    store_metrics,
    store_partition_lineage,
)
from greatex_spark.tables import Catalog


def _validation(spark):
    suite = Suite.of(
        "bk",
        E("expect_table_row_count_to_be_between", min_value=1),
        E("expect_column_values_to_not_be_null", column="id"),
    )
    return run_suite(spark.range(10), suite, run_name="bk-run")


def test_concurrent_metric_appends_keep_every_row(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    vr = _validation(spark)
    errors: list[Exception] = []

    def appender(first_epoch: int) -> None:
        try:
            for e in range(first_epoch, first_epoch + 10):
                store_metrics(spark, catalog, vr, e)
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=appender, args=(k * 100,)) for k in (1, 2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the two writers finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    rows = catalog.read_latest(spark, METRICS_TABLE).collect()
    per_call = len(vr.results)
    assert len(rows) == 2 * 10 * per_call
    assert sorted({r.checkpoint_epoch for r in rows}) == [*range(100, 110), *range(200, 210)]


def test_stray_temp_file_is_invisible(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    vr = _validation(spark)
    store_metrics(spark, catalog, vr, 1)
    snap = os.path.join(str(tmp_path), METRICS_TABLE, "snapshot=0")
    # what a writer killed between write and rename leaves behind
    with open(os.path.join(snap, ".part-deadbeef.parquet.tmp"), "wb") as f:
        f.write(b"half-written")
    assert catalog.read_latest(spark, METRICS_TABLE).count() == len(vr.results)
    arrow = catalog.read_latest_arrow(METRICS_TABLE, to_arrow_schema(METRICS_SCHEMA))
    assert arrow.num_rows == len(vr.results)


def test_driver_append_reads_back_with_spark_written_files(spark, tmp_path):
    """A lake whose metrics were appended by Spark before keeps reading
    back with exactly ``METRICS_SCHEMA`` once driver-written files join."""
    catalog = Catalog(str(tmp_path))
    vr = _validation(spark)
    rows = [r | {"checkpoint_epoch": 1} for r in vr.to_metrics_rows()]
    snap = os.path.join(str(tmp_path), METRICS_TABLE, "snapshot=0")
    spark.createDataFrame(rows, METRICS_SCHEMA).write.mode("append").parquet(snap)
    store_metrics(spark, catalog, vr, 2)
    stored = catalog.read_latest(spark, METRICS_TABLE)
    assert [(f.name, f.dataType) for f in stored.schema] == [
        (f.name, f.dataType) for f in METRICS_SCHEMA
    ]
    back = stored.collect()
    assert sorted(r.checkpoint_epoch for r in back) == [1] * len(rows) + [2] * len(rows)
    # both writers store the same instants and counts
    by_epoch = {
        e: sorted((r.expectation_name, r.evaluated_expectations, r.run_time, r.end_time)
                  for r in back if r.checkpoint_epoch == e)
        for e in (1, 2)
    }
    assert by_epoch[1] == by_epoch[2]
    assert all(isinstance(r.run_time, dt.datetime) for r in back)
    # the driver-written file carries the Spark schema's Arrow twin
    (mine,) = [f for f in os.listdir(snap) if f.endswith(".parquet") and "-c000" not in f]
    schema = pq.read_schema(os.path.join(snap, mine))
    assert str(schema.field("run_time").type) == "timestamp[us, tz=UTC]"
    assert str(schema.field("evaluated_expectations").type) == "int32"
    # the driver-side read returns exactly the Arrow twin for both
    # writers' files: Spark's INT96 timestamps come back tz-aware
    arrow_schema = to_arrow_schema(METRICS_SCHEMA)
    arrow = catalog.read_latest_arrow(METRICS_TABLE, arrow_schema)
    assert arrow.schema == arrow_schema
    assert str(arrow.schema.field("run_time").type) == "timestamp[us, tz=UTC]"
    arrow_rows = arrow.to_pylist()
    arrow_by_epoch = {
        e: sorted((r["expectation_name"], r["run_time"], r["end_time"])
                  for r in arrow_rows if r["checkpoint_epoch"] == e)
        for e in (1, 2)
    }
    assert len(arrow_by_epoch[1]) == len(rows)
    assert arrow_by_epoch[1] == arrow_by_epoch[2]


def test_bookkeeping_runs_no_spark_job(spark, tmp_path):
    """Storing a gate's metrics and parameters, reading the parameters
    back and storing a stage's lineage launch no Spark job; only the
    suite and the stage write do."""
    catalog = Catalog(str(tmp_path))
    vr = _validation(spark)  # the suite's own jobs run outside the group
    catalog.write_snapshot(spark.range(100).repartition(3), "t", 1)
    committed = catalog.read_snapshot(spark, "t", 1)
    sc = spark.sparkContext
    group = f"bookkeeping-{os.getpid()}"
    sc.setJobGroup(group, "bookkeeping only")
    try:
        store_metrics(spark, catalog, vr, 1)
        store_parameters(spark, catalog, validation_parameters(vr), vr.suite_name, "r", 1)
        store_partition_lineage(spark, catalog, committed, "t", 1, "r")
        assert load_parameters(spark, catalog) == validation_parameters(vr)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    lineage = catalog.read_latest_arrow(
        "partition_lineage", to_arrow_schema(LINEAGE_SCHEMA)
    ).to_pylist()
    assert sum(r["row_count"] for r in lineage) == 100
    assert sorted(r["partition_id"] for r in lineage) == [0, 1, 2]


def test_append_after_compaction_is_read_back(spark, tmp_path):
    """A compaction commits the table's rows as a new latest epoch; an
    append after it lands in that epoch, so the next read sees it."""
    from greatex_spark.expectations.params import PARAMS_TABLE

    catalog = Catalog(str(tmp_path))
    store_parameters(spark, catalog, {"s.element_count": 1.0}, "s", "r1", 1)
    assert catalog.compact(spark, PARAMS_TABLE) == 1
    store_parameters(spark, catalog, {"s.element_count": 2.0}, "s", "r2", 2)
    assert load_parameters(spark, catalog) == {"s.element_count": 2.0}
    assert catalog.latest_epoch(PARAMS_TABLE) == 1
    # the append keeps the compacted epoch's commit record true to its
    # files, so reads still take the recorded schema instead of a job
    assert catalog._commit_record(PARAMS_TABLE, 1) is not None
    assert catalog.read_latest(spark, PARAMS_TABLE).count() == 2
