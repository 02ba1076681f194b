"""Streaming ingest: gates per micro-batch, quarantine, file-granular
resume, and a metrics store shared with the batch gates."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from greatex_spark.expectations.spec import E, Suite
from greatex_spark.pages import generate_pages
from greatex_spark.pipeline.checkpoint import METRICS_SCHEMA, METRICS_TABLE
from greatex_spark.pipeline.suites import source_suite
from greatex_spark.streaming import gated_ingest, ingest
from greatex_spark.tables import Catalog


def _suite() -> Suite:
    return Suite.of(
        "stream_source",
        E("expect_column_values_to_not_be_null", column="url"),
        E("expect_column_values_to_match_regex", column="url", regex=r"^https?://"),
    )


def _land(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def _stored_metrics(spark, catalog: Catalog) -> list:
    """Every gate-metric row the ingest persisted in the catalog."""
    return catalog.read_latest(spark, METRICS_TABLE).collect()


def test_gated_ingest_and_resume(spark, tmp_path):
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, 60, seed=3)
    _land(pages.where(F.col("url").endswith("0")), landing)
    _land(pages.where(F.col("url").endswith("1")), landing)

    catalog = Catalog(str(tmp_path / "lake"))
    gated_ingest(spark, landing, bronze, quarantine, ckpt, _suite(), catalog=catalog)
    first_count = spark.read.parquet(bronze).count()
    assert first_count == pages.where(
        F.col("url").endswith("0") | F.col("url").endswith("1")
    ).count()
    metrics = _stored_metrics(spark, catalog)
    assert metrics and all(m.successful_outcome for m in metrics)
    assert not os.path.exists(quarantine)

    # resume: land one more file; only IT is processed
    _land(pages.where(F.col("url").endswith("2")), landing)
    gated_ingest(spark, landing, bronze, quarantine, ckpt, _suite(), catalog=catalog)
    assert spark.read.parquet(bronze).count() == first_count + pages.where(
        F.col("url").endswith("2")
    ).count()
    # the rows the resumed run appended: exactly one new micro-batch
    # was validated
    metrics2 = Counter(_stored_metrics(spark, catalog)) - Counter(metrics)
    assert {m.batch_identifier for m in metrics2} == {"stream-batch-1"}


def test_gated_ingest_quarantines_bad_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    bad = generate_pages(spark, 20, seed=3).withColumn(
        "url", F.regexp_replace("url", "^https://", "ftp://")
    )
    _land(bad, landing)
    catalog = Catalog(str(tmp_path / "lake"))
    gated_ingest(spark, landing, bronze, quarantine, ckpt, _suite(), catalog=catalog)
    assert not os.path.exists(bronze)
    assert spark.read.parquet(quarantine).count() == 20
    assert any(not m.successful_outcome for m in _stored_metrics(spark, catalog))


def test_gated_ingest_metrics_share_batch_store(spark, tmp_path):
    """Streaming gate metrics land in the SAME catalog `metrics` table
    as the batch checkpoints — one lineage store, identical schema,
    streaming epochs keyed by micro-batch id."""
    landing = str(tmp_path / "landing")
    catalog = Catalog(str(tmp_path / "lake"))
    pages = generate_pages(spark, 40, seed=3)
    _land(pages.where(F.col("url").endswith("0")), landing)
    _land(pages.where(F.col("url").endswith("1")), landing)

    gated_ingest(
        spark, landing, str(tmp_path / "bronze"), str(tmp_path / "q"),
        str(tmp_path / "ckpt"), _suite(), catalog=catalog,
    )
    stored = catalog.read_latest(spark, METRICS_TABLE)
    # exact batch-path schema (names + types)
    assert [(f.name, f.dataType) for f in stored.schema] == [
        (f.name, f.dataType) for f in METRICS_SCHEMA
    ]
    rows = stored.collect()
    # 2 expectations x >=1 micro-batch, all green, epoch = batch_id
    assert len(rows) >= 2 and all(r.successful_outcome for r in rows)
    assert {r.batch_identifier for r in rows} >= {"stream-batch-0"}
    assert all(
        r.batch_identifier == f"stream-batch-{r.checkpoint_epoch}" for r in rows
    )


def _metrics_per_batch(catalog: Catalog) -> dict[int, int]:
    rows = catalog.read_latest_arrow(METRICS_TABLE, to_arrow_schema(METRICS_SCHEMA))
    return dict(sorted(Counter(rows.column("checkpoint_epoch").to_pylist()).items()))


def test_replayed_batch_replaces_its_metrics(spark, tmp_path):
    """A micro-batch replayed after a crash (its commit entry lost)
    rewrites its output partition and replaces its gate metrics instead
    of storing a second copy; a second stream on the same catalog keeps
    its own.  Bronze and quarantine files are zstd."""
    landing = str(tmp_path / "landing")
    bronze, quarantine = str(tmp_path / "bronze"), str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "lake"))
    suite = source_suite()
    n_exp = len(suite.expectations)

    pages = generate_pages(spark, 120, seed=5)
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    _land(pages.where(part == 0), landing)
    _land(pages.where(part == 1), landing)
    dirty = pages.where(part == 2)
    _land(dirty.unionByName(dirty.limit(1)), landing)  # a repeated url

    def drain(landing_dir, ckpt_dir):
        gated_ingest(spark, landing_dir, bronze, quarantine, ckpt_dir, suite,
                     max_files_per_trigger=1, catalog=catalog)

    drain(landing, ckpt)
    rows = (spark.read.parquet(bronze).count(), spark.read.parquet(quarantine).count())
    assert sum(rows) == 121 and _metrics_per_batch(catalog) == {0: n_exp, 1: n_exp, 2: n_exp}

    for name in ("2", ".2.crc"):  # the commit entry and its checksum file
        os.remove(os.path.join(ckpt, "commits", name))
    drain(landing, ckpt)
    assert (spark.read.parquet(bronze).count(), spark.read.parquet(quarantine).count()) == rows
    assert _metrics_per_batch(catalog) == {0: n_exp, 1: n_exp, 2: n_exp}

    other = str(tmp_path / "landing2")
    _land(generate_pages(spark, 20, seed=6), other)
    drain(other, str(tmp_path / "ckpt2"))
    assert _metrics_per_batch(catalog) == {0: 2 * n_exp, 1: n_exp, 2: n_exp}

    for d in (bronze, quarantine):
        for f in (os.path.join(r, n) for r, _, fs in os.walk(d) for n in fs):
            if f.endswith(".parquet"):
                meta = pq.read_metadata(f)
                assert {
                    meta.row_group(g).column(c).compression
                    for g in range(meta.num_row_groups)
                    for c in range(meta.num_columns)
                } <= {"ZSTD"}, f


def test_each_micro_batch_gate_runs_one_job(spark, tmp_path, monkeypatch):
    """The source suite of a micro-batch (url uniqueness included) is one
    job: the url column collected as Arrow, the other metrics observed
    on the same job."""
    sc = spark.sparkContext
    groups: list[str] = []
    run_suite = ingest.run_suite

    def counted(*args, **kwargs):
        group = f"stream-gate-{uuid.uuid4().hex}"
        groups.append(group)
        previous = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return run_suite(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", previous)

    monkeypatch.setattr(ingest, "run_suite", counted)
    landing = str(tmp_path / "landing")
    pages = generate_pages(spark, 60, seed=4)
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    for i in range(3):
        _land(pages.where(part == i), landing)
    gated_ingest(
        spark, landing, str(tmp_path / "bronze"), str(tmp_path / "q"),
        str(tmp_path / "ckpt"), source_suite(), max_files_per_trigger=1,
        catalog=Catalog(str(tmp_path / "lake")),
    )
    assert [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups] == [1, 1, 1]
