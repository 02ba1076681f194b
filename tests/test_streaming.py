"""Streaming ingest: gates per micro-batch, quarantine, file-granular
resume, and a metrics store shared with the batch gates."""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

from greatex_spark.expectations.spec import E, Suite
from greatex_spark.pages import generate_pages
from greatex_spark.pipeline.checkpoint import METRICS_SCHEMA, METRICS_TABLE
from greatex_spark.streaming import gated_ingest
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
