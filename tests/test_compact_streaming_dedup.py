"""Snapshot compaction (Catalog.compact), snapshot expiry and orphan
removal."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from greatex_spark.tables import Catalog


def _parquet_files(catalog: Catalog, name: str, epoch: int) -> list[str]:
    return glob.glob(f"{catalog._snapshot_dir(name, epoch)}/**/*.parquet",
                     recursive=True)


def test_compact_reduces_files_and_preserves_content(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    df = spark.range(10_000).withColumn("v", F.col("id") * 3)
    catalog.write_snapshot(df.repartition(40), "t", epoch=1)
    assert len(_parquet_files(catalog, "t", 1)) == 40

    new_epoch = catalog.compact(spark, "t", target_file_bytes=1 << 30)
    assert new_epoch == 2
    files = _parquet_files(catalog, "t", 2)
    assert len(files) == 1
    # byte-for-byte same rows (order-independent checksum)
    def checksum(d):
        # mod keeps the ANSI-mode sum inside int64
        return d.select(
            F.sum(F.pmod(F.xxhash64("id", "v"), F.lit(1_000_000_007))).alias("c")
        ).first()["c"]
    assert checksum(catalog.read_latest(spark, "t")) == checksum(df)
    # the pre-compaction epoch stays readable
    assert catalog.read_snapshot(spark, "t", 1).count() == 10_000


def test_compact_respects_target_size(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    df = spark.range(50_000).withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
    catalog.write_snapshot(df.repartition(32), "t", epoch=0)
    on_disk = sum(
        __import__("os").path.getsize(f) for f in _parquet_files(catalog, "t", 0)
    )
    target = max(1, on_disk // 4)
    catalog.compact(spark, "t", target_file_bytes=target)
    n = len(_parquet_files(catalog, "t", 1))
    assert 2 <= n <= 8  # ~4 files of ~target bytes (coalesce granularity)


def test_expire_snapshots_retention(spark, tmp_path):
    """expire_snapshots drops all but the newest keep_last epochs:
    manifest flips first, data directories go second, newer epochs stay
    fully readable."""
    import os
    import pytest

    catalog = Catalog(str(tmp_path))
    for e in (1, 2, 3):
        catalog.write_snapshot(spark.range(100 * e), "t", epoch=e)

    assert catalog.expire_snapshots("t", keep_last=2) == [1]
    assert catalog.latest_epoch("t") == 3
    assert catalog.read_snapshot(spark, "t", 2).count() == 200
    assert catalog.read_snapshot(spark, "t", 3).count() == 300
    with pytest.raises(FileNotFoundError):
        catalog.read_snapshot(spark, "t", 1)
    assert not os.path.exists(catalog._snapshot_dir("t", 1))
    # within retention: no-op
    assert catalog.expire_snapshots("t", keep_last=2) == []
    with pytest.raises(ValueError):
        catalog.expire_snapshots("t", keep_last=0)


def test_remove_orphans_collects_torn_writes_only(spark, tmp_path):
    """remove_orphans deletes uncommitted snapshot debris (what a killed
    mid-write run leaves), honors the min-age guard, and never touches
    committed epochs."""
    import os

    catalog = Catalog(str(tmp_path))
    catalog.write_snapshot(spark.range(50), "t", epoch=1)

    orphan = catalog._snapshot_dir("t", 9)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")

    # younger than the age guard: kept (could be an in-flight writer)
    assert catalog.remove_orphans("t", min_age_sec=3600) == []
    assert os.path.exists(orphan)

    assert catalog.remove_orphans("t", min_age_sec=0) == [9]
    assert not os.path.exists(orphan)
    assert catalog.read_latest(spark, "t").count() == 50
