"""Snapshot-versioned table catalog over plain parquet.

The reference moves one table through five physical stores with
drop-and-recreate idempotency (``/root/reference/dags/scripts/sql/
transform_load_retail_warehouse.sql:5-32``).  The Spark-first recast
is a lake of snapshot-versioned tables: each write lands in its own
``snapshot=<epoch>`` directory and a tiny JSON manifest is flipped
atomically (``os.replace``) to commit it — Iceberg-style semantics
(atomic replace, latest-snapshot query, time travel by epoch) without
needing the Iceberg jar, behind an interface small enough to swap the
real catalog in (SURVEY.md §7 "No Iceberg jar in sandbox").

Guarantees used by the pipeline runner:
- **atomic commit**: readers only see epochs listed in the manifest;
  a killed write leaves an orphan directory, never a torn table.
- **idempotent re-run**: re-writing the same epoch replaces the
  snapshot directory and re-commits the same manifest entry.
- **resume**: ``has_epoch`` lets the runner skip stages whose output
  epoch is already committed.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Catalog:
    root: str

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_manifest.json")

    def _snapshot_dir(self, name: str, epoch: int) -> str:
        return os.path.join(self._table_dir(name), f"snapshot={epoch}")

    def _read_manifest(self, name: str) -> dict:
        path = self._manifest_path(name)
        if not os.path.exists(path):
            return {"committed_epochs": [], "latest": None}
        with open(path) as f:
            return json.load(f)

    def _commit_manifest(self, name: str, manifest: dict) -> None:
        os.makedirs(self._table_dir(name), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._table_dir(name), suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path(name))  # atomic pointer flip

    # ------------------------------------------------------------------

    def write_snapshot(
        self, df: DataFrame, name: str, epoch: int, partition_by: list[str] | None = None
    ) -> None:
        """Replace snapshot ``epoch`` of ``name`` and commit it."""
        snap = self._snapshot_dir(name, epoch)
        if os.path.exists(snap):
            shutil.rmtree(snap)  # re-run of a committed epoch: replace
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap)
        m = self._read_manifest(name)
        if epoch not in m["committed_epochs"]:
            m["committed_epochs"] = sorted(m["committed_epochs"] + [epoch])
        m["latest"] = max(m["committed_epochs"])
        self._commit_manifest(name, m)

    def append(self, table: pa.Table, name: str) -> None:
        """Append ``table`` to the append-only table ``name`` as one
        parquet file in ``snapshot=0``, written on the driver.  The file
        is written under a dot-prefixed temp name, which Spark and
        pyarrow readers skip, then renamed into place: an append is
        atomic, and concurrent appends never share a path."""
        snap = self._snapshot_dir(name, 0)
        os.makedirs(snap, exist_ok=True)
        part = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(snap, f".{part}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(snap, part))
        m = self._read_manifest(name)
        if 0 not in m["committed_epochs"]:
            m["committed_epochs"].append(0)
            m["latest"] = 0
            self._commit_manifest(name, m)

    def has_epoch(self, name: str, epoch: int) -> bool:
        return epoch in self._read_manifest(name)["committed_epochs"]

    def latest_epoch(self, name: str) -> int | None:
        return self._read_manifest(name)["latest"]

    def read_snapshot(self, spark: SparkSession, name: str, epoch: int) -> DataFrame:
        if not self.has_epoch(name, epoch):
            raise FileNotFoundError(f"table {name!r} has no committed epoch {epoch}")
        return spark.read.parquet(self._snapshot_dir(name, epoch))

    def read_latest(self, spark: SparkSession, name: str) -> DataFrame:
        """The ``index: -1`` latest-batch selection of the reference
        (``/root/reference/great_expectations/checkpoints/
        retail_source_checkpoint.yml:42-43``) as a manifest lookup."""
        latest = self.latest_epoch(name)
        if latest is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshots")
        return self.read_snapshot(spark, name, latest)

    def read_latest_arrow(self, name: str, schema: pa.Schema) -> pa.Table:
        """Driver-side read of the latest snapshot of a small table (the
        bookkeeping tables) with pyarrow — no Spark job.  Every file is
        read as ``schema``: Spark writes timestamps as INT96, which
        pyarrow alone would surface as naive ``timestamp[ns]``."""
        latest = self.latest_epoch(name)
        if latest is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshots")
        return pq.read_table(self._snapshot_dir(name, latest), schema=schema)

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
    ) -> int:
        """Small-files compaction: rewrite the latest snapshot of
        ``name`` as a NEW committed epoch with ~``target_file_bytes``
        parquet files.  Streaming ingest and per-batch overwrites leave
        many small files; small files turn a 100 TB scan into task-
        scheduling overhead and kill parquet row-group locality.

        Uses ``coalesce`` (narrow — no shuffle, each output file unions
        whole input files) sized from the snapshot's actual on-disk
        bytes.  The rewrite lands as ``latest+1`` via the same atomic
        manifest flip as any write, so readers never see a partial
        compaction and the pre-compaction epoch stays readable.
        Returns the new epoch."""
        latest = self.latest_epoch(name)
        if latest is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshots")
        snap = self._snapshot_dir(name, latest)
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(snap)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-on_disk // target_file_bytes))
        new_epoch = latest + 1
        self.write_snapshot(
            self.read_snapshot(spark, name, latest).coalesce(n_files),
            name,
            new_epoch,
        )
        return new_epoch

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` committed
        epochs (Iceberg's ``expire_snapshots`` for the fallback
        catalog).  A 10^12-document pipeline re-snapshotting silver and
        gold every checkpoint epoch accretes storage without bound;
        compaction makes it worse by design (every ``compact`` commits
        a full extra copy).

        Commit order makes expiry safe for new readers: the manifest is
        flipped FIRST (so no reader can resolve an expired epoch
        afterwards), the data directories are removed second.  Like
        Iceberg, a reader that already planned its scan against an
        expired epoch is not protected — expire from the maintenance
        path with a retention window that outlives your longest query.
        Returns the expired epochs (empty if nothing to do)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        m = self._read_manifest(name)
        epochs = sorted(m["committed_epochs"])
        expired = epochs[:-keep_last]
        if not expired:
            return []
        m["committed_epochs"] = epochs[-keep_last:]
        m["latest"] = max(m["committed_epochs"])
        self._commit_manifest(name, m)
        for e in expired:
            shutil.rmtree(self._snapshot_dir(name, e), ignore_errors=True)
        return expired

    def remove_orphans(self, name: str, min_age_sec: float = 86_400.0) -> list[int]:
        """Garbage-collect snapshot directories that are NOT in the
        manifest — the debris a killed mid-write run leaves behind (the
        atomic-commit guarantee means a torn write is invisible, not
        free; see ``tests/test_pipeline.py`` kill-mid-gold-write).
        Iceberg's ``remove_orphan_files`` equivalent.

        ``min_age_sec`` guards the race with an in-flight writer whose
        epoch is not committed YET: only directories untouched for that
        long are deleted (default 1 day, Iceberg-style; tests pass 0).
        Returns the removed epoch numbers."""
        m = self._read_manifest(name)
        committed = set(m["committed_epochs"])
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        removed = []
        now = time.time()
        for d in os.listdir(tdir):
            if not d.startswith("snapshot="):
                continue
            epoch = int(d.split("=", 1)[1])
            path = os.path.join(tdir, d)
            if epoch in committed:
                continue
            if now - os.path.getmtime(path) < min_age_sec:
                continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(epoch)
        return sorted(removed)
