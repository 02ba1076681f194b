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
- **commit record**: each snapshot directory holds a ``_commit.json``
  with the Spark schema, the data file names and the metrics the write
  observed (``DataFrame.observe``), written before the manifest flip.
  Reads use the recorded schema, so no schema-inference job runs, and a
  gate takes the recorded metrics instead of scanning for them.  A
  record whose file list differs from the directory, or a missing one,
  is ignored: the read infers the schema and the gate scans.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import types as T

COMMIT_RECORD = "_commit.json"
# parquet codec of every snapshot (stage tables and compactions); the
# driver-written bookkeeping appends keep pyarrow's default, because on
# their ~10-row files zstd makes them larger, not smaller
SNAPSHOT_CODEC = "zstd"


def _replace_json(path: str, obj: Any) -> None:
    """Write ``obj`` to ``path`` atomically: a dot-prefixed temp file in
    the same directory (invisible to Spark readers), then ``os.replace``."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".", suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


def _as_nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and value nullable: the schema a
    parquet read of data written as ``t`` reports."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


# metric values JSON cannot hold exactly travel as tagged strings
_TAGGED = {
    "decimal": (Decimal, str, Decimal),
    "timestamp": (dt.datetime, dt.datetime.isoformat, dt.datetime.fromisoformat),
    "date": (dt.date, dt.date.isoformat, dt.date.fromisoformat),
}
_PLAIN = (type(None), bool, int, float, str)


def _encode_metrics(values: dict[str, Any]) -> dict[str, Any]:
    """Encode for JSON; a value of any other type is left out, so a gate
    computes that metric by a scan."""
    out: dict[str, Any] = {}
    for k, v in values.items():
        if isinstance(v, _PLAIN):
            out[k] = v  # floats round-trip exactly through their repr
            continue
        for tag, (cls, enc, _) in _TAGGED.items():
            if isinstance(v, cls):
                out[k] = {tag: enc(v)}
                break
    return out


def _decode_metrics(values: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in values.items():
        if isinstance(v, dict):
            ((tag, text),) = v.items()
            v = _TAGGED[tag][2](text)
        out[k] = v
    return out


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
        _replace_json(self._manifest_path(name), manifest)  # atomic pointer flip

    @staticmethod
    def _data_files(snap: str) -> list[str]:
        """The files a Spark read of ``snap`` scans (it skips ``_`` and
        ``.`` names)."""
        return sorted(f for f in os.listdir(snap) if not f.startswith(("_", ".")))

    def _commit_record(self, name: str, epoch: int) -> dict | None:
        """The snapshot's commit record; ``None`` when it is missing (a
        snapshot written before records existed) or its file list no
        longer matches the directory."""
        snap = self._snapshot_dir(name, epoch)
        try:
            with open(os.path.join(snap, COMMIT_RECORD)) as f:
                record = json.load(f)
        except FileNotFoundError:
            return None
        return record if record["files"] == self._data_files(snap) else None

    # ------------------------------------------------------------------

    def write_snapshot(
        self, df: DataFrame, name: str, epoch: int, observe: Sequence[Column] = ()
    ) -> dict[str, Any]:
        """Replace snapshot ``epoch`` of ``name`` and commit it.

        ``observe`` holds aggregate columns, each aliased to the key it
        is recorded under; the write computes them over the rows it
        writes (``DataFrame.observe``), with no extra scan.  Returns
        their values, which the commit record keeps."""
        snap = self._snapshot_dir(name, epoch)
        if os.path.exists(snap):
            shutil.rmtree(snap)  # re-run of a committed epoch: replace
        observation = Observation() if observe else None
        if observation is not None:
            df = df.observe(observation, *observe)
        df.write.mode("overwrite").option("compression", SNAPSHOT_CODEC).parquet(snap)
        values = observation.get if observation is not None else {}
        _replace_json(
            os.path.join(snap, COMMIT_RECORD),
            {
                "schema": _as_nullable(df.schema).jsonValue(),
                "files": self._data_files(snap),
                "metrics": _encode_metrics(values),
            },
        )
        m = self._read_manifest(name)
        if epoch not in m["committed_epochs"]:
            m["committed_epochs"] = sorted(m["committed_epochs"] + [epoch])
        m["latest"] = max(m["committed_epochs"])
        self._commit_manifest(name, m)
        return values

    def append(self, table: pa.Table, name: str, key: str | None = None) -> None:
        """Append ``table`` to the append-only table ``name`` as one
        parquet file in its latest snapshot (``snapshot=0`` until a
        :meth:`compact` commits a new one), written on the driver.  The
        file is written under a dot-prefixed temp name, which Spark and
        pyarrow readers skip, then renamed into place: an append is
        atomic, and concurrent appends never share a path.

        ``key`` names the file instead of a fresh uuid: a second append
        under the same key replaces the first one, so a writer that may
        repeat itself (a replayed micro-batch) keys its rows by what it
        is repeating.  A compaction rewrites keyed files under Spark's
        part names, so a later append under a key stored before it adds
        its rows next to the compacted ones instead of replacing them.

        A compacted epoch has a commit record; the append keeps its file
        list true to the directory, so reads still skip schema inference,
        and drops its metrics, which no longer cover the rows."""
        m = self._read_manifest(name)
        epoch = 0 if m["latest"] is None else m["latest"]
        snap = self._snapshot_dir(name, epoch)
        os.makedirs(snap, exist_ok=True)
        record = self._commit_record(name, epoch)
        part = f"part-{key or uuid.uuid4().hex}.parquet"
        tmp = os.path.join(snap, f".{part}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(snap, part))
        if record is not None:
            record.update(files=self._data_files(snap), metrics={})
            _replace_json(os.path.join(snap, COMMIT_RECORD), record)
        if epoch not in m["committed_epochs"]:
            m["committed_epochs"].append(epoch)
            m["latest"] = epoch
            self._commit_manifest(name, m)

    def has_epoch(self, name: str, epoch: int) -> bool:
        return epoch in self._read_manifest(name)["committed_epochs"]

    def latest_epoch(self, name: str) -> int | None:
        return self._read_manifest(name)["latest"]

    def read_snapshot(self, spark: SparkSession, name: str, epoch: int) -> DataFrame:
        if not self.has_epoch(name, epoch):
            raise FileNotFoundError(f"table {name!r} has no committed epoch {epoch}")
        record = self._commit_record(name, epoch)
        reader = spark.read
        if record is not None:
            reader = reader.schema(T.StructType.fromJson(record["schema"]))
        return reader.parquet(self._snapshot_dir(name, epoch))

    def snapshot_metrics(self, name: str, epoch: int) -> dict[str, Any]:
        """The metric values the write of snapshot ``epoch`` observed;
        ``{}`` when its commit record is missing or stale."""
        record = self._commit_record(name, epoch)
        return {} if record is None else _decode_metrics(record["metrics"])

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
