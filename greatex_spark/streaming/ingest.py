"""Streaming ingest of page files with validation gates.

``gated_ingest`` recasts the reference's gate-at-every-hop design
(``/root/reference/dags/retail_data_pipeline.py:110-122``) for
continuous arrival: each micro-batch is validated against the source
suite *before* it is appended to bronze, failed batches are quarantined
instead of halting the stream, and every batch appends typed lineage
rows to the metrics table.  ``Trigger.AvailableNow`` drains whatever
has landed and stops — the streaming equivalent of the reference's
daily batch run, but resumable at file granularity via the streaming
checkpoint (kill and re-run: already-committed files are skipped).
``foreachBatch`` delivery is at-least-once; the per-batch write
dynamic-overwrites its own ``__batch_id`` partition, so a replayed
batch lands on top of itself — effective exactly-once output.

Scale notes: the file source lists the landing dir incrementally
(``maxFilesPerTrigger`` caps batch width).  The suite is compiled once
per query (the page schema is fixed) and the gate is one Spark job per
micro-batch: the url column collected as Arrow for the exact uniqueness
check, counted on the driver, with the suite's other metrics observed
on the same pass (see ``expectations.compiler.run_suite``).  A
micro-batch whose size estimate is above
``spark.sql.autoBroadcastJoinThreshold`` is aggregated by Spark instead
(about three jobs with adaptive execution).  The gate metrics of a
batch are stored under a name keyed by (checkpoint location, suite,
batch id), so a replayed batch replaces its metrics rows as its output
replaces its rows.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greatex_spark.expectations.compiler import compile_suite, run_suite
from greatex_spark.expectations.spec import Suite
from greatex_spark.sources.files import PAGE_SCHEMA
from greatex_spark.tables import SNAPSHOT_CODEC, Catalog


def gated_ingest(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    suite: Suite,
    max_files_per_trigger: int | None = None,
    catalog: Catalog | None = None,
) -> None:
    """Drain the landing directory into bronze, one validated
    micro-batch at a time (blocking until drained).

    ``catalog``, when given, appends each micro-batch's typed gate
    metrics to the SAME ``metrics`` table the batch checkpoints use
    (``pipeline.checkpoint.store_metrics``, batch_id as the epoch) —
    batch and streaming runs share one lineage store."""
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(landing_dir)
    # every micro-batch has the stream's schema
    compiled = compile_suite(stream, suite)
    # this query's metrics files: a second stream on the same catalog
    # has another checkpoint location, so another prefix
    stream_key = hashlib.sha1(
        f"{os.path.abspath(checkpoint_dir)}\0{suite.name}".encode()
    ).hexdigest()[:16]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        vr = run_suite(
            batch_df,
            suite,
            batch_identifier=f"stream-batch-{batch_id}",
            collect_partial_unexpected=False,
            compiled=compiled,
        )
        if catalog is not None:
            # same typed store as the batch gates — one metrics table
            # for the whole lake, streaming epochs keyed by batch_id; a
            # replay of the batch replaces its file
            from greatex_spark.pipeline.checkpoint import store_metrics

            store_metrics(
                spark, catalog, vr, epoch=batch_id, key=f"stream-{stream_key}-{batch_id}"
            )
        target = bronze_dir if vr.success else quarantine_dir
        # idempotent write: foreachBatch is at-least-once — a crash
        # between the write and the checkpoint commit replays the batch.
        # Dynamic-overwriting the __batch_id=<id> partition makes the
        # replay a no-op instead of duplicating rows (effective
        # exactly-once for the committed output).
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("compression", SNAPSHOT_CODEC)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(target)
        )

    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

