"""Structured Streaming extension: incremental, gated, resumable ingest.

The reference is batch-only (daily cron, SURVEY.md §2 "Streaming:
none"); this layer is the Spark-first extension for continuous arrival
of page files: ``readStream`` over a landing directory with the
enforced page schema, ``Trigger.AvailableNow`` micro-batches,
per-micro-batch validation gates + lineage via ``foreachBatch``, and
exactly-once resume from the streaming checkpoint (files already
committed to the checkpoint are never reprocessed).
"""

from greatex_spark.streaming.ingest import gated_ingest  # noqa: F401
