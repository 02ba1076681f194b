"""The staged, gated, resumable pipeline — EP1 recast.

Reference flow (``/root/reference/dags/retail_data_pipeline.py:110-122``):
validate source → extract → validate raw → transform → validate stage
→ load → validate warehouse → final transform → validate dest.

Here: four snapshot tables, a gate after each write, all inside one
SparkSession:

    bronze (pages)          ← gate: source_suite (schema, url unique,
                                     extraction byte-identity)
    silver (featurized)     ← gate: silver_suite
    kept   (filter + dedup) ← gate: kept_suite (keep-rate corridor)
    gold   (public columns) ← gate: gold_suite (no residual PII)

Resumability (BASELINE.json "resumable from the last committed
snapshot"): each stage's output is committed to the catalog under the
run's ``epoch``; on re-run with ``resume=True`` any stage whose epoch
is already committed is *skipped* — the run picks up exactly after
the last committed snapshot.  Re-running a completed epoch is
idempotent: snapshots are replaced, not appended (the reference's
DROP-and-recreate idempotency, without losing history).

Gates validate the rows handed to the writer: each stage write
observes its suite's metrics (``DataFrame.observe``) and commits them
with the snapshot, and the gate reads them from that commit record.
Only the exact-distinct metrics (url uniqueness) read the committed
files: one job collects the url column as Arrow and the driver counts
it, or, for a snapshot above ``spark.sql.autoBroadcastJoinThreshold``,
Spark aggregates it.  The parquet round trip is lossless for the stage
tables' column types, so what was validated is exactly what the next
stage reads.  A resume gates the same way, from the record of the
committed snapshot.

Every stage goes through one evaluate step and one record step.  A
missing stage is computed, written with its observed metrics and
lineage, and evaluated inline with the suite it compiled for the
write.  A resume starts the evaluation of every committed stage at
once, on a small thread pool (one thread per committed stage), because
each reads only its own snapshot and commit record.  The runner then
records each stage's gate in order: storing metrics and parameters,
``on_failure`` and ``GateFailed`` stay in stage order, a missing stage
is computed only after the previous gate passed, and an evaluation
that finishes after an earlier failure is discarded.
"""

from __future__ import annotations

import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greatex_spark.expectations.compiler import (
    ELEMENT_COUNT,
    Compiled,
    ValidationResult,
    compile_suite,
)
from greatex_spark.pipeline.checkpoint import (
    Checkpoint,
    record_checkpoint,
    resolve_checkpoint_suite,
    run_checkpoint,
    store_partition_lineage,
)
from greatex_spark.pipeline.stages import (
    PipelineConfig,
    dedup,
    featurize,
    filter_kept,
    gold_projection,
    trim_substrings,
)
from greatex_spark.pipeline import suites as S
from greatex_spark.tables import Catalog

BRONZE, SILVER, KEPT, GOLD = "pages_bronze", "pages_silver", "pages_kept", "pages_gold"
STAGES = (BRONZE, SILVER, KEPT, GOLD)


@dataclass
class PipelineResult:
    run_name: str
    epoch: int
    validations: dict[str, ValidationResult] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    maintenance: dict[str, dict[str, list[int]]] = field(default_factory=dict)

    def summary(self) -> dict[str, Any]:
        return {
            "run_name": self.run_name,
            "epoch": self.epoch,
            "counts": dict(self.counts),
            "skipped": list(self.skipped),
            "gates": {
                k: v.statistics["success_percent"] for k, v in self.validations.items()
            },
        }


def _evaluate(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    epoch: int,
    run_name: str,
    checkpoint: Checkpoint,
    compiled: Compiled | None = None,
) -> tuple[DataFrame, ValidationResult]:
    """The evaluate step of a stage's gate: read the committed snapshot
    ``epoch`` of ``table`` and run the suite on the metrics its commit
    record holds, scanning only for the rest; stores nothing.
    ``compiled`` is the suite compiled for the write, when this run
    wrote the snapshot."""
    committed = catalog.read_snapshot(spark, table, epoch)
    return committed, run_checkpoint(
        spark, committed, checkpoint, catalog, epoch, run_name, f"{table}@{epoch}",
        known=catalog.snapshot_metrics(table, epoch), compiled=compiled, record=False,
    )


def _kept_checkpoint(n_bronze: int, config: PipelineConfig) -> Checkpoint:
    lo = int(n_bronze * config.keep_fraction_band[0])
    hi = int(n_bronze * config.keep_fraction_band[1])
    return Checkpoint("kept", S.kept_suite(lo, hi))


def _bronze_source(
    source_df: DataFrame | None, epoch: int, config: PipelineConfig
) -> DataFrame:
    if source_df is None:
        raise ValueError(f"epoch {epoch} has no committed bronze; source_df required")
    if not config.extract_from_html:
        return source_df
    # crawl feeds with raw html only: derive text at ingest via the
    # codegen'd regexp extraction (functions/html.py); rows that
    # already carry text keep it
    from greatex_spark.functions.html import html_to_text

    return source_df.withColumn(
        "text",
        F.coalesce(
            F.nullif(F.col("text"), F.lit("")),
            html_to_text(F.decode(F.col("html"), "UTF-8")),
        ),
    )


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    epoch: int,
    source_df: DataFrame | None = None,
    config: PipelineConfig | None = None,
    run_name: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Run (or resume) one epoch of the quality-filter pipeline.

    ``source_df`` is required the first time an epoch runs; afterwards
    the committed bronze snapshot is the source of truth and
    ``source_df`` may be omitted.
    """
    config = config or PipelineConfig()
    run_name = run_name or f"run-{uuid.uuid4().hex[:12]}"
    committed = [t for t in STAGES if resume and catalog.has_epoch(t, epoch)]
    result = PipelineResult(run_name=run_name, epoch=epoch, skipped=list(committed))
    checkpoints = {
        BRONZE: Checkpoint("source", S.source_suite(html_extracted=config.extract_from_html)),
        SILVER: Checkpoint("silver", S.silver_suite()),
        GOLD: Checkpoint("gold", S.gold_suite(config.target_lang)),
    }
    frames: dict[str, DataFrame] = {}
    computes = {
        BRONZE: lambda: _bronze_source(source_df, epoch, config),
        SILVER: lambda: featurize(frames[BRONZE], config),
        KEPT: lambda: trim_substrings(dedup(filter_kept(frames[SILVER]), config), config),
        GOLD: lambda: gold_projection(frames[KEPT]),
    }
    n_recorded = (
        catalog.snapshot_metrics(BRONZE, epoch).get(ELEMENT_COUNT)
        if BRONZE in committed else None
    )
    pool = ThreadPoolExecutor(len(committed), "gate") if committed else None
    gates: dict[str, Future] = {}
    try:
        for table in STAGES:
            # the kept corridor comes from bronze's count(1): recorded by
            # bronze's write when bronze is committed, else bronze's gate
            n_bronze = result.counts.get(BRONZE, n_recorded)
            if KEPT not in checkpoints and n_bronze is not None:
                checkpoints[KEPT] = _kept_checkpoint(int(n_bronze), config)
            for t in committed:
                if t in checkpoints and t not in gates:
                    # the wrap hands this thread's Spark local properties
                    # (job group, description, scheduler pool) and tags on
                    # to the gate's thread
                    gates[t] = pool.submit(
                        inheritable_thread_target(spark)(_evaluate),
                        spark, catalog, t, epoch, run_name, checkpoints[t],
                    )
            checkpoint = checkpoints[table]
            if table in gates:
                frames[table], validation = gates[table].result()
            else:
                checkpoint = replace(
                    checkpoint, suite=resolve_checkpoint_suite(spark, checkpoint, catalog)
                )
                df = computes[table]()
                # compiled once: the snapshot has the schema of the frame
                compiled = compile_suite(df, checkpoint.suite)
                catalog.write_snapshot(
                    df, table, epoch, [m.column for m in compiled[0] if m.observable]
                )
                frames[table], validation = _evaluate(
                    spark, catalog, table, epoch, run_name, checkpoint, compiled
                )
                store_partition_lineage(spark, catalog, frames[table], table, epoch, run_name)
            result.validations[checkpoint.name] = record_checkpoint(
                spark, validation, checkpoint, catalog, epoch, run_name
            )
            result.counts[table] = validation.element_count
    finally:
        if pool is not None:
            # after a failed gate, wait out the later gates' scans; their
            # results are never recorded
            pool.shutdown(cancel_futures=True)
    # D5 recast: one markdown report per run next to the catalog, plus
    # the HTML data-docs page + index (the reference's static site)
    from greatex_spark.pipeline.report import write_data_docs, write_run_report

    write_run_report(catalog.root, run_name, epoch, result.validations, result.counts)
    write_data_docs(catalog.root, run_name, epoch, result.validations, result.counts)

    # -- retention (opt-in) ------------------------------------------------
    # only after every gate of THIS run passed and its epoch is fully
    # committed: expire staged-table epochs beyond the resume window and
    # GC torn-write orphan directories.  The append-only metrics/lineage
    # tables are never expired — they are the audit trail.
    if config.retain_epochs is not None:
        for table in STAGES:
            result.maintenance[table] = {
                "expired_epochs": catalog.expire_snapshots(
                    table, keep_last=config.retain_epochs
                ),
                "orphans_removed": catalog.remove_orphans(
                    table, min_age_sec=config.orphan_min_age_sec
                ),
            }
    return result
