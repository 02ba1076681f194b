"""Checkpoint = (batch reference × suite × actions) — the validation
gate between pipeline stages.

Recasts the reference's checkpoint YAML + CLI-subprocess executor
(``/root/reference/dags/validation.py:12-53``,
``great_expectations/checkpoints/retail_source_checkpoint.yml``) as one
library call: resolve the batch, run the fused-agg suite, persist
typed metrics/lineage rows (replacing the Postgres JSON store + the
shredding trigger at ``/root/reference/database-setup/storedb.sql:33-75``),
and raise :class:`GateFailed` to halt downstream stages on failure —
the AirflowException equivalent.

The bookkeeping rows are built on the driver and appended with
pyarrow (:meth:`Catalog.append`): storing them runs no Spark job.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from greatex_spark.expectations.compiler import (
    Compiled,
    GateFailed,
    ValidationResult,
    run_suite,
)
from greatex_spark.expectations.spec import Suite
from greatex_spark.tables import Catalog

METRICS_TABLE = "metrics"
LINEAGE_TABLE = "partition_lineage"

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("expectation_suite_name", T.StringType()),
        T.StructField("expectation_name", T.StringType()),
        T.StructField("expectation_column", T.StringType()),
        T.StructField("run_name", T.StringType()),
        T.StructField("batch_identifier", T.StringType()),
        T.StructField("element_count", T.LongType()),
        T.StructField("unexpected_count", T.LongType()),
        T.StructField("unexpected_percent", T.DoubleType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("successful_outcome", T.BooleanType()),
        T.StructField("success_percent", T.DoubleType()),
        T.StructField("evaluated_expectations", T.IntegerType()),
        T.StructField("run_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("checkpoint_epoch", T.LongType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("checkpoint_epoch", T.LongType()),
        T.StructField("run_name", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
    ]
)


@dataclass
class Checkpoint:
    name: str
    suite: Suite
    raise_on_failure: bool = True
    collect_partial_unexpected: bool = True
    # failure-notification hook — the library-call recast of the
    # reference's EmailAction on failed checkpoints
    # (/root/reference/dags/scripts/python/utils.py:36-52,
    # great_expectations/checkpoints/retail_source_checkpoint.yml:20-34).
    # Called with the ValidationResult BEFORE GateFailed is raised; use
    # log_failure_action for the built-in logging notifier, or plug in
    # pager/email senders.
    on_failure: Callable[["ValidationResult"], None] | None = None


def log_failure_action(validation: ValidationResult) -> None:
    """Built-in on_failure notifier: logs the failed suite and each
    failed expectation (the sandbox stand-in for the reference's SMTP
    EmailAction — same trigger point, same payload)."""
    log = logging.getLogger("greatex_spark.checkpoint")
    stats = validation.statistics
    log.error(
        "checkpoint FAILED: suite=%s batch=%s %d/%d expectations failed",
        validation.suite_name,
        validation.batch_identifier,
        stats["unsuccessful_expectations"],
        stats["evaluated_expectations"],
    )
    for r in validation.results:
        if not r.success:
            log.error(
                "  failed expectation %s(%s): unexpected_count=%s",
                r.expectation_config["expectation_type"],
                r.expectation_config.get("kwargs", {}).get("column", ""),
                r.result.get("unexpected_count"),
            )


def store_metrics(
    spark: SparkSession,
    catalog: Catalog,
    validation: ValidationResult,
    epoch: int,
    key: str | None = None,
) -> None:
    """Append the validation's metrics rows; a ``key`` replaces the rows
    an earlier call stored under the same key (see :meth:`Catalog.append`)."""
    rows = [r | {"checkpoint_epoch": epoch} for r in validation.to_metrics_rows()]
    catalog.append(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(METRICS_SCHEMA)), METRICS_TABLE,
        key=key,
    )


def store_partition_lineage(
    spark: SparkSession,
    catalog: Catalog,
    df: DataFrame,
    table_name: str,
    epoch: int,
    run_name: str,
) -> None:
    """Per-file row counts for the committed snapshot ``df`` — the
    per-partition lineage artifact required by BASELINE.json.  One row
    per data file: the file list is the read's own metadata
    (``inputFiles``) and each count comes from that file's parquet
    footer, so no Spark job runs.  ``partition_id`` is the index of the
    writer task that produced the file (the ``part-NNNNN-`` of Spark's
    file name), not the read-back ``spark_partition_id``: a read may
    pack several small files into one partition."""
    rows = [
        {
            "table_name": table_name,
            "checkpoint_epoch": epoch,
            "run_name": run_name,
            "partition_id": int(re.search(r"/part-(\d+)-[^/]*$", uri).group(1)),
            "row_count": pq.read_metadata(uri).num_rows,
        }
        for uri in sorted(df.inputFiles())
    ]
    catalog.append(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA)), LINEAGE_TABLE
    )


def resolve_checkpoint_suite(
    spark: SparkSession,
    checkpoint: Checkpoint,
    catalog: Catalog | None = None,
    evaluation_parameters: dict | None = None,
) -> Suite:
    """D4: the checkpoint's suite with its ``{"$PARAMETER": ...}`` kwargs
    bound — an explicit mapping wins, else the latest committed values
    from the catalog parameter store (loaded only when the suite
    actually uses markers)."""
    from greatex_spark.expectations.params import (
        load_parameters,
        resolve_suite,
        suite_has_markers,
    )

    params = evaluation_parameters
    if params is None and catalog is not None and suite_has_markers(checkpoint.suite):
        params = load_parameters(spark, catalog)
    return resolve_suite(checkpoint.suite, params)


def run_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    checkpoint: Checkpoint,
    catalog: Catalog | None = None,
    epoch: int = 0,
    run_name: str | None = None,
    batch_identifier: str = "",
    evaluation_parameters: dict | None = None,
    known: dict | None = None,
    compiled: Compiled | None = None,
    record: bool = True,
) -> ValidationResult:
    """Gate ``df``.  ``known`` holds metric values already computed over
    exactly these rows (a snapshot's commit record); the suite scans
    only for the rest.  ``compiled`` is the resolved suite already
    compiled against ``df``'s schema (see :func:`run_suite`).

    A gate is two steps: evaluate (resolve the suite and run it) and
    :func:`record_checkpoint`.  ``record=False`` runs the evaluate step
    only; it stores nothing and raises nothing, so a caller can evaluate
    several gates at once and record them in its own order."""
    suite = resolve_checkpoint_suite(spark, checkpoint, catalog, evaluation_parameters)
    validation = run_suite(
        df,
        suite,
        run_name=run_name,
        batch_identifier=batch_identifier or checkpoint.name,
        collect_partial_unexpected=checkpoint.collect_partial_unexpected,
        known=known,
        compiled=compiled,
    )
    if not record:
        return validation
    return record_checkpoint(spark, validation, checkpoint, catalog, epoch, run_name)


def record_checkpoint(
    spark: SparkSession,
    validation: ValidationResult,
    checkpoint: Checkpoint,
    catalog: Catalog | None = None,
    epoch: int = 0,
    run_name: str | None = None,
) -> ValidationResult:
    """The record step of a gate: store the validation's metrics and
    parameters (with a catalog), call ``on_failure`` and raise
    :class:`GateFailed` on a failed validation."""
    from greatex_spark.expectations.params import (
        store_parameters,
        validation_parameters,
    )

    if catalog is not None:
        store_metrics(spark, catalog, validation, epoch)
        # StoreEvaluationParametersAction recast (SURVEY §2 D4): publish
        # the observed metrics so later gates can bound themselves with
        # {"$PARAMETER": ...} kwargs — see expectations/params.py
        store_parameters(
            spark,
            catalog,
            validation_parameters(validation),
            suite_name=validation.suite_name,
            run_name=run_name,
            epoch=epoch,
        )
    if not validation.success and checkpoint.on_failure is not None:
        checkpoint.on_failure(validation)
    if checkpoint.raise_on_failure and not validation.success:
        raise GateFailed(validation)
    return validation
