"""Compile a declarative Suite into ONE Spark job.

The reference evaluates each expectation of a gate as its own query or
pandas op (~23 scans per checkpoint — SURVEY.md §4 "single-pass
multi-metric: absent").  Here every metric of a suite becomes a Column
expression and the whole suite runs as a single ``df.agg(...)`` job:
one scan, partition-local partial aggregation, tiny driver-side merge —
the classic partial/final agg Catalyst already implements (or, with
exact distinct counts on a small frame, one Arrow collect; see the
scale notes).  Schema expectations evaluate driver-side with zero jobs.
The only extra work is one small, deterministic follow-up job per
*failed* row-level expectation to collect its ``partial_unexpected_list``
(lowest-first, ``LIMIT 20``), mirroring the result-document contract of
``/root/reference/great_expectations/validations.json:29-65``.

Scale notes (100 TB): the fused agg is a full scan + map-side combine;
no shuffle except the final single-row merge.  Exact distinct counts
(url uniqueness) cannot be observed or fused without a shuffle, so when
the frame is small enough for one process they are counted on the
driver: one Arrow collect of their columns (with the suite's other
missing metrics observed on the same job) hashed by ``pyarrow.compute``.
"Small enough" is Spark's own broadcast line: the optimizer's size
estimate of that collect is at most ``spark.sql.autoBroadcastJoinThreshold``.
A larger frame, one with no size estimate, or a column whose Arrow
equality is not Spark's (doubles, collated strings) keeps the fused
``count(DISTINCT)`` (one shuffle) — flag ``approx=True`` in kwargs to use
``approx_count_distinct`` (HLL, shuffle-free partials) on huge tables.
Partial-unexpected collection only scans on failure and is bounded by
``distinct().orderBy().limit(20)``.

Every metric carries a key, its expression text, so a value computed
elsewhere can stand in for it: :func:`run_suite` takes a ``known`` map
(the metrics a stage write observed, see ``tables.Catalog``) and
aggregates only what is missing from it.
"""

from __future__ import annotations

import datetime as _dt
import uuid
from collections.abc import Mapping
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from greatex_spark.expectations.spec import Expectation, Suite

ENGINE_VERSION = "greatex_spark-0.1.0"

# ---------------------------------------------------------------------------
# strftime → Spark (java.time) datetime pattern translation, for parity with
# the reference's expect_column_values_to_match_strftime_format
# (/root/reference/dags/scripts/python/retail_load.py:163-165).
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%%": "%",
}


def strftime_to_spark(fmt: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok not in _STRFTIME_MAP:
                raise ValueError(f"unsupported strftime token {tok!r} in {fmt!r}")
            out.append(_STRFTIME_MAP[tok])
            i += 2
        else:
            # escape literal letters for java.time patterns
            out.append(f"'{fmt[i]}'" if fmt[i].isalpha() else fmt[i])
            i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Engine-type normalization for expect_column_values_to_be_in_type_list.
# The reference uses per-engine vocabularies (SQL types vs pandas dtypes,
# SURVEY.md §1.2); we accept all three vocabularies and normalize to Spark
# simple strings so suites written against the reference keep working.
_TYPE_ALIASES = {
    "varchar": "string",
    "text": "string",
    "str": "string",
    "object": "string",
    "char": "string",
    "integer": "int",
    "int32": "int",
    "int64": "bigint",
    "long": "bigint",
    "int16": "smallint",
    "short": "smallint",
    "float64": "double",
    "float32": "float",
    "numeric": "decimal",
    "datetime64[ns]": "timestamp",
    "bool": "boolean",
}


def normalize_type(t: str) -> str:
    t = t.strip().lower()
    if "(" in t:  # VARCHAR(16) → varchar ; decimal(8,3) → decimal
        t = t.split("(", 1)[0]
    return _TYPE_ALIASES.get(t, t)


# ---------------------------------------------------------------------------


@dataclass
class ExpectationResult:
    """Per-expectation outcome; shape mirrors the golden result block of
    ``/root/reference/great_expectations/validations.json:29-65``."""

    expectation_config: dict[str, Any]
    success: bool
    result: dict[str, Any] = field(default_factory=dict)
    exception_info: dict[str, Any] = field(
        default_factory=lambda: {"raised_exception": False, "exception_message": None}
    )


@dataclass
class ValidationResult:
    """Suite-level outcome; shape mirrors the golden document
    (meta / results / success / statistics blocks,
    ``/root/reference/great_expectations/validations.json:1-121``)."""

    suite_name: str
    run_name: str
    run_time: _dt.datetime
    end_time: _dt.datetime
    batch_identifier: str
    results: list[ExpectationResult]
    success: bool
    statistics: dict[str, Any]
    # the validated frame's count(1), the suite's first metric; not part
    # of the golden document or the metrics rows
    element_count: int

    def to_dict(self) -> dict[str, Any]:
        return {
            "meta": {
                "run_id": {"run_name": self.run_name, "run_time": self.run_time.isoformat()},
                "expectation_suite_name": self.suite_name,
                "validation_time": self.end_time.isoformat(),
                "batch_spec": {"batch_identifier": self.batch_identifier},
                "engine_version": ENGINE_VERSION,
            },
            "results": [
                {
                    "expectation_config": r.expectation_config,
                    "result": r.result,
                    "success": r.success,
                    "exception_info": r.exception_info,
                }
                for r in self.results
            ],
            "success": self.success,
            "statistics": dict(self.statistics),
        }

    def to_metrics_rows(self) -> list[dict[str, Any]]:
        """Flattened lineage rows (one per expectation), the typed-column
        equivalent of the JSON-shredding trigger at
        ``/root/reference/database-setup/storedb.sql:33-75``."""
        rows = []
        for r in self.results:
            res = r.result
            rows.append(
                {
                    "expectation_suite_name": self.suite_name,
                    "expectation_name": r.expectation_config["expectation_type"],
                    "expectation_column": str(
                        r.expectation_config.get("kwargs", {}).get("column", "")
                    ),
                    "run_name": self.run_name,
                    "batch_identifier": self.batch_identifier,
                    "element_count": int(res.get("element_count") or 0),
                    "unexpected_count": int(res.get("unexpected_count") or 0),
                    "unexpected_percent": float(res.get("unexpected_percent") or 0.0),
                    "success": bool(r.success),
                    "successful_outcome": bool(self.success),
                    "success_percent": float(self.statistics["success_percent"]),
                    "evaluated_expectations": int(self.statistics["evaluated_expectations"]),
                    "run_time": self.run_time,
                    "end_time": self.end_time,
                    "duration": (self.end_time - self.run_time).total_seconds(),
                }
            )
        return rows


class GateFailed(Exception):
    """Raised by gates when a suite fails — the library-call equivalent of
    the reference's AirflowException on checkpoint rc != 0
    (``/root/reference/dags/validation.py:33-49``)."""

    def __init__(self, validation: ValidationResult):
        self.validation = validation
        stats = validation.statistics
        super().__init__(
            f"suite {validation.suite_name!r} failed: "
            f"{stats['unsuccessful_expectations']}/{stats['evaluated_expectations']} "
            f"expectations failed ({stats['success_percent']:.1f}% success)"
        )


# ---------------------------------------------------------------------------
# Row-level condition compilation


def _row_level_condition(exp: Expectation, df: DataFrame) -> tuple[Column, Column]:
    """Return (unexpected_condition, value_column) for a row-level
    expectation.  Nulls are never unexpected except for not_be_null —
    documented engine semantics (our pytest/DuckDB oracles use the same)."""
    k = exp.kwargs
    t = exp.expectation_type
    if t == "expect_values_to_satisfy_expression":
        expr = F.expr(k["expression"])
        return ~F.coalesce(expr, F.lit(False)), F.expr(k.get("value_expr", k["expression"]))
    col = F.col(k["column"])
    if t == "expect_column_values_to_not_be_null":
        return col.isNull(), col
    if t == "expect_column_values_to_be_in_set":
        return (~col.isin(list(k["value_set"])) & col.isNotNull()), col
    if t == "expect_column_values_to_match_strftime_format":
        fmt = strftime_to_spark(k["strftime_format"])
        return (
            F.try_to_timestamp(col, F.lit(fmt)).isNull() & col.isNotNull(),
            col,
        )
    if t == "expect_column_values_to_be_between":
        cond = F.lit(False)
        if k.get("min_value") is not None:
            cond = cond | (col < F.lit(k["min_value"]))
        if k.get("max_value") is not None:
            cond = cond | (col > F.lit(k["max_value"]))
        return cond & col.isNotNull(), col
    if t == "expect_column_value_lengths_to_be_between":
        ln = F.length(col)
        cond = F.lit(False)
        if k.get("min_value") is not None:
            cond = cond | (ln < F.lit(int(k["min_value"])))
        if k.get("max_value") is not None:
            cond = cond | (ln > F.lit(int(k["max_value"])))
        return cond & col.isNotNull(), col
    if t == "expect_column_values_to_match_regex":
        return (~col.rlike(k["regex"]) & col.isNotNull()), col
    if t == "expect_column_values_to_not_match_regex":
        return (col.rlike(k["regex"]) & col.isNotNull()), col
    raise ValueError(f"not a fusable row-level expectation: {t}")


def _between_success(observed: Any, min_value: Any, max_value: Any) -> bool:
    if observed is None:
        return False
    ok = True
    if min_value is not None:
        ok = ok and observed >= min_value
    if max_value is not None:
        ok = ok and observed <= max_value
    return bool(ok)


# ---------------------------------------------------------------------------


ELEMENT_COUNT = "count(1)"  # the key of F.count(F.lit(1)), every suite's first metric


@dataclass(frozen=True, eq=False)
class Metric:
    """One aggregate of the fused agg.  ``key`` is the expression text
    without an alias, so it does not depend on where the metric sits in
    the suite, and a changed bound is a different key.

    ``distinct`` is ``(column, form)`` for an exact DISTINCT count, which
    Spark rejects in ``DataFrame.observe``; such a metric is never taken
    from a ``known`` map.  Its form is one of :data:`DISTINCT_FORMS`.
    Its text drops the DISTINCT flag (``count(DISTINCT x)`` prints as
    ``count(x)``), so its key is prefixed ``distinct:``.  GE's
    every-member count has no fused form: its ``column`` is None."""

    key: str
    column: Column | None  # aliased to ``key``
    distinct: tuple[str, str] | None = None

    @property
    def observable(self) -> bool:
        return self.distinct is None


def _count_distinct(values: pa.ChunkedArray) -> int:
    return pc.count_distinct(values, mode="only_valid").as_py()


def _every_member(values: pa.ChunkedArray) -> int:
    counts = pc.value_counts(values.drop_null()).field("counts")
    return pc.sum(pc.filter(counts, pc.greater(counts, 1))).as_py() or 0


# what a DISTINCT metric counts over the non-null values of its column,
# computed on the driver from the collected Arrow column
DISTINCT_FORMS = {
    # expect_column_unique_value_count_to_be_between
    "count_distinct": _count_distinct,
    # expect_column_values_to_be_unique: excess duplicates
    "excess": lambda v: len(v) - v.null_count - _count_distinct(v),
    # expect_column_values_to_be_unique(exact=True): every member of a
    # duplicate group, GE's count
    "every_member": _every_member,
}


def _metric(expr: Column | None, distinct: tuple[str, str] | None = None) -> Metric:
    if distinct is None:
        key = expr._jc.toString()
    elif expr is None:
        key = f"distinct:{distinct[1]}({distinct[0]})"
    else:
        key = f"distinct:{expr._jc.toString()}"
    return Metric(key, None if expr is None else expr.alias(key), distinct)


Compiled = tuple[list[Metric], dict[int, dict[str, Any]]]


def compile_suite(df: DataFrame, suite: Suite) -> Compiled:
    """Build the fused metric list (deduplicated by key) plus a
    per-expectation plan map used by :func:`run_suite` to finalize
    results; a plan's ``metric`` is a metric key."""
    by_key: dict[str, Metric] = {}

    def add(expr: Column | None, distinct: tuple[str, str] | None = None) -> str:
        m = _metric(expr, distinct)
        by_key.setdefault(m.key, m)
        return m.key

    add(F.count(F.lit(1)))
    plan: dict[int, dict[str, Any]] = {}
    columns = set(df.columns)
    for i, exp in enumerate(suite.expectations):
        t = exp.expectation_type
        k = exp.kwargs
        # a bad column/expression must not poison the fused agg job for the
        # whole suite — degrade that one expectation to a compile error
        if "column" in k and k["column"] not in columns and t != (
            "expect_table_columns_to_match_ordered_list"
        ):
            plan[i] = {
                "kind": "compile_error",
                "message": f"KeyError: column {k['column']!r} not in {sorted(columns)}",
            }
            continue
        if t == "expect_table_columns_to_match_ordered_list":
            plan[i] = {"kind": "schema_columns"}
        elif t == "expect_column_values_to_be_in_type_list":
            plan[i] = {"kind": "schema_type"}
        elif t == "expect_table_row_count_to_be_between":
            plan[i] = {"kind": "row_count"}
        elif t in (
            "expect_column_min_to_be_between",
            "expect_column_max_to_be_between",
            "expect_column_mean_to_be_between",
            "expect_column_sum_to_be_between",
            "expect_column_stdev_to_be_between",
        ):
            stat = t.split("_")[2]
            fn = {
                "min": F.min,
                "max": F.max,
                "mean": F.avg,
                "sum": F.sum,
                "stdev": F.stddev_samp,  # sample stddev, like GE / SQL STDDEV
            }[stat]
            col = F.col(k["column"])
            integral = stat == "sum" and dict(df.dtypes).get(k["column"]) in (
                "tinyint", "smallint", "int", "bigint"
            )
            if integral:
                # int64 sum over ~10^12 rows overflows (job-killing under
                # ANSI); accumulate exactly in DECIMAL(38,0) — finalize
                # converts the Decimal back to an exact Python int
                col = col.cast("decimal(38,0)")
            plan[i] = {"kind": "aggregate", "metric": add(fn(col)), "integral": integral}
        elif t == "expect_column_quantile_to_be_between":
            # exact interpolated percentile (SQL PERCENTILE_CONT semantics);
            # for huge tables pass approx=True → approx_percentile partials
            q = float(k["quantile"])
            if k.get("approx"):
                expr = F.percentile_approx(F.col(k["column"]), F.lit(q))
            else:
                expr = F.percentile(F.col(k["column"]), F.lit(q))
            plan[i] = {"kind": "aggregate", "metric": add(expr)}
        elif t == "expect_column_unique_value_count_to_be_between":
            if k.get("approx"):
                key = add(F.approx_count_distinct(F.col(k["column"])))
            else:
                key = add(
                    F.count_distinct(F.col(k["column"])), (k["column"], "count_distinct")
                )
            plan[i] = {"kind": "aggregate", "metric": key}
        elif t == "expect_column_values_to_be_unique" and k.get("exact"):
            # opt-in GE-EXACT semantics: unexpected = every member of a
            # duplicate group (GE counts all rows whose value occurs
            # more than once).  Counted on the driver with the other
            # distinct metrics; where run_suite cannot, a dedicated
            # groupBy job — one extra shuffle, which is why the fused
            # excess-duplicates variant below stays the default.  Gate
            # outcomes are identical at mostly=1.0; exact=True closes
            # the sub-1.0 divergence documented in README "Divergences
            # from Great Expectations".
            plan[i] = {
                "kind": "unique_exact", "metric": add(None, (k["column"], "every_member"))
            }
        elif t == "expect_column_values_to_be_unique":
            # unexpected = excess duplicates = count(col) −
            # count_distinct(col).  (GE counts every member of a
            # duplicate group; the excess count is 0 exactly when GE's
            # is 0, so gate outcomes at mostly=1.0 are identical.  At
            # mostly<1.0 the unexpected% is LOWER than GE's — roughly
            # halved when duplicates come in pairs — so a sub-1.0
            # mostly gate can pass here where GE would fail.
            # Documented engine semantics (README "Divergences from
            # Great Expectations"), chosen so the suite needs NO
            # auxiliary groupBy shuffle.  approx=True → HLL partials for
            # huge tables; the greatest(0, ·) clamp guards the HLL
            # overestimate case, where count−approx_distinct can go
            # negative and a negative percent would silently pass.)
            approx = bool(k.get("approx"))
            agg_fn = F.approx_count_distinct if approx else F.count_distinct
            col = F.col(k["column"])
            key = add(
                F.greatest(F.count(col) - agg_fn(col), F.lit(0)).cast("long"),
                None if approx else (k["column"], "excess"),
            )
            plan[i] = {"kind": "unique_fused", "metric": key}
        elif exp.is_row_level:
            try:
                cond, value_col = _row_level_condition(exp, df)
            except Exception as ex:
                plan[i] = {"kind": "compile_error", "message": f"{type(ex).__name__}: {ex}"}
                continue
            plan[i] = {
                "kind": "row_level",
                "metric": add(F.sum(cond.cast("long"))),
                "cond": cond,
                "value_col": value_col,
            }
        else:
            raise ValueError(f"cannot compile expectation type {t}")
    return list(by_key.values()), plan


def _unexpected_result(
    unexpected: int, element_count: int, mostly: float
) -> tuple[bool, dict[str, Any]]:
    """Success and result block of a per-row expectation with
    ``unexpected`` failing rows of ``element_count``."""
    pct = 100.0 * unexpected / element_count if element_count else 0.0
    return pct <= (1.0 - mostly) * 100.0, {
        "element_count": element_count,
        "unexpected_count": unexpected,
        "unexpected_percent": pct,
    }


def _arrow_equality_is_sparks(dtype: T.DataType) -> bool:
    """Whether two values of ``dtype`` are equal in Arrow's hash kernels
    exactly when Spark's DISTINCT takes them as equal: byte-equal
    strings (no collation) and binaries, and fixed-width values that
    Spark does not normalize.  Doubles are not (Spark takes ``-0.0`` for
    ``0.0`` and every NaN as one), nor are collated strings."""
    if isinstance(dtype, T.StringType):
        return dtype.collation == "UTF8_BINARY"
    return isinstance(dtype, (
        T.BinaryType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType,
    ))


def _fits_the_driver(sel: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``sel`` is within
    ``spark.sql.autoBroadcastJoinThreshold``, the line Spark draws for
    collecting a relation into one process.  A plan with no estimate
    (an RDD source) is estimated at ``spark.sql.defaultSizeInBytes``."""
    conf = sel.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    if threshold <= 0:
        return False
    return sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= threshold


def _aggregate(df: DataFrame, missing: list[Metric]) -> dict[str, Any]:
    """The values of the ``missing`` metrics over ``df``.

    With DISTINCT metrics among them, one job collects their columns as
    Arrow and observes the other metrics on the way; the driver counts
    the distincts.  Where that cannot stand in for Spark's answer (see
    the two checks above), the metrics run as one fused ``df.agg`` and
    each every-member count as its own ``groupBy`` job."""
    distinct = [m for m in missing if not m.observable]
    observable = [m.column for m in missing if m.observable]
    if distinct and all(
        _arrow_equality_is_sparks(df.schema[m.distinct[0]].dataType) for m in distinct
    ):
        observation = Observation()
        sel = (df.observe(observation, *observable) if observable else df).select(
            *dict.fromkeys(m.distinct[0] for m in distinct)
        )
        if _fits_the_driver(sel):
            table = sel.toArrow()
            values = observation.get if observable else {}
            for m in distinct:
                column, form = m.distinct
                values[m.key] = DISTINCT_FORMS[form](table.column(column))
            return values
    fused = [m.column for m in missing if m.column is not None]
    values = df.agg(*fused).collect()[0].asDict() if fused else {}
    for m in missing:
        if m.column is None:  # the every-member count
            col = F.col(m.distinct[0])
            row = (
                df.where(col.isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
                .agg(F.sum("__n"))
                .first()
            )
            values[m.key] = int(row[0] or 0)
    return values


def run_suite(
    df: DataFrame,
    suite: Suite,
    run_name: str | None = None,
    batch_identifier: str = "",
    partial_unexpected_limit: int = 20,
    collect_partial_unexpected: bool = True,
    known: Mapping[str, Any] | None = None,
    compiled: Compiled | None = None,
) -> ValidationResult:
    """Validate ``df`` against ``suite`` — the EP2 query-executor recast
    (``/root/reference/dags/validation.py:12-53`` →  one library call).

    ``known`` maps metric keys to values already computed over exactly
    the rows of ``df`` (the observed metrics of the write that produced
    it).  Only the metrics missing from it are computed, in one job;
    when none is missing, no job runs.  The exact distinct counts are
    never known: with one among the missing metrics, that job is a
    collect of the distinct columns as Arrow, counted on the driver,
    and the other missing metrics are observed on it.  A frame whose
    size estimate is above ``spark.sql.autoBroadcastJoinThreshold`` (or
    that has none), or a distinct column whose Arrow equality is not
    Spark's, is aggregated by Spark instead (see :func:`_aggregate`).

    ``compiled`` is ``compile_suite(other, suite)`` for a frame ``other``
    with the same column names and types as ``df``: a caller that gates
    many frames of one schema (a stage's write and its committed
    snapshot, the micro-batches of a stream) compiles once."""
    run_time = _dt.datetime.now(_dt.timezone.utc)
    run_name = run_name or f"run-{uuid.uuid4().hex[:12]}"
    metrics, plan = compiled or compile_suite(df, suite)

    known = known or {}
    agg_row = {m.key: known[m.key] for m in metrics if m.observable and m.key in known}
    missing = [m for m in metrics if m.key not in agg_row]
    if missing:
        agg_row.update(_aggregate(df, missing))
    element_count = int(agg_row[ELEMENT_COUNT])
    dtypes = dict(df.dtypes)

    results: list[ExpectationResult] = []
    for i, exp in enumerate(suite.expectations):
        p = plan[i]
        k = exp.kwargs
        try:
            if p["kind"] == "compile_error":
                results.append(
                    ExpectationResult(
                        expectation_config=exp.to_dict(),
                        success=False,
                        result={},
                        exception_info={
                            "raised_exception": True,
                            "exception_message": p["message"],
                        },
                    )
                )
                continue
            if p["kind"] == "schema_columns":
                observed = list(df.columns)
                success = observed == list(k["column_list"])
                res = {"observed_value": observed}
            elif p["kind"] == "schema_type":
                actual = normalize_type(dtypes[k["column"]])
                allowed = {normalize_type(x) for x in k["type_list"]}
                success = actual in allowed
                res = {"observed_value": actual}
            elif p["kind"] == "row_count":
                success = _between_success(
                    element_count, k.get("min_value"), k.get("max_value")
                )
                res = {"observed_value": element_count}
            elif p["kind"] == "aggregate":
                observed = agg_row[p["metric"]]
                if p.get("integral") and observed is not None:
                    observed = int(observed)  # exact decimal(38,0) sum
                success = _between_success(
                    observed, k.get("min_value"), k.get("max_value")
                )
                res = {"observed_value": observed}
            else:  # unique_fused, unique_exact, row_level
                unexpected = int(agg_row[p["metric"]] or 0)
                success, res = _unexpected_result(unexpected, element_count, exp.mostly)
                if p["kind"] == "row_level" and unexpected and collect_partial_unexpected:
                    # deterministic sample: distinct unexpected values,
                    # lowest-first (GE's 20-row sample is arbitrary —
                    # SURVEY.md §7 "hard parts").  One groupBy job yields
                    # both the value list and the per-value counts block
                    # (the reference's golden result document emits both,
                    # /root/reference/great_expectations/validations.json:36-42).
                    vals = (
                        df.where(p["cond"])
                        .groupBy(p["value_col"].cast("string").alias("v"))
                        .agg(F.count(F.lit(1)).alias("n"))
                        .orderBy("v")
                        .limit(partial_unexpected_limit)
                        .collect()
                    )
                    res["partial_unexpected_list"] = [r["v"] for r in vals]
                    res["partial_unexpected_counts"] = [
                        {"value": r["v"], "count": int(r["n"])} for r in vals
                    ]
            results.append(
                ExpectationResult(expectation_config=exp.to_dict(), success=success, result=res)
            )
        except Exception as ex:  # catch per-expectation, like GE
            results.append(
                ExpectationResult(
                    expectation_config=exp.to_dict(),
                    success=False,
                    result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"{type(ex).__name__}: {ex}",
                    },
                )
            )

    n = len(results)
    ok = sum(1 for r in results if r.success)
    stats = {
        "evaluated_expectations": n,
        "successful_expectations": ok,
        "unsuccessful_expectations": n - ok,
        "success_percent": 100.0 * ok / n if n else 100.0,
    }
    return ValidationResult(
        suite_name=suite.name,
        run_name=run_name,
        run_time=run_time,
        end_time=_dt.datetime.now(_dt.timezone.utc),
        batch_identifier=batch_identifier,
        results=results,
        success=ok == n,
        statistics=stats,
        element_count=element_count,
    )
