"""Evaluation parameters (SURVEY.md §2 D4): suites whose bounds come
from PREVIOUS validation results.

The reference configures an ``evaluation_parameter_store`` and runs
``StoreEvaluationParametersAction`` in every checkpoint
(``/root/reference/great_expectations/great_expectations.yml:135-137,160``,
``checkpoints/retail_source_checkpoint.yml:30,35``) but hard-codes the
cross-gate consistency its suites encode: the source gate expects
250k–300k rows and the post-``dropna`` warehouse gate 150k–250k
(``dags/scripts/python/retail_source.py:120``,
``retail_transform.py:133``) — numbers a human derived from the source
count.  This module implements the mechanism those bands approximate:

- a kwarg value ``{"$PARAMETER": "<expr>"}`` (GE's marker syntax) is
  resolved against a parameter mapping before the suite compiles;
  ``<expr>`` is arithmetic over stored parameter names, e.g.
  ``{"$PARAMETER": "source_gate.element_count * 0.5"}``;
- after every gated validation the checkpoint stores the run's observed
  metrics as parameters (the ``StoreEvaluationParametersAction``
  recast): ``<suite>.element_count``, ``<suite>.success_percent``, and
  per-expectation ``<suite>.<type>[.<column>].unexpected_count`` /
  ``.observed_value``;
- parameters persist in the snapshot catalog as a typed table
  (``evaluation_parameters``), so a resumed or downstream run reads the
  latest committed values — same storage/lineage model as the metrics
  table, replacing GE's JSON parameter store.  Both the append and the
  read run on the driver with pyarrow, with no Spark job.

Naming divergence (documented): GE references parameters by URN
(``urn:great_expectations:validations:<suite>:...observed_value``);
this engine uses the dotted short form above — one mechanism, terser
keys.  Expression evaluation is a closed arithmetic evaluator (numbers,
``+ - * / // %``, unary minus, ``min/max/abs/round``), not ``eval``.
"""

from __future__ import annotations

import ast
from collections.abc import Mapping
from decimal import Decimal
from typing import Any

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from greatex_spark.expectations.spec import Expectation, Suite

PARAMS_TABLE = "evaluation_parameters"

PARAMS_SCHEMA = T.StructType(
    [
        T.StructField("parameter_name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("suite_name", T.StringType()),
        T.StructField("run_name", T.StringType()),
        T.StructField("checkpoint_epoch", T.LongType()),
    ]
)

_ALLOWED_CALLS = {"min": min, "max": max, "abs": abs, "round": round}


def _dotted_name(n: ast.AST) -> str | None:
    """Flatten ``a.b.c`` (Name/Attribute chain) to a dotted string."""
    if isinstance(n, ast.Name):
        return n.id
    if isinstance(n, ast.Attribute):
        base = _dotted_name(n.value)
        return None if base is None else f"{base}.{n.attr}"
    return None


def eval_param_expr(expr: str, params: Mapping[str, float]) -> float:
    """Evaluate an arithmetic parameter expression against ``params``.
    Dotted parameter names (``suite.element_count``) resolve as
    attribute chains on the parsed AST — never by text substitution, so
    string literals can't alias a name.  Unknown names raise
    ``KeyError``; any non-arithmetic construct raises ``ValueError``."""
    node = ast.parse(expr, mode="eval")

    def ev(n: ast.AST) -> float:
        if isinstance(n, ast.Expression):
            return ev(n.body)
        if isinstance(n, ast.Constant) and isinstance(n.value, (int, float)):
            return n.value
        name = _dotted_name(n)
        if name is not None:
            if name in params:
                return float(params[name])
            raise KeyError(f"unknown evaluation parameter: {name!r}")
        if isinstance(n, ast.BinOp) and isinstance(
            n.op, (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv, ast.Mod)
        ):
            lh, rh = ev(n.left), ev(n.right)
            return {
                ast.Add: lambda: lh + rh,
                ast.Sub: lambda: lh - rh,
                ast.Mult: lambda: lh * rh,
                ast.Div: lambda: lh / rh,
                ast.FloorDiv: lambda: lh // rh,
                ast.Mod: lambda: lh % rh,
            }[type(n.op)]()
        if isinstance(n, ast.UnaryOp) and isinstance(n.op, (ast.USub, ast.UAdd)):
            v = ev(n.operand)
            return -v if isinstance(n.op, ast.USub) else v
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id in _ALLOWED_CALLS
            and not n.keywords
        ):
            return _ALLOWED_CALLS[n.func.id](*[ev(a) for a in n.args])
        raise ValueError(f"disallowed construct in parameter expression: {expr!r}")

    return ev(node)


def _resolve_value(v: Any, params: Mapping[str, float]) -> Any:
    if isinstance(v, dict) and set(v) == {"$PARAMETER"}:
        return eval_param_expr(v["$PARAMETER"], params)
    return v


def suite_has_markers(suite: Suite) -> bool:
    return any(
        isinstance(v, dict) and "$PARAMETER" in v
        for e in suite.expectations
        for v in e.kwargs.values()
    )


def resolve_suite(suite: Suite, params: Mapping[str, float] | None) -> Suite:
    """Concrete suite with every ``{"$PARAMETER": ...}`` kwarg resolved.
    With no parameters given, suites containing markers fail fast."""
    if not suite_has_markers(suite):
        return suite
    p = params or {}
    return Suite.of(
        suite.name,
        *[
            Expectation(
                e.expectation_type,
                {k: _resolve_value(v, p) for k, v in e.kwargs.items()},
            )
            for e in suite.expectations
        ],
    )


def validation_parameters(validation) -> dict[str, float]:
    """The parameters a validation run publishes (the
    StoreEvaluationParametersAction recast) — see module docstring for
    the key scheme."""
    suite = validation.suite_name
    out: dict[str, float] = {
        f"{suite}.success_percent": float(
            validation.statistics["success_percent"]
        ),
    }
    for r in validation.results:
        etype = r.expectation_config["expectation_type"]
        column = r.expectation_config.get("kwargs", {}).get("column")
        key = f"{suite}.{etype}" + (f".{column}" if column else "")
        res = r.result
        if res.get("element_count") is not None:
            out[f"{suite}.element_count"] = float(res["element_count"])
            out[f"{key}.unexpected_count"] = float(res.get("unexpected_count") or 0)
        ov = res.get("observed_value")
        if isinstance(ov, (int, float, Decimal)):
            out[f"{key}.observed_value"] = float(ov)
            if etype == "expect_table_row_count_to_be_between":
                out[f"{suite}.element_count"] = float(ov)
    return out


def store_parameters(
    spark: SparkSession,
    catalog,
    params: Mapping[str, float],
    suite_name: str,
    run_name: str | None,
    epoch: int,
) -> None:
    """Append the run's parameters to the catalog store (typed table,
    same snapshot/lineage model as the metrics table)."""
    rows = [
        {
            "parameter_name": k,
            "value": float(v),
            "suite_name": suite_name,
            "run_name": run_name or "",
            "checkpoint_epoch": int(epoch),
        }
        for k, v in sorted(params.items())
    ]
    catalog.append(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(PARAMS_SCHEMA)), PARAMS_TABLE
    )


def load_parameters(spark: SparkSession, catalog) -> dict[str, float]:
    """Latest committed value per parameter name (max epoch wins; ties
    break on run_name for determinism).  The table is tiny (a few rows
    per gate per run), so it is read with pyarrow on the driver.  Only
    a store with no committed snapshot yields ``{}``; an unreadable
    store raises."""
    if catalog.latest_epoch(PARAMS_TABLE) is None:
        return {}
    rows = catalog.read_latest_arrow(
        PARAMS_TABLE, to_arrow_schema(PARAMS_SCHEMA)
    ).to_pylist()
    best: dict[str, tuple] = {}
    for r in rows:
        key = r["parameter_name"]
        rank = (r["checkpoint_epoch"], r["run_name"])
        if key not in best or rank > best[key][0]:
            best[key] = (rank, float(r["value"]))
    return {k: v for k, (_, v) in best.items()}
