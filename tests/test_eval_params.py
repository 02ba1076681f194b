"""Evaluation parameters (SURVEY §2 D4): $PARAMETER resolution, the
catalog-backed parameter store, and the cross-gate flow the reference's
hand-derived row-count bands approximate."""

from __future__ import annotations

import pytest

from greatex_spark.expectations.params import (
    eval_param_expr,
    resolve_suite,
    suite_has_markers,
)
from greatex_spark.expectations.spec import E, Suite
from greatex_spark.expectations.compiler import GateFailed
from greatex_spark.pipeline.checkpoint import Checkpoint, run_checkpoint
from greatex_spark.tables import Catalog


def test_eval_param_expr_arithmetic():
    p = {"src.element_count": 1000.0, "src": 7.0}
    assert eval_param_expr("src.element_count * 0.5", p) == 500.0
    # longest name wins over its prefix
    assert eval_param_expr("src + 1", p) == 8.0
    assert eval_param_expr("max(src.element_count - 100, 0)", p) == 900.0
    with pytest.raises(KeyError):
        eval_param_expr("missing.name + 1", p)
    with pytest.raises(ValueError):
        eval_param_expr("__import__('os')", {"__import__": 1.0})


def test_resolve_suite_replaces_markers():
    s = Suite.of(
        "g",
        E(
            "expect_table_row_count_to_be_between",
            min_value={"$PARAMETER": "up.element_count * 0.5"},
            max_value={"$PARAMETER": "up.element_count"},
        ),
    )
    assert suite_has_markers(s)
    r = resolve_suite(s, {"up.element_count": 200.0})
    kw = r.expectations[0].kwargs
    assert (kw["min_value"], kw["max_value"]) == (100.0, 200.0)
    assert not suite_has_markers(r)


def test_cross_gate_parameter_flow(spark, tmp_path):
    """Source gate publishes element_count; the downstream gate bounds
    itself with $PARAMETER — the mechanism behind the reference's
    250k-300k source vs 150k-250k warehouse bands."""
    catalog = Catalog(str(tmp_path))
    source = spark.range(100).toDF("id")

    src_cp = Checkpoint(
        "src_gate",
        Suite.of(
            "src_suite",
            E("expect_table_row_count_to_be_between", min_value=1, max_value=10**6),
        ),
    )
    run_checkpoint(spark, source, src_cp, catalog=catalog, epoch=1, run_name="r1")

    # downstream keeps 60% of rows; gate demands >= half the source count
    downstream = source.where("id % 10 < 6")
    dest_cp = Checkpoint(
        "dest_gate",
        Suite.of(
            "dest_suite",
            E(
                "expect_table_row_count_to_be_between",
                min_value={"$PARAMETER": "src_suite.element_count * 0.5"},
                max_value={"$PARAMETER": "src_suite.element_count"},
            ),
        ),
    )
    vr = run_checkpoint(spark, downstream, dest_cp, catalog=catalog, epoch=2,
                        run_name="r1")
    assert vr.success

    # a 90% drop violates the parameterized band and halts the pipeline
    with pytest.raises(GateFailed):
        run_checkpoint(
            spark,
            source.where("id % 10 = 0"),
            dest_cp,
            catalog=catalog,
            epoch=3,
            run_name="r2",
        )


def test_explicit_parameters_override_store(spark, tmp_path):
    catalog = Catalog(str(tmp_path))
    cp = Checkpoint(
        "g",
        Suite.of(
            "s",
            E(
                "expect_table_row_count_to_be_between",
                min_value={"$PARAMETER": "floor_rows"},
            ),
        ),
        raise_on_failure=False,
    )
    vr = run_checkpoint(
        spark, spark.range(5), cp, catalog=catalog,
        evaluation_parameters={"floor_rows": 10.0},
    )
    assert not vr.success


def test_parameters_persist_in_catalog(spark, tmp_path):
    from greatex_spark.expectations.params import PARAMS_TABLE, load_parameters

    catalog = Catalog(str(tmp_path))
    cp = Checkpoint(
        "g",
        Suite.of(
            "s",
            E("expect_table_row_count_to_be_between", min_value=1),
            E("expect_column_values_to_not_be_null", column="id"),
        ),
    )
    run_checkpoint(spark, spark.range(42), cp, catalog=catalog, epoch=1)
    params = load_parameters(spark, catalog)
    assert params["s.element_count"] == 42.0
    assert params["s.expect_column_values_to_not_be_null.id.unexpected_count"] == 0.0
    assert params["s.success_percent"] == 100.0
    # raw store rows are typed and readable
    tbl = catalog.read_latest(spark, PARAMS_TABLE)
    assert {"parameter_name", "value", "checkpoint_epoch"} <= set(tbl.columns)


def test_corrupt_parameter_store_raises(spark, tmp_path):
    """A committed store that cannot be read is an error, not ``{}``:
    silently losing the parameters would unbind every marker suite."""
    import os

    from greatex_spark.expectations.params import PARAMS_TABLE, load_parameters

    catalog = Catalog(str(tmp_path))
    assert load_parameters(spark, catalog) == {}  # nothing committed yet
    cp = Checkpoint("g", Suite.of("s", E("expect_table_row_count_to_be_between", min_value=1)))
    run_checkpoint(spark, spark.range(3), cp, catalog=catalog, epoch=1)
    assert load_parameters(spark, catalog)["s.element_count"] == 3.0
    snap = os.path.join(str(tmp_path), PARAMS_TABLE, "snapshot=0")
    with open(os.path.join(snap, "part-x.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        load_parameters(spark, catalog)
    # the garbage file is all the committed store holds
    for name in os.listdir(snap):
        if name != "part-x.parquet":
            os.remove(os.path.join(snap, name))
    with pytest.raises(Exception, match="(?i)parquet"):
        load_parameters(spark, catalog)
