"""Physical-plan quality gates: the optimizations SURVEY.md §4 promises
must actually appear in the executed plans — filter pushdown to the
parquet scan, column pruning, broadcast joins for small dims, and
partial/final aggregation for the fused suite agg."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(entrymod.filter_pushdown_revenue(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_discount" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must read only the 4 referenced columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"):
        assert col in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_returnflag" not in read_schema


def test_small_dims_are_broadcast(spark):
    plan = _plan(entrymod.join_orders_customer(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # AQE prints initial+current plans; require both joins broadcast in each
    plan2 = _plan(entrymod.join_supplier_nation_region(spark, SF_DIR))
    assert plan2.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan2


def test_fused_agg_is_partial_final(spark):
    plan = _plan(entrymod.q1_lineitem_pricing(spark, SF_DIR))
    # partial aggregation map-side, final after the key exchange
    assert "partial" in plan.lower()
    assert plan.count("HashAggregate") >= 2


def test_quality_features_prune_to_text_column(spark):
    from pyspark.sql import functions as F

    from greatex_spark.functions.heuristics import quality_struct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.select(quality_struct(F.col("text")).alias("q"))
    plan = _plan(df)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema
    for col in ("source", "lang", "n_chars", "doc_id"):
        assert col not in read_schema


def test_dedup_semi_join_prunes_columns(spark):
    from greatex_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_lsh_dedup(docs, "text", "doc_id"))
    # the banded side must scan only (doc_id, text), not the full row
    first_scan = plan.split("ReadSchema")[1].splitlines()[0]
    second_scan = plan.split("ReadSchema")[2].splitlines()[0]
    assert any("doc_id" in s and "text" in s and "source" not in s
               for s in (first_scan, second_scan))


def test_dedup_survivor_selection_streams(spark):
    """Survivor selection must be one aggregation chain: no window
    buffering whole buckets, no self-join of the banded side, and the
    expensive signature projection scanned exactly once (two scans
    total in the semi-join plan: the original frame + the banded
    subtree)."""
    from greatex_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_lsh_dedup(docs, "text", "doc_id"))
    assert "Window" not in plan
    # "formatted" prints each node once in the tree + once in details
    assert plan.count("Scan parquet") == 4  # 2 distinct scans × 2 prints
    # exactly one join: the final left-semi against the survivor ids
    assert plan.count("Join") <= 4


def test_unique_expectation_fuses_into_single_agg(spark):
    """expect_column_values_to_be_unique must not spawn an auxiliary
    groupBy job: the compiled metric list is one agg over the frame."""
    from greatex_spark.expectations.compiler import compile_suite
    from greatex_spark.expectations.spec import E, Suite

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    suite = Suite.of(
        "u",
        E("expect_column_values_to_not_be_null", column="doc_id"),
        E("expect_column_values_to_be_unique", column="doc_id"),
    )
    metrics, plan_map = compile_suite(docs, suite)
    assert plan_map[1]["kind"] == "unique_fused"
    agg_plan = _plan(docs.agg(*metrics))
    # one scan feeding one (expand-based distinct) aggregate tree — no
    # join, no window, no second FileScan ("formatted" prints each node
    # once in the tree and once in the detail block → one scan == 2 hits)
    assert agg_plan.count("Scan parquet") == 2
    assert "Window" not in agg_plan and "Join" not in agg_plan


def test_domain_quota_broadcasts_counts_and_prunes_scan(spark):
    plan = _plan(entrymod.doc_domain_quota(spark, SF_DIR))
    # the (domain, n) table is broadcast — the corpus never shuffles
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the corpus side reads only the columns the query projects + key
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in read_schema


def test_incremental_dedup_is_anti_join_no_corpus_rescan(spark):
    plan = _plan(entrymod.doc_incremental_dedup(spark, SF_DIR))
    assert "LeftAnti" in plan
    # both sides push their id-parity filter into the parquet scan
    assert plan.count("PushedFilters") >= 2


def test_aqe_splits_skewed_join(spark):
    """The session enables AQE skew-join handling (session.py); prove it
    actually fires: a join where one key holds half the left side gets
    its straggler partition split (skew=true on the final SMJ)."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 200_000, 1).select(
            F.col("id").alias("k"), F.lit("dim").alias("v")
        )
        joined = left.join(right, on="k")
        # materialize THIS DataFrame's own plan (count() would finalize a
        # different wrapping aggregate plan instead)
        assert len(joined.collect()) > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)
