"""Storage layout of the pipeline snapshots: zstd parquet, and the
scrubbed text stored only where the scrub changed it.  Snapshots
committed in the earlier layout (snappy, ``text_scrubbed`` always set)
still resume to the same gold."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from greatex_spark import tables
from greatex_spark.expectations import compiler
from greatex_spark.expectations.compiler import compile_suite
from greatex_spark.expectations.spec import E, Suite
from greatex_spark.functions.pii import scrub_pii_py
from greatex_spark.pages import generate_pages
from greatex_spark.pipeline import runner
from greatex_spark.pipeline import suites as S
from greatex_spark.pipeline.checkpoint import LINEAGE_TABLE, METRICS_TABLE
from greatex_spark.pipeline.runner import BRONZE, GOLD, KEPT, SILVER, run_pipeline
from greatex_spark.pipeline.stages import PipelineConfig
from greatex_spark.streaming import gated_ingest, ingest
from greatex_spark.tables import Catalog

STAGE_TABLES = (BRONZE, SILVER, KEPT, GOLD)


def _codecs(path: str) -> set[str]:
    """The codecs of every column chunk of every parquet data file under
    ``path``; fails when no file holds a row group."""
    codecs: set[str] = set()
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            meta = pq.read_metadata(os.path.join(d, f))
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    assert codecs, f"no row group under {path}"
    return codecs


def _gold_rows(spark, catalog: Catalog) -> list:
    return sorted(catalog.read_latest(spark, GOLD).collect())


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 600, seed=3).cache()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory, pages):
    catalog = Catalog(str(tmp_path_factory.mktemp("layout")))
    result = run_pipeline(spark, catalog, 1, source_df=pages, run_name="fresh")
    assert all(v.success for v in result.validations.values())
    return catalog


def test_snapshots_are_zstd_and_appends_keep_their_codec(lake):
    for table in STAGE_TABLES:
        assert _codecs(os.path.join(lake.root, table)) == {"ZSTD"}, table
    # the driver-written bookkeeping appends keep pyarrow's default
    for table in (METRICS_TABLE, LINEAGE_TABLE):
        assert _codecs(os.path.join(lake.root, table)) == {"SNAPPY"}, table


def test_compaction_writes_zstd(spark, tmp_path, lake):
    catalog = Catalog(str(tmp_path / "compact"))
    catalog.write_snapshot(lake.read_snapshot(spark, GOLD, 1), GOLD, 1)
    epoch = catalog.compact(spark, GOLD)
    assert _codecs(os.path.join(catalog.root, GOLD, f"snapshot={epoch}")) == {"ZSTD"}


def test_scrubbed_text_stored_only_where_the_scrub_changed_it(spark, lake):
    for table in (SILVER, KEPT):
        rows = lake.read_snapshot(spark, table, 1).select("text", "text_scrubbed").collect()
        assert rows, table
        changed = 0
        for r in rows:
            if r.text is None or scrub_pii_py(r.text) == r.text:
                assert r.text_scrubbed is None, (table, r.text)
            else:
                assert r.text_scrubbed == scrub_pii_py(r.text), table
                changed += 1
        assert 0 < changed < len(rows), table


def _parent_suite(suite: Suite) -> Suite:
    """``suite`` as the earlier layout defined it: the silver gate checked
    ``text_scrubbed`` itself for NULLs."""
    old = E("expect_column_values_to_not_be_null", column="text_scrubbed", mostly=0.999)
    return Suite.of(
        suite.name,
        *[
            old if e.kwargs.get("expression", "").startswith("coalesce(text_scrubbed")
            else e
            for e in suite.expectations
        ],
    )


def test_earlier_layout_resumes_to_the_same_gold(spark, tmp_path, lake, monkeypatch):
    """Bronze, silver and kept committed as the earlier layout wrote them
    (snappy files, ``text_scrubbed`` always set, commit records observing
    the earlier silver suite): a resume computes the same gold and every
    gate passes."""
    n = lake.read_snapshot(spark, BRONZE, 1).count()
    lo, hi = (int(n * f) for f in PipelineConfig().keep_fraction_band)
    suites = {
        BRONZE: S.source_suite(),
        SILVER: _parent_suite(S.silver_suite()),
        KEPT: S.kept_suite(lo, hi),
    }
    old = Catalog(str(tmp_path / "old"))
    monkeypatch.setattr(tables, "SNAPSHOT_CODEC", "snappy")
    for table, suite in suites.items():
        df = lake.read_snapshot(spark, table, 1)
        if "text_scrubbed" in df.columns:
            df = df.withColumn("text_scrubbed", F.coalesce("text_scrubbed", "text"))
        metrics, _ = compile_suite(df, suite)
        old.write_snapshot(df, table, 1, [m.column for m in metrics if m.observable])
    monkeypatch.undo()
    assert _codecs(os.path.join(old.root, SILVER)) == {"SNAPPY"}
    assert old.read_latest(spark, SILVER).where(
        F.col("text_scrubbed").isNull() & F.col("text").isNotNull()
    ).count() == 0

    result = run_pipeline(spark, old, 1, run_name="resume")
    assert sorted(result.skipped) == sorted([BRONZE, SILVER, KEPT])
    assert all(v.success for v in result.validations.values()), result.summary()
    assert _gold_rows(spark, old) == _gold_rows(spark, lake)


def test_each_suite_compiles_once_per_stage_and_per_stream(spark, tmp_path, pages, monkeypatch):
    calls = []
    real = compiler.compile_suite

    def counting(df, suite):
        calls.append(suite.name)
        return real(df, suite)

    for module in (compiler, runner, ingest):
        monkeypatch.setattr(module, "compile_suite", counting)

    result = run_pipeline(spark, Catalog(str(tmp_path / "lake")), 1, source_df=pages)
    assert all(v.success for v in result.validations.values())
    assert sorted(calls) == sorted(vr.suite_name for vr in result.validations.values())

    calls.clear()
    landing = str(tmp_path / "landing")
    for i in range(3):
        pages.where(F.pmod(F.xxhash64("url"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    gated_ingest(spark, landing, str(tmp_path / "bronze"), str(tmp_path / "q"),
                 str(tmp_path / "ckpt"), S.source_suite(), max_files_per_trigger=1)
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == pages.count()
    assert calls == ["pages_source_suite"]
