"""End-to-end pipeline tests: F1 vs planted labels, byte-identical
scrub, idempotent re-run, kill-and-resume, metrics/lineage artifacts."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from greatex_spark.expectations.compiler import ELEMENT_COUNT, GateFailed
from greatex_spark.functions.pii import scrub_pii_py
from greatex_spark.pages import HTML_POST, HTML_PRE, generate_pages
from greatex_spark.expectations.params import (
    PARAMS_SCHEMA,
    PARAMS_TABLE,
    suite_has_markers,
)
from greatex_spark.pipeline import suites as S
from greatex_spark.pipeline.checkpoint import METRICS_SCHEMA, METRICS_TABLE
from greatex_spark.pipeline.runner import (
    BRONZE,
    GOLD,
    KEPT,
    SILVER,
    run_pipeline,
)
from greatex_spark.pipeline.stages import PipelineConfig
from greatex_spark.tables import Catalog

N_PAGES = 2000


@pytest.fixture(scope="module")
def labeled(spark):
    return generate_pages(spark, N_PAGES, include_labels=True).cache()


@pytest.fixture(scope="module")
def pages(labeled):
    return labeled.select("url", "warc_ts", "html", "text", "lang")


@pytest.fixture(scope="module")
def completed(spark, tmp_path_factory, pages):
    catalog = Catalog(str(tmp_path_factory.mktemp("lake")))
    result = run_pipeline(spark, catalog, epoch=1, source_df=pages, run_name="r1")
    return catalog, result


def test_all_gates_pass(completed):
    _, result = completed
    assert all(v.success for v in result.validations.values()), result.summary()
    assert result.counts[KEPT] > 0


def test_counts_cover_every_stage(spark, completed):
    """Each stage's row count is in the result and the run report; the
    silver count comes from the silver gate, so it costs no job."""
    catalog, result = completed
    for table in (BRONZE, SILVER, KEPT, GOLD):
        assert result.counts[table] == catalog.read_latest(spark, table).count(), table
        # each count is its gate's count(1), which the write recorded
        assert result.counts[table] == catalog.snapshot_metrics(table, 1)[ELEMENT_COUNT], table
    with open(os.path.join(catalog.root, "reports", "run-1-r1.md")) as f:
        report = f.read()
    assert f"- `{SILVER}`: {result.counts[SILVER]:,}" in report


def test_keep_drop_f1(spark, completed, labeled):
    catalog, _ = completed
    gold = catalog.read_latest(spark, GOLD)
    pred = labeled.join(
        gold.select(F.col("url"), F.lit(True).alias("pred_keep")), "url", "left"
    ).select("url", "expected_keep", F.coalesce("pred_keep", F.lit(False)).alias("pred"))
    agg = pred.agg(
        F.sum((F.col("expected_keep") & F.col("pred")).cast("int")).alias("tp"),
        F.sum((~F.col("expected_keep") & F.col("pred")).cast("int")).alias("fp"),
        F.sum((F.col("expected_keep") & ~F.col("pred")).cast("int")).alias("fn"),
    ).collect()[0]
    precision = agg.tp / (agg.tp + agg.fp)
    recall = agg.tp / (agg.tp + agg.fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (f1, agg.tp, agg.fp, agg.fn)


def test_scrub_byte_identity_per_url(spark, completed, labeled):
    """BASELINE.json: byte-identical scrubbed text per url — the gold
    text must equal the standalone Python scrubber applied to the
    original text, byte for byte."""
    catalog, _ = completed
    gold = catalog.read_latest(spark, GOLD)
    joined = (
        labeled.where(F.col("page_class") == "has_pii")
        .select("url", F.col("text").alias("orig"))
        .join(gold.select("url", "text"), "url")
        .collect()
    )
    assert joined, "no PII docs survived to gold"
    for r in joined:
        assert r.text.encode() == scrub_pii_py(r.orig).encode(), r.url
        assert "@example.com" not in r.text


def test_gold_is_target_lang_only(spark, completed):
    catalog, _ = completed
    gold = catalog.read_latest(spark, GOLD)
    assert gold.where(F.col("lang") != "en").count() == 0


def test_near_dup_resolution(spark, completed, labeled):
    catalog, _ = completed
    gold = catalog.read_latest(spark, GOLD)
    pairs = (
        labeled.where(F.col("page_class") == "near_dup_pair")
        .join(gold.select("url", F.lit(True).alias("kept")), "url", "left")
        .select("url", "expected_keep", F.coalesce("kept", F.lit(False)).alias("kept"))
        .collect()
    )
    for r in pairs:
        assert r.kept == r.expected_keep, (r.url, r.expected_keep)


def test_metrics_and_lineage_written(spark, completed):
    catalog, result = completed
    metrics = catalog.read_latest(spark, "metrics")
    assert metrics.where(F.col("run_name") == "r1").count() >= 4 * 3  # 4 gates
    suites = {
        r.expectation_suite_name
        for r in metrics.select("expectation_suite_name").distinct().collect()
    }
    assert {
        "pages_source_suite",
        "pages_silver_suite",
        "pages_kept_suite",
        "pages_gold_suite",
    } <= suites
    lineage = catalog.read_latest(spark, "partition_lineage")
    ln = lineage.where(F.col("run_name") == "r1")
    tables = {r.table_name for r in ln.select("table_name").distinct().collect()}
    assert {BRONZE, SILVER, KEPT, GOLD} <= tables
    # lineage row counts must reconcile with every committed snapshot,
    # one lineage row per data file, keyed by its writer task index
    for table in (BRONZE, SILVER, KEPT, GOLD):
        rows = ln.where(F.col("table_name") == table).collect()
        assert sum(r.row_count for r in rows) == catalog.read_latest(spark, table).count()
        snap = os.path.join(catalog.root, table, "snapshot=1")
        data_files = [
            f
            for _, _, files in os.walk(snap)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        assert len(rows) == len(data_files) > 0, table
        assert all(r.partition_id is not None and r.checkpoint_epoch == 1 for r in rows)


def test_idempotent_rerun(spark, completed, pages):
    """Running the same epoch twice must not change the gold snapshot
    (the reference's re-run idempotency, README.md:426-457)."""
    catalog, _ = completed
    gold1 = catalog.read_latest(spark, GOLD)
    chk1 = gold1.agg(F.bit_xor(F.xxhash64("url", "text", "n_tokens")).alias("h")).collect()[0].h
    n1 = gold1.count()
    run_pipeline(spark, catalog, epoch=1, source_df=pages, run_name="r2", resume=False)
    gold2 = catalog.read_latest(spark, GOLD)
    chk2 = gold2.agg(F.bit_xor(F.xxhash64("url", "text", "n_tokens")).alias("h")).collect()[0].h
    assert (n1, chk1) == (gold2.count(), chk2)


def _outcome(vr) -> dict:
    """A validation without its run name and times."""
    d = vr.to_dict()
    return {k: d[k] for k in ("results", "success", "statistics")}


def test_resume_skips_committed_stages(spark, completed, pages):
    """A resume gates the four committed stages at once; each gate's
    result and every count equal the committing run's."""
    catalog, first = completed
    result = run_pipeline(spark, catalog, epoch=1, run_name="r3", resume=True)
    assert result.skipped == [BRONZE, SILVER, KEPT, GOLD]
    assert all(v.success for v in result.validations.values())
    assert list(result.validations) == ["source", "silver", "kept", "gold"]
    for gate, vr in first.validations.items():
        assert _outcome(result.validations[gate]) == _outcome(vr), gate
    assert result.counts == first.counts


def _stored_suites(catalog, run_name: str) -> tuple[set[str], set[str]]:
    metrics = catalog.read_latest_arrow(METRICS_TABLE, to_arrow_schema(METRICS_SCHEMA))
    params = catalog.read_latest_arrow(PARAMS_TABLE, to_arrow_schema(PARAMS_SCHEMA))
    return (
        {r["expectation_suite_name"] for r in metrics.to_pylist() if r["run_name"] == run_name},
        {r["suite_name"] for r in params.to_pylist() if r["run_name"] == run_name},
    )


def test_resume_gate_failure_stores_in_stage_order(spark, completed):
    """The gold gate of a resume runs alongside the kept gate, but after
    the kept gate fails it stores nothing: metrics and parameters exist
    for the source, silver and kept gates only, as in a sequential run."""
    catalog, _ = completed
    bad = PipelineConfig(keep_fraction_band=(0.95, 1.0))
    with pytest.raises(GateFailed, match="pages_kept_suite"):
        run_pipeline(spark, catalog, epoch=1, config=bad, run_name="rF", resume=True)
    want = {"pages_source_suite", "pages_silver_suite", "pages_kept_suite"}
    assert _stored_suites(catalog, "rF") == (want, want)


def test_resume_gate_jobs_keep_the_callers_job_group(spark, completed):
    """The resume's gates run on pool threads, which take the caller's
    Spark local properties: their jobs land in the caller's job group."""
    catalog, _ = completed
    sc = spark.sparkContext
    group = f"resume-{os.getpid()}"
    sc.setJobGroup(group, "resume under a caller's job group")
    try:
        run_pipeline(spark, catalog, epoch=1, run_name="rG", resume=True)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the source, kept and gold gates each scan for url uniqueness; job
    # events reach the status tracker asynchronously
    deadline = time.monotonic() + 30
    while (len(sc.statusTracker().getJobIdsForGroup(group)) < 3
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


@pytest.mark.parametrize("resume", [False, True], ids=["fresh", "resume"])
def test_resume_calls_each_gate_function_once_per_gate(
    spark, completed, pages, tmp_path, monkeypatch, resume
):
    """The benchmark's tracer wraps these module attributes and labels
    its spans by positional arguments (``perfbench/spans.py``).  A fresh
    run and a resume must each reach every one of them once per gate or
    stage, from whichever thread, with the gate or the stage table at
    the position the tracer reads."""
    from greatex_spark.expectations import params as params_mod
    from greatex_spark.pipeline import checkpoint as checkpoint_mod
    from greatex_spark.pipeline import runner as runner_mod

    calls = []

    def counted(name, fn, label):
        def wrapper(*args, **kwargs):
            calls.append((name, label(args)))
            return fn(*args, **kwargs)

        return wrapper

    for owner, name, label in (
        (runner_mod, "run_checkpoint", lambda a: a[2].name),
        (runner_mod, "store_partition_lineage", lambda a: a[3]),
        (checkpoint_mod, "run_suite", lambda a: None),
        (checkpoint_mod, "store_metrics", lambda a: None),
        (params_mod, "store_parameters", lambda a: None),
        (Catalog, "write_snapshot", lambda a: a[2]),
        (Catalog, "read_snapshot", lambda a: a[2]),
    ):
        monkeypatch.setattr(owner, name, counted(name, getattr(owner, name), label))
    if resume:
        run_pipeline(spark, completed[0], epoch=1, run_name="rT", resume=True)
    else:
        run_pipeline(spark, Catalog(str(tmp_path)), epoch=1, source_df=pages, run_name="rT")
    want = Counter({("run_suite", None): 4, ("store_metrics", None): 4,
                    ("store_parameters", None): 4})
    for gate, table in zip(("source", "silver", "kept", "gold"), (BRONZE, SILVER, KEPT, GOLD)):
        want.update([("run_checkpoint", gate), ("read_snapshot", table)])
        if not resume:
            want.update([("write_snapshot", table), ("store_partition_lineage", table)])
    assert Counter(calls) == want


def test_pipeline_suites_carry_no_parameter_markers():
    """A resume resolves every gate's suite before the earlier gates store
    their parameters, so a pipeline suite bound by ``$PARAMETER`` would
    read the previous run's values: none may carry a marker."""
    for suite in (S.source_suite(), S.source_suite(html_extracted=True), S.silver_suite(),
                  S.kept_suite(1, 2), S.gold_suite("en")):
        assert not suite_has_markers(suite), suite.name


def test_gate_failure_halts_and_resume_completes(spark, tmp_path, pages):
    catalog = Catalog(str(tmp_path / "lake2"))
    # impossible keep corridor → the kept gate must fail AFTER bronze
    # and silver committed
    bad = PipelineConfig(keep_fraction_band=(0.95, 1.0))
    with pytest.raises(GateFailed, match="pages_kept_suite"):
        run_pipeline(spark, catalog, epoch=7, source_df=pages, config=bad, run_name="rA")
    assert catalog.has_epoch(BRONZE, 7) and catalog.has_epoch(SILVER, 7)
    assert not catalog.has_epoch(GOLD, 7)
    # fix the config, resume: bronze/silver skipped, pipeline completes
    result = run_pipeline(spark, catalog, epoch=7, config=PipelineConfig(), run_name="rB")
    assert BRONZE in result.skipped and SILVER in result.skipped
    assert catalog.has_epoch(GOLD, 7)
    assert all(v.success for v in result.validations.values())


def test_bronze_fixture_matches_generator(spark):
    """The committed parquet fixtures (tools/make_bronze_fixture.py) must
    stay byte-equal to generate_pages(seed=42) — the pipeline oracle
    reads the fixture files, so silent generator drift would quietly
    decouple the Spark query from its DuckDB twin."""
    import os

    fix_dir = os.path.join(os.path.dirname(__file__), "fixtures")
    for n in (1500, 4000, 12000):
        fixture = spark.read.parquet(
            os.path.join(fix_dir, f"bronze_pages_n{n}.parquet")
        )
        gen = generate_pages(spark, n, seed=42)
        # parquet round-trip relaxes nullability; names+types must match
        assert [(f.name, f.dataType) for f in fixture.schema] == [
            (f.name, f.dataType) for f in gen.schema
        ], n
        cols = [F.col(c) for c in gen.columns]

        def chk(df):
            return df.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64(*cols)).alias("h"),
            ).collect()[0]

        assert chk(fixture) == chk(gen), n


def test_missing_bronze_requires_source(spark, tmp_path):
    catalog = Catalog(str(tmp_path / "lake3"))
    with pytest.raises(ValueError, match="source_df required"):
        run_pipeline(spark, catalog, epoch=3)


def test_kill_mid_gold_write_then_resume(spark, tmp_path, pages, completed):
    """REAL failure injection for the reference's depends_on_past
    recovery semantics (dags/retail_data_pipeline.py:14): a separate
    driver process runs the pipeline and is SIGKILLed (whole process
    group, JVM included) the moment the gold snapshot directory
    appears — i.e. mid-parquet-write, before the manifest pointer
    flip.  The partial snapshot must NOT be visible as committed, and
    a resume=True run in a fresh session must replace it and produce a
    gold table identical to an uninterrupted run's."""
    import os
    import signal
    import subprocess
    import sys
    import textwrap
    import time

    import greatex_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(greatex_spark.__file__)))
    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    pages.write.parquet(src)
    child = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from greatex_spark.session import get_spark
        from greatex_spark.tables import Catalog
        from greatex_spark.pipeline.runner import run_pipeline
        spark = get_spark(master="local[4]", app_name="kill-victim")
        run_pipeline(spark, Catalog({lake!r}), epoch=5,
                     source_df=spark.read.parquet({src!r}), run_name="victim")
    """)
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, preexec_fn=os.setsid,
    )
    gold_snap = os.path.join(lake, GOLD, "snapshot=5")
    deadline = time.time() + 600
    killed = False
    try:
        while time.time() < deadline and proc.poll() is None:
            if os.path.exists(gold_snap):
                os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
                killed = True
                break
            time.sleep(0.001)
    finally:
        if not killed:
            out, err = b"", b""
            try:
                os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
                out, err = proc.communicate(timeout=30)
            except Exception:
                pass
            pytest.fail(
                f"gold write never started (rc={proc.poll()}):\n"
                f"{err.decode(errors='replace')[-2000:]}"
            )
    proc.wait(timeout=30)

    catalog = Catalog(lake)
    # the kill landed after the snapshot dir appeared but before the
    # manifest flip: partial bytes on disk, nothing committed
    assert os.path.exists(gold_snap)
    assert not catalog.has_epoch(GOLD, 5)
    # upstream stages committed before the crash are reused by resume
    assert catalog.has_epoch(BRONZE, 5)

    result = run_pipeline(spark, catalog, epoch=5, run_name="resumed", resume=True)
    assert result.counts[KEPT] > 0
    assert catalog.has_epoch(GOLD, 5)

    def table_sig(cat, epoch):
        df = cat.read_snapshot(spark, GOLD, epoch)
        cols = [F.col(c) for c in df.columns]
        return df.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
        ).collect()[0]

    ref_catalog, _ = completed
    assert table_sig(catalog, 5) == table_sig(ref_catalog, 1)


def test_retention_expires_old_epochs_after_gated_run(spark, tmp_path, pages):
    """retain_epochs: after a fully-gated run, staged tables keep only
    the newest N epochs; the append-only metrics/lineage audit trail is
    never expired; the retained epoch stays fully readable."""
    catalog = Catalog(str(tmp_path / "lake"))
    cfg = PipelineConfig(retain_epochs=1, orphan_min_age_sec=0.0)
    run_pipeline(spark, catalog, epoch=1, source_df=pages, run_name="m1", config=cfg)
    r2 = run_pipeline(spark, catalog, epoch=2, source_df=pages, run_name="m2", config=cfg)

    for table in (BRONZE, SILVER, KEPT, GOLD):
        assert r2.maintenance[table]["expired_epochs"] == [1]
        assert catalog.latest_epoch(table) == 2
        assert not catalog.has_epoch(table, 1)
    assert catalog.read_latest(spark, GOLD).count() > 0
    # the audit trail survives retention: both runs' metrics are there
    metrics = catalog.read_latest(spark, "metrics")
    assert metrics.where(F.col("run_name") == "m1").count() > 0
    assert metrics.where(F.col("run_name") == "m2").count() > 0


def test_substring_trim_stage(spark, tmp_path, pages):
    """Opt-in ExactSubstr rewrite between dedup and gold: a 22-token
    boilerplate suffix planted on ~1/7 of the pages survives in at most
    ONE gold page (the corpus-canonical copy); every gold row's
    n_tokens equals the whitespace token count of its final text."""
    boiler = (
        "the quality of the data and the value of the text must be"
        " clear and complete for all users of the system today."
    )
    marked = pages.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("url"), F.lit(7)) == 0,
            F.concat(F.col("text"), F.lit(" " + boiler)),
        ).otherwise(F.col("text")),
    ).withColumn(  # keep the source-suite extraction invariant intact
        "html",
        F.encode(
            F.concat(F.lit(HTML_PRE), F.col("text"), F.lit(HTML_POST)),
            "UTF-8",
        ),
    )
    catalog = Catalog(str(tmp_path / "lake"))
    cfg = PipelineConfig(substring_trim=True)
    result = run_pipeline(
        spark, catalog, epoch=1, source_df=marked, config=cfg, run_name="rT"
    )
    assert all(v.success for v in result.validations.values()), result.summary()

    gold = catalog.read_latest(spark, GOLD).cache()
    marker = "must be clear and complete for all users"
    hits = gold.where(F.col("text").contains(marker)).count()
    marked_in_gold = gold.where(
        F.pmod(F.xxhash64("url"), F.lit(7)) == 0
    ).count()
    assert hits <= 1
    if marked_in_gold >= 1:
        assert hits == 1  # the canonical copy, and only it, keeps it
    # trim rewrites text whitespace-normalized and recounts n_tokens
    mismatch = gold.where(
        F.size(F.filter(F.split("text", r"\s+"), lambda w: w != F.lit("")))
        != F.col("n_tokens")
    ).count()
    assert mismatch == 0
    gold.unpersist()
