"""The repository benchmark: three closed-loop workloads driven through
the package's public entry points on one ``local[nproc]`` session.

    python3 perfbench/run.py --workload gated_batch --seed 1 --seconds 4 --trace 0

Workloads (inputs are a pure function of ``--seed``):

- ``gated_batch``: one ``run_pipeline`` call per pass on a fresh catalog
  over a pre-written parquet of seeded pages; the production path. A
  small warm-up run in set-up pays code generation, JIT and Python
  worker start-up, so the measured pass is the steady per-page work of
  featurize, MinHash dedup and the four snapshot writes plus the gates.
- ``regate_resume``: ``run_pipeline(resume=True)`` on an epoch whose four
  snapshots were committed during set-up. Every stage is skipped, so a
  pass is the four gates reading committed parquet plus the metrics,
  parameter and lineage appends and the reports. A featurize change
  must not move it; a gate change shows in full.
- ``stream_ingest``: ``gated_ingest`` drains a landing directory of many
  small page files, one file per micro-batch. A seeded share of the
  files is dirty, so the source suite quarantines those batches.
  Per-micro-batch fixed cost dominates.

Each pass starts from the same on-disk state; resetting it is untimed.
Each pass's output is checked; a pass that raises or fails its check
counts in ``failed``. With ``--trace 0`` the last stdout line carries
every end-to-end metric of ``BENCHMARK.json``; with ``--trace 1`` the
run adds one traced pass (spans around each public call, Spark UI on)
and the last line carries every per-layer metric instead. All state
lives under ``.bench_work/`` in the checkout, on local disk.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import RssSampler, SparkRest, cpu_ticks, dir_usage, percentile  # noqa: E402

# BASELINE.md times the page pipeline at 100k pages on 32 cores; 1/8 of
# that for the 4 cores the benchmark was sized on is 12.5k pages, cut to
# 6k to fit the run budget. At this size featurize, dedup and the
# snapshot writes take about half of a pass; the gates are fixed cost.
BATCH_PAGES = 6_000
WARM_PAGES = 500
# resume reads what set-up committed, so its set-up pays a cold pipeline
# run; a smaller epoch keeps that within the run budget
REGATE_PAGES = 2_000
# Arbitrary, with no traffic figure behind them: small landing files so
# that per-micro-batch fixed cost dominates, and enough dirty files that
# every pass quarantines several batches.
STREAM_FILES = 12
STREAM_FILE_PAGES = 60
STREAM_DIRTY_SHARE = 0.25

# job group of the benchmark's own output-check jobs, kept out of spark.*
CHECK_GROUP = "perfbench-check"

BATCH_TABLES = ("bronze", "silver", "kept", "gold")
GATES = ("source", "silver", "kept", "gold")
APPEND_TABLES = ("metrics", "partition_lineage", "evaluation_parameters")

# Per-layer metric -> (end-to-end metric it should move, on which workload).
LAYER_TARGETS = {
    "runner.self_s": ("docs_per_s", "regate_resume"),
    **{f"tables.{m}.{t}": ("docs_per_s,stored_bytes_per_input_byte", "gated_batch")
       for m in ("write_s", "bytes_written", "files_written") for t in BATCH_TABLES},
    **{f"expectations.{m}.{g}": ("docs_per_s", "regate_resume")
       for m in ("suite_s", "jobs", "scan_bytes") for g in GATES if g != "source"},
    **{f"expectations.{m}.source": ("docs_per_s,batch_ms_p50", "regate_resume,stream_ingest")
       for m in ("suite_s", "jobs", "scan_bytes")},
    "checkpoint.store_s": ("batch_ms_p50,docs_per_s", "stream_ingest,regate_resume"),
    "checkpoint.files_appended": ("batch_ms_p50,docs_per_s", "stream_ingest,regate_resume"),
    "stages.featurize_s": ("docs_per_s", "gated_batch"),
    "stages.featurize_docs_per_cpu_s": ("docs_per_s", "gated_batch"),
    "stages.featurize_gc_s": ("docs_per_s", "gated_batch"),
    "dedup.s": ("docs_per_s,peak_rss_mb", "gated_batch"),
    "dedup.shuffle_write_bytes": ("docs_per_s,peak_rss_mb", "gated_batch"),
    "dedup.spill_bytes": ("docs_per_s,peak_rss_mb", "gated_batch"),
    "dedup.drop_fraction": ("docs_per_s,peak_rss_mb", "gated_batch"),
    "stages.gold_s": ("docs_per_s", "gated_batch"),
    "report.s": ("docs_per_s", "regate_resume"),
    **{f"streaming.{m}": ("batch_ms_p50", "stream_ingest")
       for m in ("add_batch_ms_p50", "planning_ms_p50", "wal_ms_p50", "batches",
                 "quarantine_fraction")},
    **{f"spark.{m}": ("docs_per_s,peak_rss_mb", "all")
       for m in ("executor_cpu_s", "cpu_util", "gc_s", "shuffle_write_bytes",
                 "spill_bytes", "jobs", "tasks")},
    "trace.overhead_s": ("none: traced minus untraced pass wall time", "all"),
}


class Bench:
    """One workload's set-up, passes and checks on one session.

    A pass is ``reset`` (untimed; returns the bytes already stored under
    the pass's output directories), ``run`` (timed, under the memory
    sampler) and ``after`` (untimed: stored bytes and the output check).
    """

    PAGES = BATCH_PAGES
    checksum = None  # gold checksum of the first checked pass, if any

    def __init__(self, spark, work: str, seed: int, scale: float, jvm_pid: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pages = max(1, round(self.PAGES * scale))
        self.warm_pages = max(1, round(WARM_PAGES * scale))
        self.n_files = max(2, round(STREAM_FILES * scale))
        self.jvm_pid = jvm_pid
        self.input_dir = os.path.join(work, "input")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warmup(self) -> None:
        pass

    def one_pass(self, run=None) -> dict:
        """``run`` replaces ``self.run`` for the traced pass."""
        stored_before = self.reset()
        with RssSampler(self.jvm_pid) as mem:
            t0 = time.perf_counter()
            result = (run or self.run)()
            wall = time.perf_counter() - t0
        info = {"wall_s": wall, "peak_rss_mb": mem.peak / 2**20}
        sc = self.spark.sparkContext
        previous = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(CHECK_GROUP, "benchmark output check")
        try:
            info.update(self.after(result, stored_before))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", previous)
        return info


class GatedBatch(Bench):
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from greatex_spark.pages import generate_pages

        # the planted labels are for the check only; the engine never sees them
        pages = generate_pages(self.spark, self.pages, seed=self.seed,
                               include_labels=True).persist()
        pages.drop("page_class", "expected_keep").write.parquet(self.input_dir)
        self.expected = {
            r.url for r in pages.where(F.col("expected_keep")).select("url").collect()
        }
        pages.unpersist()
        self.input_bytes = dir_usage(self.input_dir, ".parquet")[0]
        self.n = 0

    def warmup(self) -> None:
        # a small run compiles the same plans below bronze and starts the
        # Python workers, so the measured pass is not a cold start
        from greatex_spark.pipeline.runner import run_pipeline
        from greatex_spark.tables import Catalog

        cat_dir = self.path("cat-warm")
        source = self.spark.read.parquet(self.input_dir).limit(self.warm_pages)
        result = run_pipeline(self.spark, Catalog(cat_dir), 1, source_df=source.repartition(
            self.spark.sparkContext.defaultParallelism))
        shutil.rmtree(cat_dir)
        if not all(v.success for v in result.validations.values()):
            raise RuntimeError("warm-up pass: a gate failed")

    def reset(self) -> int:
        self.cat_dir = self.path(f"cat-{self.n}")
        self.n += 1
        return 0

    def run(self):
        from greatex_spark.pipeline.runner import run_pipeline
        from greatex_spark.tables import Catalog

        return run_pipeline(self.spark, Catalog(self.cat_dir), 1,
                            source_df=self.spark.read.parquet(self.input_dir))

    def after(self, result, stored_before: int) -> dict:
        info = {
            "docs": self.pages,
            "stored": (dir_usage(self.cat_dir)[0] - stored_before) / self.input_bytes,
            "check": self.check(result),
        }
        shutil.rmtree(self.cat_dir)
        return info

    def check(self, result) -> str | None:
        from pyspark.sql import functions as F

        from greatex_spark.tables import Catalog

        if not all(v.success for v in result.validations.values()):
            return "a gate failed"
        gold = Catalog(self.cat_dir).read_snapshot(self.spark, "pages_gold", 1)
        got = {r.url for r in gold.select("url").collect()}
        tp = len(got & self.expected)
        f1 = 2 * tp / (len(got) + len(self.expected)) if got or self.expected else 1.0
        if f1 < 0.99:
            return f"gold keep/drop F1 {f1:.4f} < 0.99"
        checksum = gold.agg(
            F.sum(F.xxhash64("url", "text").cast("decimal(38,0)"))
        ).first()[0]
        if self.checksum is None:
            self.checksum = checksum
        elif checksum != self.checksum:
            return f"gold checksum {checksum} != {self.checksum}"
        return None


class RegateResume(GatedBatch):
    PAGES = REGATE_PAGES

    def setup(self) -> None:
        from greatex_spark.pages import generate_pages
        from greatex_spark.pipeline.runner import run_pipeline
        from greatex_spark.tables import Catalog

        generate_pages(self.spark, self.pages, seed=self.seed).write.parquet(self.input_dir)
        self.input_bytes = dir_usage(self.input_dir, ".parquet")[0]
        self.cat_dir = self.path("cat")
        first = run_pipeline(self.spark, Catalog(self.cat_dir), 1,
                             source_df=self.spark.read.parquet(self.input_dir))
        self.setup_gates = _gate_fingerprint(first)

    def warmup(self) -> None:
        # the set-up run already ran the same suites on the same snapshots;
        # a resume in production is a fresh process, so no extra warm-up
        pass

    def reset(self) -> int:
        # append-only tables and reports would otherwise grow across passes
        for name in (*APPEND_TABLES, "reports", "data_docs"):
            shutil.rmtree(os.path.join(self.cat_dir, name), ignore_errors=True)
        return dir_usage(self.cat_dir)[0]

    def run(self):
        from greatex_spark.pipeline.runner import run_pipeline
        from greatex_spark.tables import Catalog

        return run_pipeline(self.spark, Catalog(self.cat_dir), 1, resume=True)

    def after(self, result, stored_before: int) -> dict:
        return {
            "docs": self.pages,
            "stored": (dir_usage(self.cat_dir)[0] - stored_before) / self.input_bytes,
            "check": self.check(result),
        }

    def check(self, result) -> str | None:
        want = ["pages_bronze", "pages_gold", "pages_kept", "pages_silver"]
        if sorted(result.skipped) != want:
            return f"skipped {result.skipped}, want all four tables"
        if _gate_fingerprint(result) != self.setup_gates:
            return "gate statistics differ from the set-up run"
        return None


def _gate_fingerprint(result) -> dict:
    return {
        gate: (vr.success, vr.statistics, [(r.success, r.result) for r in vr.results])
        for gate, vr in result.validations.items()
    }


class StreamIngest(Bench):
    """Landing files are written with pyarrow so each file is exactly one
    micro-batch under ``maxFilesPerTrigger=1``."""

    OUTPUTS = ("bronze", "quarantine", "ckpt", "cat")

    def setup(self) -> None:
        self.src = self.path("landing_src")
        self.cat_dir = self.path("cat")  # the metrics table of the micro-batch gates
        self.files = self.land(self.src, self.n_files, self.seed)
        self.input_bytes = dir_usage(self.src, ".parquet")[0]
        self.progress: list[dict] = []
        self.spark.streams.addListener(_progress_listener(self.progress))

    def land(self, where: str, n_files: int, seed: int) -> list[tuple[int, bool]]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from greatex_spark.pages import generate_pages

        table = generate_pages(self.spark, n_files * STREAM_FILE_PAGES, seed=seed,
                               num_partitions=1).toArrow()
        rng = random.Random(seed)
        dirty = set(rng.sample(range(n_files), max(1, round(n_files * STREAM_DIRTY_SHARE))))
        os.makedirs(where)
        files = []
        for i in range(n_files):
            chunk = table.slice(i * STREAM_FILE_PAGES, STREAM_FILE_PAGES)
            if i in dirty:
                if rng.random() < 0.5:  # a repeated url
                    chunk = pa.concat_tables([chunk, chunk.slice(0, 1)])
                else:  # a language outside the known set
                    langs = chunk.column("lang").to_pylist()
                    langs[0] = "xx"
                    chunk = chunk.set_column(
                        chunk.schema.get_field_index("lang"), "lang",
                        pa.array(langs, pa.string()))
            pq.write_table(chunk, os.path.join(where, f"part-{i:05d}.parquet"))
            files.append((chunk.num_rows, i in dirty))
        return files

    def warmup(self) -> None:
        # up to two clean and two dirty files: both the bronze and the
        # quarantine path; after one batch each the JVM heap is still
        # growing, and peak memory then spreads from run to run
        full, full_files = self.src, self.files
        self.src = self.path("warm_src")
        os.makedirs(self.src)
        clean = [i for i, (_, d) in enumerate(full_files) if not d]
        dirty = [i for i, (_, d) in enumerate(full_files) if d]
        picks = sorted(clean[:2] + dirty[:2])
        for i in picks:
            name = f"part-{i:05d}.parquet"
            shutil.copy(os.path.join(full, name), os.path.join(self.src, name))
        self.files = [full_files[i] for i in picks]
        try:
            info = self.one_pass()
        finally:
            shutil.rmtree(self.src)
            self.src, self.files = full, full_files
        if info["check"]:
            raise RuntimeError(f"warm-up pass failed its check: {info['check']}")

    def reset(self) -> int:
        for d in ("landing", *self.OUTPUTS):
            shutil.rmtree(self.path(d), ignore_errors=True)
        shutil.copytree(self.src, self.path("landing"))
        self.progress.clear()
        return 0

    def run(self) -> None:
        from greatex_spark.pipeline.suites import source_suite
        from greatex_spark.streaming import gated_ingest
        from greatex_spark.tables import Catalog

        gated_ingest(self.spark, self.path("landing"), self.path("bronze"),
                     self.path("quarantine"), self.path("ckpt"), source_suite(),
                     max_files_per_trigger=1, catalog=Catalog(self.cat_dir))

    def after(self, result, stored_before: int) -> dict:
        deadline = time.monotonic() + 10  # listener events arrive asynchronously
        while len(self.progress) < len(self.files) and time.monotonic() < deadline:
            time.sleep(0.05)
        written = sum(dir_usage(self.path(d))[0] for d in self.OUTPUTS)
        return {
            "docs": sum(n for n, _ in self.files),
            "stored": (written - stored_before) / self.input_bytes,
            "batches": list(self.progress),
            "quarantined": self.batch_dirs("quarantine"),
            "check": self.check(),
        }

    def batch_dirs(self, d: str) -> int:
        """Micro-batches written under ``d`` (one partition directory each)."""
        path = self.path(d)
        if not os.path.isdir(path):
            return 0
        return sum(1 for n in os.listdir(path) if n.startswith("__batch_id="))

    def rows(self, d: str) -> int:
        path = self.path(d)
        return self.spark.read.parquet(path).count() if os.path.exists(path) else 0

    def check(self) -> str | None:
        if len(self.progress) != len(self.files):
            return f"{len(self.progress)} micro-batches reported, want {len(self.files)}"
        want = (sum(n for n, dirty in self.files if not dirty),
                sum(n for n, dirty in self.files if dirty))
        got = (self.rows("bronze"), self.rows("quarantine"))
        if got != want:
            return f"bronze/quarantine rows {got}, want {want}"
        return None


def _progress_listener(progress: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0:
                progress.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


WORKLOADS = {
    "gated_batch": GatedBatch,
    "regate_resume": RegateResume,
    "stream_ingest": StreamIngest,
}


# ---------------------------------------------------------------------------
# end-to-end metrics


def end_to_end(workload: str, passes: list[dict], setup_s: float) -> dict[str, float]:
    if workload == "stream_ingest":
        batch_ms = [b["triggerExecution"] for p in passes for b in p["batches"]]
    else:
        # one pipeline run is the batch of a batch workload
        batch_ms = [p["wall_s"] * 1000 for p in passes]
    return {
        "setup_s": setup_s,
        "docs_per_s": statistics.median(p["docs"] / p["wall_s"] for p in passes),
        "batch_ms_p50": percentile(batch_ms, 50),
        "batch_ms_p90": percentile(batch_ms, 90),
        "stored_bytes_per_input_byte": statistics.median(p["stored"] for p in passes),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
    }


# ---------------------------------------------------------------------------
# traced pass -> per-layer metrics


def traced_pass(bench: Bench, workload: str, twin: dict, attempt) -> dict:
    """Per-layer metrics from one traced pass; ``twin`` is the untraced
    pass run just before it, for the tracing overhead."""
    from spans import PIPELINE_PATCHES, STREAM_PATCHES, Tracer

    tracer = Tracer(bench.spark, workload, bench.jvm_pid)
    root_name = "streaming.gated_ingest" if workload == "stream_ingest" else "runner.run_pipeline"
    patches = STREAM_PATCHES if workload == "stream_ingest" else PIPELINE_PATCHES
    rest = SparkRest(bench.spark)
    last_job = rest.last_job_id()
    appended = {}

    def run():
        before = _append_files(bench)
        with tracer.patched(patches), tracer.span(root_name):
            out = bench.run()
        appended["files"] = _append_files(bench) - before
        return out

    info = attempt(run)
    bench.spark.catalog.clearCache()
    if info is None:
        return {}
    wall = info["wall_s"]
    root = tracer.spans[0]

    # one closed-loop driver: every job after ``last_job`` is this pass's,
    # except the benchmark's own output check
    jobs = [j for j in rest.jobs_after(last_job) if j.get("jobGroup") != CHECK_GROUP]
    stages = rest.stages()
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup"), []).append(j)

    def spark_of(spans) -> dict[str, float]:
        ids = {s.id for s in spans}
        js = [j for g, lst in by_group.items() if g in ids for j in lst]
        st = [stages[i] for j in js for i in j["stageIds"] if i in stages]
        return _stage_totals(js, st)

    def spans_named(name, **attrs):
        return [s for s in tracer.spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def total(name, **attrs) -> float:
        return sum(s.duration for s in spans_named(name, **attrs))

    def with_subtree(spans):
        return spans + [c for s in spans for c in tracer.subtree(s)]

    m: dict[str, float] = {
        "runner.self_s": tracer.self_time(root) if root.name == "runner.run_pipeline" else 0.0
    }
    for t in BATCH_TABLES:
        writes = spans_named("tables.write_snapshot", table=t)
        m[f"tables.write_s.{t}"] = sum(s.duration for s in writes)
        m[f"tables.bytes_written.{t}"] = sum(s.attrs.get("bytes_written", 0) for s in writes)
        m[f"tables.files_written.{t}"] = sum(s.attrs.get("files_written", 0) for s in writes)
    for g in GATES:
        suites = [s for s in spans_named("expectations.run_suite")
                  if s.attrs.get("gate", "source") == g]
        sp = spark_of(with_subtree(suites))
        m[f"expectations.suite_s.{g}"] = sum(s.duration for s in suites)
        m[f"expectations.jobs.{g}"] = sp["jobs"]
        m[f"expectations.scan_bytes.{g}"] = sp["input_bytes"]
    m["checkpoint.store_s"] = (total("checkpoint.store_metrics")
                               + total("params.store_parameters")
                               + total("checkpoint.store_partition_lineage"))
    m["checkpoint.files_appended"] = appended["files"]
    feat = spans_named("stages.featurize")
    feat_cpu = sum(s.attrs["cpu_s"] for s in feat)
    m["stages.featurize_s"] = sum(s.duration for s in feat)
    m["stages.featurize_docs_per_cpu_s"] = (
        sum(s.attrs["rows"] for s in feat) / feat_cpu if feat_cpu else 0.0
    )
    m["stages.featurize_gc_s"] = spark_of(with_subtree(feat))["gc_s"]
    dd = spans_named("stages.dedup")
    dsp = spark_of(with_subtree(dd))
    m["dedup.s"] = sum(s.duration for s in dd)
    m["dedup.shuffle_write_bytes"] = dsp["shuffle_write_bytes"]
    m["dedup.spill_bytes"] = dsp["spill_bytes"]
    rows_in = sum(s.attrs["rows"] for s in spans_named("stages.filter_kept"))
    rows_out = sum(s.attrs["rows"] for s in dd)
    m["dedup.drop_fraction"] = (rows_in - rows_out) / rows_in if rows_in else 0.0
    m["stages.gold_s"] = total("stages.gold_projection")
    m["report.s"] = total("report.write_run_report") + total("report.write_data_docs")

    batches = info.get("batches", [])
    for key, field in (("add_batch_ms_p50", "addBatch"), ("planning_ms_p50", "queryPlanning"),
                       ("wal_ms_p50", "walCommit")):
        m[f"streaming.{key}"] = percentile([b.get(field, 0) for b in batches], 50) if batches else 0.0
    m["streaming.batches"] = len(batches)
    m["streaming.quarantine_fraction"] = info["quarantined"] / len(batches) if batches else 0.0

    everything = _stage_totals(jobs, [stages[i] for j in jobs for i in j["stageIds"]
                                      if i in stages])
    m["spark.executor_cpu_s"] = everything["cpu_s"]
    m["spark.cpu_util"] = everything["cpu_s"] / (wall * _nproc())
    m["spark.gc_s"] = everything["gc_s"]
    m["spark.shuffle_write_bytes"] = everything["shuffle_write_bytes"]
    m["spark.spill_bytes"] = everything["spill_bytes"]
    m["spark.jobs"] = everything["jobs"]
    m["spark.tasks"] = everything["tasks"]
    m["trace.overhead_s"] = wall - twin["wall_s"]
    m["spans"] = tracer.to_records()
    return m


def _stage_totals(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "tasks": sum(s["numTasks"] for s in stages),
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
    }


def _append_files(bench: Bench) -> int:
    return sum(dir_usage(os.path.join(bench.cat_dir, t), ".parquet")[1]
               for t in APPEND_TABLES)


# ---------------------------------------------------------------------------
# session and driver


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    from greatex_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return get_spark(master=f"local[{_nproc()}]", app_name="perfbench", extra_conf=conf)


def environment(spark, work: str) -> dict:
    jvm = spark.sparkContext._jvm.System  # the JVM Spark runs on, not the one on PATH
    return {
        "nproc": _nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": f'{jvm.getProperty("java.vm.name")} {jvm.getProperty("java.version")}',
        "python": platform.python_version(),
        "storage": f"local disk under {os.path.relpath(work, ROOT)} in the checkout",
        "conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (a smoke run uses a small one)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "greatex_spark", "__init__.py")):
        print(f"greatex_spark package not found next to {HERE}", file=sys.stderr)
        return 2
    spec = load_spec()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    steal0, ticks0 = cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        session_s = time.perf_counter() - t0
        bench = WORKLOADS[args.workload](spark, work, args.seed, args.scale, jvm_pid)
        t1 = time.perf_counter()
        bench.setup()
        t2 = time.perf_counter()
        bench.warmup()
        t3 = time.perf_counter()
        setup_s = session_s + t3 - t1
        env = environment(spark, work)
        env["setup_phases_s"] = {"session": session_s, "inputs": t2 - t1, "warmup": t3 - t2}

        passes: list[dict] = []
        errors: list[str] = []

        def attempt(run=None) -> dict | None:
            try:
                p = bench.one_pass(run)
            except Exception as e:  # noqa: BLE001 - a raising pass counts as failed
                p = {"check": f"{type(e).__name__}: {e}"[:500]}
            passes.append(p)
            if p["check"]:
                errors.append(p["check"])
                return None
            return p

        t_end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < t_end:
            attempt()
        good = [p for p in passes if not p["check"]]
        steal1, ticks1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: a cause of noise
        env["cpu_steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        print(json.dumps({"environment": env}))
        if args.trace:
            kind = "per_layer"
            # the last untraced pass ran right before the traced one, as warm
            twin = passes[-1]
            values = traced_pass(bench, args.workload, twin, attempt) if not twin["check"] else {}
            if "spans" in values:
                print(json.dumps({"spans": values.pop("spans")}))
        else:
            kind = "end_to_end"
            values = end_to_end(args.workload, good, setup_s) if good else {}
        units = {m["name"]: m["unit"] for m in spec[kind]}
        for n, unit in units.items():
            if n in values:
                note = " (moves {} on {})".format(*LAYER_TARGETS[n]) if args.trace else ""
                print(f"{n} = {values[n]:.6g} {unit}{note}")
        if "batch_ms_p90" in values:
            # a pass has far fewer than the 100 batches a p90 with ten
            # samples beyond it needs: shown, but not a bounded metric
            print(f"batch_ms_p90 = {values['batch_ms_p90']:.6g} ms (informational)")
        failed = sum(1 for p in passes if p["check"])
        samples = (sum(len(p["batches"]) for p in good)
                   if args.workload == "stream_ingest" else len(good))
        print(f"output checks run = {len(passes)}, failed = {failed}")
        print(f"failed_fraction = {failed / len(passes):.4f}, batch samples = {samples}")
        if bench.checksum is not None:
            # same seed, same gold: compared across runs by the smoke test
            print(f"gold_checksum = {bench.checksum}")
        for e in errors:
            print(f"failed pass: {e}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0 and all(n in values for n in units),
            "attempted": len(passes),
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u}
                        for n, u in units.items() if n in values},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
