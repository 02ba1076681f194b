"""Spans recorded from outside the engine.

A :class:`Tracer` wraps the package's public functions for the length
of one traced pass. Each call opens a span (name, start, end, parent,
workload, attributes) and sets the Spark job group to the span's id
before the call, so jobs and stages read back from the REST API
attribute to the innermost span that launched them. Lazy stage outputs
are materialised inside their own span with ``persist()`` plus
``count()``, so the ``tables.write_snapshot`` span that follows measures
encode and commit only. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import threading
import time
from dataclasses import dataclass, field

from probes import dir_usage, tree_cpu_s

# (module path, attribute, span name, what to do with the result)
#   "plain"       time the call
#   "materialize" persist() + count() the returned DataFrame in the span
PIPELINE_PATCHES = [
    ("greatex_spark.pipeline.runner", "featurize", "stages.featurize", "materialize"),
    ("greatex_spark.pipeline.runner", "filter_kept", "stages.filter_kept", "materialize"),
    ("greatex_spark.pipeline.runner", "dedup", "stages.dedup", "materialize"),
    ("greatex_spark.pipeline.runner", "gold_projection", "stages.gold_projection", "materialize"),
    ("greatex_spark.pipeline.runner", "run_checkpoint", "checkpoint.run_checkpoint", "plain"),
    ("greatex_spark.pipeline.runner", "store_partition_lineage",
     "checkpoint.store_partition_lineage", "plain"),
    ("greatex_spark.pipeline.checkpoint", "run_suite", "expectations.run_suite", "plain"),
    ("greatex_spark.pipeline.checkpoint", "store_metrics", "checkpoint.store_metrics", "plain"),
    ("greatex_spark.expectations.params", "store_parameters", "params.store_parameters", "plain"),
    ("greatex_spark.pipeline.report", "write_run_report", "report.write_run_report", "plain"),
    ("greatex_spark.pipeline.report", "write_data_docs", "report.write_data_docs", "plain"),
    ("greatex_spark.tables", "Catalog.write_snapshot", "tables.write_snapshot", "plain"),
    ("greatex_spark.tables", "Catalog.read_snapshot", "tables.read_snapshot", "plain"),
]

STREAM_PATCHES = [
    ("greatex_spark.streaming.ingest", "run_suite", "expectations.run_suite", "plain"),
    ("greatex_spark.pipeline.checkpoint", "store_metrics", "checkpoint.store_metrics", "plain"),
]


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    workload: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, jvm_pid: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is not None:
            # gates, tables and the like inherit from the enclosing call
            attrs = {**parent.attrs, **attrs}
        with self._lock:
            sid = f"perfbench-{len(self.spans)}"
            s = Span(sid, name, parent.id if parent else None, self.workload,
                     time.perf_counter(), attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        previous = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sid, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", previous)

    def _wrap(self, fn, name: str, mode: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = _call_attrs(name, args, kwargs)
            before = None
            if name == "tables.write_snapshot":
                before = dir_usage(_table_dir(args, kwargs), ".parquet")
            with tracer.span(name, **attrs) as s:
                cpu0 = tree_cpu_s(tracer.jvm_pid)
                out = fn(*args, **kwargs)
                if mode == "materialize":
                    out = out.persist()
                    s.attrs["rows"] = out.count()
                s.attrs["cpu_s"] = tree_cpu_s(tracer.jvm_pid) - cpu0
            if before is not None:
                after = dir_usage(_table_dir(args, kwargs), ".parquet")
                s.attrs["bytes_written"] = after[0] - before[0]
                s.attrs["files_written"] = after[1] - before[1]
            return out

        return wrapper

    @contextlib.contextmanager
    def patched(self, patches):
        """Wrap every listed public function for the length of the block.
        A missing name fails loudly instead of silently losing a span."""
        undo = []
        try:
            for mod_name, attr, span_name, mode in patches:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                original = getattr(owner, leaf)
                setattr(owner, leaf, self._wrap(original, span_name, mode))
                undo.append((owner, leaf, original))
            yield self
        finally:
            for owner, leaf, original in reversed(undo):
                setattr(owner, leaf, original)

    def self_time(self, span: Span) -> float:
        """Duration minus the union of its direct children's intervals."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            kids = [s for s in self.spans if s.parent == sid]
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def to_records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "workload": s.workload, "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6), "self_s": round(self.self_time(s), 6),
                "attrs": s.attrs,
            }
            for s in self.spans
        ]


_TABLE_TAGS = {
    "pages_bronze": "bronze", "pages_silver": "silver",
    "pages_kept": "kept", "pages_gold": "gold",
}


def _call_attrs(name: str, args, kwargs) -> dict:
    if name in ("tables.write_snapshot", "tables.read_snapshot"):
        table = args[2] if len(args) > 2 else kwargs.get("name")
        return {"table": _TABLE_TAGS.get(table, table)}
    if name == "checkpoint.store_partition_lineage":
        return {"table": _TABLE_TAGS.get(args[3], args[3])}
    if name == "checkpoint.run_checkpoint":
        return {"gate": args[2].name}
    return {}


def _table_dir(args, kwargs) -> str:
    catalog = args[0]
    return os.path.join(catalog.root, args[2] if len(args) > 2 else kwargs["name"])
