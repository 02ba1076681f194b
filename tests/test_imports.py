"""The pipeline imports only what it runs: loading the runner and the
MinHash dedup module must stay inside an explicit list of pipeline-path
modules, and the streaming package must load only the gated ingest, not
the rest of the catalogue through package re-exports."""

from __future__ import annotations

import json
import subprocess
import sys

# Every module a pipeline run may load: the runner's import closure
# plus the modules its stages, checkpoints and report import lazily.
PIPELINE_MODULES = frozenset(
    "greatex_spark." + m
    for m in (
        "expectations",
        "expectations.compiler",
        "expectations.params",
        "expectations.spec",
        "functions",
        "functions.exprs",
        "functions.heuristics",
        "functions.heuristics_arrow",
        "functions.html",
        "functions.langid",
        "functions.perplexity",
        "functions.pii",
        "functions.textstats",
        "functions.toxicity",
        "operators",
        "operators.dedup",
        "operators.substringdedup",
        "pages",
        "pipeline",
        "pipeline.checkpoint",
        "pipeline.report",
        "pipeline.runner",
        "pipeline.stages",
        "pipeline.suites",
        "session",
        "tables",
    )
)


def _loaded_after(*modules: str) -> set[str]:
    code = "import json, sys\n" + "".join(f"import {m}\n" for m in modules) + (
        "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('greatex_spark.'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    return set(json.loads(out.stdout.strip().splitlines()[-1]))


def test_pipeline_does_not_load_unused_operators():
    loaded = _loaded_after(
        "greatex_spark.pipeline.runner", "greatex_spark.operators.dedup"
    )
    assert "greatex_spark.pipeline.runner" in loaded
    assert loaded <= PIPELINE_MODULES, sorted(loaded - PIPELINE_MODULES)


def test_streaming_package_loads_only_the_gated_ingest():
    loaded = _loaded_after("greatex_spark.streaming")
    assert "greatex_spark.streaming.ingest" in loaded
    assert "greatex_spark.streaming.stateful" not in loaded
    assert not any(m.startswith("greatex_spark.operators") for m in loaded), sorted(
        loaded
    )
