"""The pipeline imports only what it runs: loading the runner and the
MinHash dedup module must not pull in the rest of the operator
catalogue through package re-exports."""

from __future__ import annotations

import json
import subprocess
import sys


def test_pipeline_does_not_load_unused_operators():
    code = (
        "import json, sys\n"
        "import greatex_spark.pipeline.runner\n"
        "import greatex_spark.operators.dedup\n"
        "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('greatex_spark.'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert "greatex_spark.pipeline.runner" in loaded
    for name in (
        "cms", "dsir", "cluster", "asof", "rangejoin", "sketch", "sessions",
        "embedding",
    ):
        assert f"greatex_spark.operators.{name}" not in loaded, sorted(loaded)
