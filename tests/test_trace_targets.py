"""The benchmark's tracer (``perfbench/spans.py``) wraps engine functions
by module path and attribute name.  A refactor that moves or renames one
of them must fail here, not silently break ``perfbench/run.py --trace 1``."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _spans():
    # spans.py imports its sibling ``probes`` as a top-level module
    sys.path.insert(0, PERFBENCH)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_spans", os.path.join(PERFBENCH, "spans.py")
        )
        module = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = module  # its dataclasses look themselves up
        spec.loader.exec_module(module)
        return module
    finally:
        sys.path.remove(PERFBENCH)


SPANS = _spans()


@pytest.mark.parametrize(
    "module,attr",
    sorted({(m, a) for m, a, _, _ in SPANS.PIPELINE_PATCHES + SPANS.STREAM_PATCHES}),
)
def test_patch_target_resolves(module, attr):
    owner = importlib.import_module(module)
    for part in attr.split("."):
        owner = getattr(owner, part)
    assert callable(owner)
