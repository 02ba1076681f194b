"""Shared expression-tree helpers."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``value`` ONCE per row
    and feed the result to ``body`` as a lambda variable.

    Higher-order functions are CodegenFallback (interpreted), so Catalyst
    performs no common-subexpression elimination inside them; any
    expensive subtree referenced N times is evaluated N times.  Wrapping
    it as ``element_at(transform(array(value), body), 1)`` forces single
    evaluation — measured ~10-50× on tokenize-heavy passes (see
    ``operators/minhash.py``)."""
    return F.element_at(F.transform(F.array(value), body), 1)
