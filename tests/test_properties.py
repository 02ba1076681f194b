"""Property-based tests (hypothesis) for the pure-Python kernels whose
Spark twins are asserted elsewhere: the evaluation-parameter expression
evaluator and the toxicity scrub.

These run driver-side only (no SparkSession) so hypothesis can afford
hundreds of examples."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from greatex_spark.expectations.params import eval_param_expr
from greatex_spark.functions.toxicity import (
    DEFAULT_BLOCKLIST,
    scrub_toxicity_py,
    toxicity_pattern,
)

names = st.sampled_from(["a", "b.c", "suite.element_count", "x_1.observed_value"])
numbers = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(
    lambda f: round(f, 3)
)


@given(
    params=st.dictionaries(names, numbers, min_size=1, max_size=4),
    coeff=numbers,
)
@settings(max_examples=200, deadline=None)
def test_eval_param_linear_identity(params, coeff):
    """For any stored params, `name * 1 + coeff` == value + coeff and
    `min(name, name)` == value — the evaluator is plain arithmetic."""
    for name, value in params.items():
        got = eval_param_expr(f"{name} * 1 + {coeff!r}", params)
        assert got == value + coeff
        assert eval_param_expr(f"min({name}, {name})", params) == value


@given(expr=st.text(alphabet="abc.()+-*/ 0123456789'\"_", max_size=40))
@settings(max_examples=300, deadline=None)
def test_eval_param_never_executes_anything(expr):
    """Arbitrary junk either evaluates to a float or raises one of the
    documented error types — never imports, never calls builtins."""
    try:
        out = eval_param_expr(expr, {"a": 1.0, "b.c": 2.0})
    except (KeyError, ValueError, SyntaxError, ZeroDivisionError, OverflowError):
        return
    assert isinstance(out, (int, float))


words = st.text(alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
                min_size=1, max_size=8)


@given(tokens=st.lists(st.one_of(words, st.sampled_from(DEFAULT_BLOCKLIST)),
                       max_size=30))
@settings(max_examples=200, deadline=None)
def test_toxicity_scrub_is_idempotent_and_complete(tokens):
    text = " ".join(tokens)
    scrubbed = scrub_toxicity_py(text)
    # idempotent: a second pass changes nothing (<TOX> never matches)
    assert scrub_toxicity_py(scrubbed) == scrubbed
    # complete: no blocklist word survives as a standalone token
    pat = re.compile(toxicity_pattern(DEFAULT_BLOCKLIST))
    assert not pat.search(scrubbed)
