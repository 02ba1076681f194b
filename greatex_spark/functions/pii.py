"""PII scrubbing as an ordered chain of JVM-side regexp_replace calls.

Byte-identical determinism is the contract (BASELINE.json: "byte-
identical scrubbed text per url").  To make Spark (java.util.regex),
DuckDB (RE2) and CPython (re) agree byte-for-byte, every pattern is
restricted to the common dialect: ASCII character classes, bounded
quantifiers, non-capturing groups, ``\\b`` word boundaries — no
lookaround, no backrefs, no Unicode classes (SURVEY.md §7 "hard
parts").  The pytest oracle applies the *same* pattern list with
Python ``re`` (:func:`scrub_pii_py`) and asserts byte equality; the
DuckDB oracle SQL is generated from the same list
(:func:`scrub_pii_duckdb_sql`).

Order matters and is fixed: EMAIL → SSN → IPV4 → PHONE (e.g. a phone
regex must never see the digits of an already-scrubbed SSN).

This generalizes the reference's conditional-value-replacement
transform (``/root/reference/dags/transformations.py:15`` —
per-row Python) into vectorized, codegen'd column expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) — ordered.  Patterns are valid and
# equivalent in java.util.regex, RE2, and Python re.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ssn",
        r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "<SSN>",
    ),
    (
        "ipv4",
        r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "<IP>",
    ),
    (
        "phone",
        r"(?:\+?1[-. ])?(?:\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b",
        "<PHONE>",
    ),
)


def scrub_pii(col: Column | str) -> Column:
    """Chained regexp_replace over the fixed pattern list (JVM-side)."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


_COMPILED = [(re.compile(pat), repl) for _, pat, repl in PII_PATTERNS]


def scrub_pii_py(text: str) -> str:
    """Reference implementation (CPython re, same patterns, same order)
    used by pytest to assert byte-identical output vs the Spark path."""
    for cre, repl in _COMPILED:
        text = cre.sub(repl, text)
    return text


def scrub_pii_duckdb_sql(col_expr: str) -> str:
    """DuckDB SQL expression applying the identical scrub chain (RE2),
    for the driver's oracle harness."""
    out = col_expr
    for _, pat, repl in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl}', 'g')"
    return out


def pii_count(col: Column | str) -> Column:
    """Total count of PII matches in a text column (for metrics rows)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for _, pat, _ in PII_PATTERNS:
        total = total + F.regexp_count(c, F.lit(pat))
    return total.cast("long")


# ---------------------------------------------------------------------------
# Credit-card numbers (Luhn-validated).
#
# A naive "run of 13-19 digits" regex scrubs order ids, timestamps and
# hashes along with card numbers; production PII pipelines (e.g. the
# BigCode PII stack) checksum-validate candidates first.  This is the
# native-expression version: candidates come from ONE regexp scan, the
# Luhn check is an integer fold over the digit string (higher-order
# functions, whole-stage-friendly, no UDF), and only validated
# candidates are replaced — via a literal-string replace fold, so the
# byte-stable contract of the main chain extends to this class.
#
# Kept OUT of PII_PATTERNS on purpose: the 4-class chain's byte output
# is pinned by oracles and tests; card scrubbing is a separate opt-in
# stage (`scrub_credit_cards`).  The pattern avoids lookaround so the
# java.util.regex / RE2 / CPython-re match sets are identical; a run of
# >19 digits is matched whole (greedy) and then REJECTED by the length
# gate, which is how the no-lookbehind pattern keeps sub-runs of long
# digit strings from being scrubbed.

CC_PATTERN = r"[0-9][0-9 -]{11,22}[0-9]"
CC_TOKEN = "<CC>"


def _cc_luhn_ok(cand: Column) -> Column:
    """Luhn checksum over the candidate's digits (1-based from the
    right: odd positions as-is, even positions doubled with digit sum),
    plus the 13-19 digit length gate."""
    digits = F.regexp_replace(cand, "[^0-9]", "")
    n = F.length(digits)
    rev = F.reverse(digits)
    checksum = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 1, rev.substr(i, F.lit(1)).cast("int")
        ).otherwise(
            F.when(
                rev.substr(i, F.lit(1)).cast("int") * 2 > 9,
                rev.substr(i, F.lit(1)).cast("int") * 2 - 9,
            ).otherwise(rev.substr(i, F.lit(1)).cast("int") * 2)
        ),
    )
    return n.between(13, 19) & (checksum % 10 == 0)


def scrub_credit_cards(col: Column | str) -> Column:
    """Replace every Luhn-valid card-number candidate with ``<CC>``.

    One regexp scan extracts candidates, a HOF filter keeps the
    checksum-valid ones, and a fold of literal ``replace`` calls
    rewrites the text — all JVM-side.  NULL text stays NULL."""
    text = F.col(col) if isinstance(col, str) else col
    valid = F.filter(
        F.regexp_extract_all(text, F.lit(CC_PATTERN), F.lit(0)), _cc_luhn_ok
    )
    return F.aggregate(valid, text, lambda acc, c: F.replace(acc, c, F.lit(CC_TOKEN)))


def _luhn_ok_py(cand: str) -> bool:
    digits = re.sub(r"[^0-9]", "", cand)
    if not 13 <= len(digits) <= 19:
        return False
    total = 0
    for i, ch in enumerate(reversed(digits), start=1):
        d = int(ch)
        total += d if i % 2 == 1 else (d * 2 - 9 if d * 2 > 9 else d * 2)
    return total % 10 == 0


def scrub_credit_cards_py(text: str | None) -> str | None:
    """CPython reference (same candidate scan, same fold order) for the
    byte-equality pytest."""
    if text is None:
        return None
    for cand in re.findall(CC_PATTERN, text):
        if _luhn_ok_py(cand):
            text = text.replace(cand, CC_TOKEN)
    return text


def scrub_credit_cards_duckdb_sql(col_expr: str) -> str:
    """DuckDB twin: identical candidate regex (RE2 — the pattern has no
    lookaround), identical Luhn fold, identical replace fold."""
    digits = "regexp_replace(c, '[^0-9]', '', 'g')"
    luhn = (
        f"list_sum([CASE WHEN i % 2 = 1 "
        f"THEN CAST(substr(reverse({digits}), i, 1) AS INT) "
        f"ELSE CASE WHEN 2 * CAST(substr(reverse({digits}), i, 1) AS INT) > 9 "
        f"THEN 2 * CAST(substr(reverse({digits}), i, 1) AS INT) - 9 "
        f"ELSE 2 * CAST(substr(reverse({digits}), i, 1) AS INT) END END "
        f"FOR i IN range(1, length({digits}) + 1)]) % 10 = 0"
    )
    valid = (
        f"list_filter(regexp_extract_all({col_expr}, '{CC_PATTERN}'), "
        f"c -> length({digits}) BETWEEN 13 AND 19 AND {luhn})"
    )
    return (
        f"CASE WHEN {col_expr} IS NULL THEN NULL ELSE "
        f"list_reduce(list_concat([{col_expr}], {valid}), "
        f"(acc, c) -> replace(acc, c, '{CC_TOKEN}')) END"
    )
