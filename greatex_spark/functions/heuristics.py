"""Gopher/C4-style quality heuristics as native Column expressions.

Every feature here is a pure ``pyspark.sql.functions`` expression —
JVM-side, whole-stage-codegen'd, zero Python in the hot path (the
generalization of the reference's per-row pandas transforms at
``/root/reference/dags/transformations.py:15-17`` to vectorized form,
per BASELINE.json "no per-row Python").

Rules follow the published heuristics:
- C4 (Raffel et al. 2020): min words per doc, terminal punctuation,
  "javascript"/brace/lorem-ipsum filters.
- Gopher (Rae et al. 2021): word count band, mean word length band,
  symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
  fraction, stopword count, duplicate n-gram fraction.

Each heuristic is also available as a declarative expectation (via
``expect_values_to_satisfy_expression``) so a quality gate is just a
Suite — see :func:`gopher_quality_suite`.

Scale: all features are computed in ONE projection over the text
column; there are no shuffles, no UDFs, and Parquet column pruning
means only ``text`` is read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from greatex_spark.expectations.spec import E, Expectation, Suite

# Gopher's required-stopword list (Rae et al. 2021 §A1.1 uses common
# English function words; this fixed set is our engine's spec).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Java's ``$`` (the spec's rlike engine) matches at the end of the input
# AND before a final line terminator: ``\n``, ``\r``, ``\r\n``,
# ``\u0085``, ``\u2028`` or ``\u2029``.  Python's ``$`` only skips a
# final ``\n`` and RE2's skips nothing, so the Arrow kernel and the DuckDB
# twin spell the rule out: append this RE2 suffix instead of a bare ``$``.
JAVA_LINE_END = r"(?:\r\n|[\n\r\x{85}\x{2028}\x{2029}])?$"

DEFAULT_THRESHOLDS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_length": 3.0,
    "max_mean_word_length": 10.0,
    "max_symbol_to_word_ratio": 0.10,
    "max_bullet_line_fraction": 0.90,
    "max_ellipsis_line_fraction": 0.30,
    "min_alpha_word_fraction": 0.80,
    "min_stopword_count": 2,
    "max_dup_2gram_fraction": 0.20,
    "max_dup_3gram_fraction": 0.18,
    "min_chars": 200,
    "max_chars": 1_000_000,
}


def words_col(text: Column) -> Column:
    """Whitespace tokenization with empty tokens dropped."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))


def ngrams_col(words: Column, n: int) -> Column:
    """Word n-grams via a sequence transform — native HOFs, no UDF."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


FEATURE_NAMES = (
    "n_chars", "n_words", "n_lines", "mean_word_length", "symbol_to_word_ratio",
    "stopword_count", "alpha_word_fraction", "bullet_line_fraction",
    "ellipsis_line_fraction", "dup_2gram_fraction", "dup_3gram_fraction",
    "ends_with_terminal_punct", "has_brace", "has_lorem_ipsum", "has_javascript",
)


from greatex_spark.functions.exprs import let as _let  # noqa: E402


def _dup_fraction_of(grams: Column) -> Column:
    return _let(
        grams,
        lambda g: F.when(
            F.size(g) > 0,
            (F.size(g) - F.size(F.array_distinct(g))).cast("double") / F.size(g),
        ).otherwise(F.lit(0.0)),
    )


def quality_struct(text: Column) -> Column:
    """ALL heuristic features as one struct Column, tokenizing exactly
    once per row.  Extract fields in a *separate* projection so the
    struct itself is evaluated once (CollapseProject keeps non-cheap
    producers used more than once in their own projection)."""
    stop_arr = F.lit(list(GOPHER_STOPWORDS))

    def build(words: Column, lines: Column) -> Column:
        n_words = F.size(words)
        nw = F.when(n_words > 0, n_words).otherwise(F.lit(1))
        n_lines = F.when(F.size(lines) > 0, F.size(lines)).otherwise(F.lit(1))
        word_chars = F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        )
        return F.struct(
            F.length(text).cast("long").alias("n_chars"),
            n_words.cast("long").alias("n_words"),
            F.size(lines).cast("long").alias("n_lines"),
            (word_chars.cast("double") / nw).alias("mean_word_length"),
            (F.regexp_count(text, F.lit(r"(#|\.\.\.|…)")).cast("double") / nw).alias(
                "symbol_to_word_ratio"
            ),
            F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
            .cast("long")
            .alias("stopword_count"),
            (
                F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
                / nw
            ).alias("alpha_word_fraction"),
            (
                F.size(
                    F.filter(
                        lines, lambda ln: F.trim(ln).rlike(r"^([\*\-•▪●]|\d+[\.\)])")
                    )
                ).cast("double")
                / n_lines
            ).alias("bullet_line_fraction"),
            (
                F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
                .cast("double")
                / n_lines
            ).alias("ellipsis_line_fraction"),
            _dup_fraction_of(ngrams_col(words, 2)).alias("dup_2gram_fraction"),
            _dup_fraction_of(ngrams_col(words, 3)).alias("dup_3gram_fraction"),
            F.trim(text).rlike(r'[.!?"”]$').alias("ends_with_terminal_punct"),
            text.contains("{").alias("has_brace"),
            F.lower(text).contains("lorem ipsum").alias("has_lorem_ipsum"),
            F.lower(text).contains("javascript").alias("has_javascript"),
        )

    return _let(
        words_col(text), lambda words: _let(F.split(text, r"\n"), lambda lines: build(words, lines))
    )


def quality_features(text: Column) -> dict[str, Column]:
    """All heuristic features as named Columns over one text column.

    Each dict value carries its own copy of the (let-bound) struct — fine
    for picking a few features; to materialize MANY features, prefer
    :func:`with_quality_features` (struct evaluated once per row)."""
    qs = quality_struct(text)
    return {name: qs[name] for name in FEATURE_NAMES}


def with_quality_features(
    df: DataFrame, text_col: str = "text", prefix: str = "qf_"
) -> DataFrame:
    """Project all heuristic features next to the existing columns —
    two-step projection: struct once, then field extraction."""
    tagged = df.select("*", quality_struct(F.col(text_col)).alias("__qs"))
    return tagged.select(
        *df.columns, *[F.col(f"__qs.{name}").alias(prefix + name) for name in FEATURE_NAMES]
    )


def gopher_keep_condition(
    text_col: str = "text", thresholds: dict[str, float] | None = None
) -> Column:
    """Single boolean keep/drop Column fusing every heuristic rule."""
    t = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    return _let(
        quality_struct(F.col(text_col)),
        lambda f: (f["n_chars"] >= t["min_chars"])
        & (f["n_chars"] <= t["max_chars"])
        & (f["n_words"] >= t["min_words"])
        & (f["n_words"] <= t["max_words"])
        & (f["mean_word_length"] >= t["min_mean_word_length"])
        & (f["mean_word_length"] <= t["max_mean_word_length"])
        & (f["symbol_to_word_ratio"] <= t["max_symbol_to_word_ratio"])
        & (f["bullet_line_fraction"] <= t["max_bullet_line_fraction"])
        & (f["ellipsis_line_fraction"] <= t["max_ellipsis_line_fraction"])
        & (f["alpha_word_fraction"] >= t["min_alpha_word_fraction"])
        & (f["stopword_count"] >= t["min_stopword_count"])
        & (f["dup_2gram_fraction"] <= t["max_dup_2gram_fraction"])
        & (f["dup_3gram_fraction"] <= t["max_dup_3gram_fraction"]),
    )


def gopher_keep_duckdb_sql(
    text_expr: str, thresholds: dict[str, float] | None = None
) -> str:
    """DuckDB boolean expression replaying the 13-condition
    ``keep_quality`` conjunction of :func:`gopher_keep_condition` /
    ``pipeline.stages.featurize`` exactly (same tokenization, same
    ``max(n,1)`` ratio denominators, same int→double divisions, same
    Java line-end rule via :data:`JAVA_LINE_END`).

    The duplicate-n-gram twin counts distinct gram *strings*, as the
    native spec :func:`quality_struct` and the pipeline's Arrow kernel
    (``functions/heuristics_arrow.py``) do."""
    t = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    c = text_expr
    words = f"regexp_extract_all({c}, '\\S+')"
    n_words = f"len({words})"
    nw = f"greatest({n_words}, 1)"
    word_chars = f"length(regexp_replace({c}, '\\s+', '', 'g'))"
    lines = f"string_split({c}, chr(10))"
    n_lines = f"greatest(len({lines}), 1)"
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)

    def dup_frac(n: int) -> str:
        # truncating list_zip of shifted copies, NOT per-gram list_slice:
        # slice inside the lambda is O(n_words) per call, i.e. an
        # O(n_words^2) gram build per document (measured 30 s vs 0.8 s
        # over 4k pages); each shifted copy here is built once per row
        shifted = ", ".join(f"{words}[{j + 1}:]" for j in range(1, n))
        joined = " || ' ' || ".join(f"p[{j + 1}]" for j in range(n))
        grams = f"list_transform(list_zip({words}, {shifted}, true), p -> {joined})"
        return (
            f"(CASE WHEN len({grams}) > 0 THEN "
            f"(len({grams}) - len(list_distinct({grams}))) / CAST(len({grams}) AS BIGINT) "
            f"ELSE 0.0 END)"
        )

    conds = [
        f"length({c}) >= {int(t['min_chars'])}",
        f"length({c}) <= {int(t['max_chars'])}",
        f"{n_words} >= {int(t['min_words'])}",
        f"{n_words} <= {int(t['max_words'])}",
        f"({word_chars} / CAST({nw} AS BIGINT)) >= {t['min_mean_word_length']}",
        f"({word_chars} / CAST({nw} AS BIGINT)) <= {t['max_mean_word_length']}",
        (
            f"(len(regexp_extract_all({c}, '(#|\\.\\.\\.|…)')) / CAST({nw} AS BIGINT))"
            f" <= {t['max_symbol_to_word_ratio']}"
        ),
        (
            f"(len(list_filter({lines}, ln -> regexp_matches(trim(ln), "
            f"'^([\\*\\-•▪●]|\\d+[\\.\\)])'))) / CAST({n_lines} AS BIGINT))"
            f" <= {t['max_bullet_line_fraction']}"
        ),
        (
            f"(len(list_filter({lines}, ln -> regexp_matches(trim(ln), "
            f"'(\\.\\.\\.|…){JAVA_LINE_END}'))) / CAST({n_lines} AS BIGINT))"
            f" <= {t['max_ellipsis_line_fraction']}"
        ),
        (
            f"(len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
            f" / CAST({nw} AS BIGINT)) >= {t['min_alpha_word_fraction']}"
        ),
        (
            f"len(list_filter({words}, w -> lower(w) IN ({stop})))"
            f" >= {int(t['min_stopword_count'])}"
        ),
        f"{dup_frac(2)} <= {t['max_dup_2gram_fraction']}",
        f"{dup_frac(3)} <= {t['max_dup_3gram_fraction']}",
    ]
    return "(" + "\n   AND ".join(conds) + ")"


def gopher_quality_suite(
    text_col: str = "text",
    mostly: float = 0.0,
    thresholds: dict[str, float] | None = None,
) -> Suite:
    """The heuristic rules as a declarative expectation suite — one
    row-level expectation per rule, all fused into one agg by the
    compiler.  ``mostly`` is the fraction of docs that must pass each
    rule for the *gate* to succeed (0.0 = report-only)."""
    t = {**DEFAULT_THRESHOLDS, **(thresholds or {})}

    def rule(name: str, expr: str) -> Expectation:
        return E(
            "expect_values_to_satisfy_expression",
            expression=expr,
            mostly=mostly,
            rule_name=name,
        )

    c = text_col
    nw = f"size(filter(split({c}, '\\\\s+'), w -> w != ''))"
    return Suite.of(
        f"gopher_quality_{text_col}",
        rule("min_chars", f"length({c}) >= {t['min_chars']}"),
        rule("word_count_band", f"{nw} between {int(t['min_words'])} and {int(t['max_words'])}"),
        rule(
            "mean_word_length_band",
            f"aggregate(filter(split({c}, '\\\\s+'), w -> w != ''), 0L, "
            f"(acc, w) -> acc + length(w)) / greatest({nw}, 1) "
            f"between {t['min_mean_word_length']} and {t['max_mean_word_length']}",
        ),
        rule(
            "symbol_to_word_ratio",
            f"regexp_count({c}, '(#|\\\\.\\\\.\\\\.)') / greatest({nw}, 1) "
            f"<= {t['max_symbol_to_word_ratio']}",
        ),
        rule(
            "min_stopwords",
            "size(filter(split(lower(" + c + "), '\\\\s+'), w -> w in ("
            + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
            + f"))) >= {int(t['min_stopword_count'])}",
        ),
    )


# ---------------------------------------------------------------------------
# C4 line-level cleanup (Raffel et al. 2020 §2.2)
#
# The doc-level rules above decide keep/drop for a whole page; C4's
# first pass edits WITHIN the page: only lines that end in a terminal
# punctuation mark, carry at least five words, and do not mention
# "javascript" are retained, and a page whose cleaned form has fewer
# than three retained lines is dropped entirely.  Everything here is a
# single native projection (split → filter HOF → array_join) — no
# shuffle, no UDF, and Parquet column pruning reads only the text
# column, so the pass costs one codegen'd scan at any corpus size.

C4_LINE_MIN_WORDS = 5
C4_MIN_KEPT_LINES = 3
# same terminal-punctuation class as quality_struct's doc-level flag
_C4_TERMINAL_RE = '[.!?"”]$'


def c4_kept_lines(text: Column, min_words: int = C4_LINE_MIN_WORDS) -> Column:
    """Array of lines surviving C4's three line rules (terminal
    punctuation, >= min_words words, no "javascript")."""
    return F.filter(
        F.split(text, r"\n"),
        lambda ln: F.rtrim(ln).rlike(_C4_TERMINAL_RE)
        & (F.size(words_col(ln)) >= min_words)
        & ~F.lower(ln).contains("javascript"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = C4_LINE_MIN_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    out_col: str = "text_clean",
) -> DataFrame:
    """Apply C4's line-level cleanup: adds ``n_lines``,
    ``n_kept_lines``, the cleaned text (retained lines re-joined with
    newlines) and the page-level ``keep`` flag (>= min_kept_lines
    retained lines).  Generalizes the reference's row-repair transform
    (/root/reference/dags/transformations.py:15-17) from cell edits to
    intra-document edits, still as one vectorized projection.

    Two-step projection: the kept-lines array is let-bound inside ONE
    struct producer (evaluated once per row), fields extracted in a
    second select — the same CollapseProject-safe shape as
    :func:`with_quality_features`."""
    struct_col = _let(
        c4_kept_lines(F.col(text_col), min_words),
        lambda kept: F.struct(
            F.size(F.split(F.col(text_col), r"\n")).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept_lines"),
            F.array_join(kept, "\n").alias("clean"),
            (F.size(kept) >= min_kept_lines).alias("keep"),
        ),
    )
    tagged = df.select("*", struct_col.alias("__c4"))
    return tagged.select(
        *df.columns,
        F.col("__c4.n_lines").alias("n_lines"),
        F.col("__c4.n_kept_lines").alias("n_kept_lines"),
        F.col("__c4.clean").alias(out_col),
        F.col("__c4.keep").alias("keep"),
    )


def c4_line_filter_duckdb_sql(
    text_expr: str,
    min_words: int = C4_LINE_MIN_WORDS,
) -> str:
    """DuckDB list expression of the lines surviving
    :func:`c4_kept_lines` — same tokenization (non-space runs), same
    terminal-punctuation class, same case-folded javascript test."""
    return (
        f"list_filter(string_split({text_expr}, chr(10)), ln -> "
        f"regexp_matches(rtrim(ln), '{_C4_TERMINAL_RE}') "
        f"AND len(regexp_extract_all(ln, '\\S+')) >= {int(min_words)} "
        f"AND NOT contains(lower(ln), 'javascript'))"
    )


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021, Table A1)
#
# Beyond the duplicate-n-gram *fractions* in quality_struct, Gopher's
# repetition family measures how much of a document's CONTENT is
# repeated: the fraction of lines/paragraphs that repeat an earlier
# one, the fraction of characters inside those repeats, and the
# fraction of characters claimed by the single most frequent n-gram.
# All native HOFs in one projection — per-row cost is
# O(distinct_grams × grams) worst-case, bounded in the pipeline by the
# max_words gate upstream; no shuffle, no UDF.


def _dup_item_fraction(items: Column) -> Column:
    """(count - distinct) / count over a string array (0.0 when empty)."""
    return _let(
        items,
        lambda it: F.when(
            F.size(it) > 0,
            (F.size(it) - F.size(F.array_distinct(it))).cast("double") / F.size(it),
        ).otherwise(F.lit(0.0)),
    )


def _char_sum(items: Column) -> Column:
    return F.aggregate(items, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))


def _dup_char_fraction(items: Column) -> Column:
    """Fraction of characters in occurrences beyond the first of each
    distinct item (Gopher's 'characters within duplicate lines')."""
    return _let(
        items,
        lambda it: _let(
            _char_sum(it),
            lambda total: F.when(
                total > 0,
                (total - _char_sum(F.array_distinct(it))).cast("double") / total,
            ).otherwise(F.lit(0.0)),
        ),
    )


def _top_gram_char_fraction(grams: Column, n_chars: Column) -> Column:
    """Characters claimed by the most frequent n-gram / total characters.
    The winner is the lexicographic max of (count, char_len, gram) so
    ties resolve identically in both engines.

    Sort + longest-equal-run fold, O(n log n) per document — the naive
    count-each-distinct-gram shape (filter over all grams per distinct
    gram) is O(n²) in document length inside an interpreted HOF, which
    turns a single boilerplate-heavy 10k-token page into ~10⁸ string
    comparisons.  Every step's running-count candidate is compared
    into ``best``; a gram's full-run candidate dominates its own
    prefixes, so the fold's max equals the max over distinct grams."""

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        cand = F.struct(
            run.alias("cnt"), F.length(x).alias("clen"), x.alias("gram")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(cand > acc["best"], cand).otherwise(acc["best"]).alias("best"),
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.struct(
            F.lit(0).cast("long").alias("cnt"),
            F.lit(0).alias("clen"),
            F.lit("").alias("gram"),
        ).alias("best"),
    )
    return _let(
        grams,
        lambda g: F.when(
            (F.size(g) > 0) & (n_chars > 0),
            _let(
                F.aggregate(F.array_sort(g), zero, step)["best"],
                lambda top: (top["cnt"] * top["clen"]).cast("double") / n_chars,
            ),
        ).otherwise(F.lit(0.0)),
    )


REPETITION_SIGNAL_NAMES = (
    "dup_line_fraction",
    "dup_line_char_fraction",
    "dup_para_fraction",
    "dup_para_char_fraction",
    "top_2gram_char_fraction",
    "top_3gram_char_fraction",
    "top_4gram_char_fraction",
)


def repetition_struct(text: Column) -> Column:
    """All Gopher repetition signals as one struct Column (tokenize /
    split once via let-binding; extract fields in a separate select)."""
    return _let(
        words_col(text),
        lambda words: _let(
            F.split(text, r"\n"),
            lambda lines: _let(
                F.split(text, r"\n\n"),
                lambda paras: F.struct(
                    _dup_item_fraction(lines).alias("dup_line_fraction"),
                    _dup_char_fraction(lines).alias("dup_line_char_fraction"),
                    _dup_item_fraction(paras).alias("dup_para_fraction"),
                    _dup_char_fraction(paras).alias("dup_para_char_fraction"),
                    *[
                        _top_gram_char_fraction(
                            ngrams_col(words, n), F.length(text).cast("long")
                        ).alias(f"top_{n}gram_char_fraction")
                        for n in (2, 3, 4)
                    ],
                ),
            ),
        ),
    )


def repetition_signals_duckdb_sql(text_expr: str) -> str:
    """DuckDB SELECT-list fragment replaying :func:`repetition_struct`
    column by column (same splits, same dup-char definition, same
    (count, char_len, gram) tie-break for the top n-gram)."""
    c = text_expr
    lines = f"string_split({c}, chr(10))"
    paras = f"string_split({c}, chr(10) || chr(10))"
    words = f"regexp_extract_all({c}, '\\S+')"

    def dup_frac(items: str) -> str:
        return (
            f"(CASE WHEN len({items}) > 0 THEN "
            f"(len({items}) - len(list_distinct({items})))"
            f" / CAST(len({items}) AS BIGINT) ELSE 0.0 END)"
        )

    def char_sum(items: str) -> str:
        return f"list_sum(list_transform({items}, x -> CAST(length(x) AS BIGINT)))"

    def dup_char_frac(items: str) -> str:
        total = char_sum(items)
        dist = char_sum(f"list_distinct({items})")
        return (
            f"(CASE WHEN coalesce({total}, 0) > 0 THEN "
            f"({total} - {dist}) / CAST({total} AS BIGINT) ELSE 0.0 END)"
        )

    def grams(n: int) -> str:
        shifted = ", ".join(f"{words}[{j + 1}:]" for j in range(1, n))
        joined = " || ' ' || ".join(f"p[{j + 1}]" for j in range(n))
        return f"list_transform(list_zip({words}, {shifted}, true), p -> {joined})"

    def top_frac(n: int) -> str:
        g = grams(n)
        top = (
            f"list_sort(list_transform(list_distinct({g}), x -> "
            f"struct_pack(cnt := len(list_filter({g}, y -> y = x)), "
            f"clen := length(x), gram := x)))[-1]"
        )
        return (
            f"(CASE WHEN len({g}) > 0 AND length({c}) > 0 THEN "
            f"(({top}.cnt * {top}.clen)) / CAST(length({c}) AS BIGINT) "
            f"ELSE 0.0 END)"
        )

    cols = [
        f"{dup_frac(lines)} AS dup_line_fraction",
        f"{dup_char_frac(lines)} AS dup_line_char_fraction",
        f"{dup_frac(paras)} AS dup_para_fraction",
        f"{dup_char_frac(paras)} AS dup_para_char_fraction",
        f"{top_frac(2)} AS top_2gram_char_fraction",
        f"{top_frac(3)} AS top_3gram_char_fraction",
        f"{top_frac(4)} AS top_4gram_char_fraction",
    ]
    return ",\n  ".join(cols)
