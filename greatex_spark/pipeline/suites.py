"""Declarative expectation suites for the web-text pipeline gates.

One suite per hop, mirroring the reference's five suites
(``/root/reference/great_expectations/expectations/*_suite.json``)
recast to the page-table schema.  Suites are plain data built from
Python — no runtime authoring step (EP3 eliminated per SURVEY.md §3).
"""

from __future__ import annotations

from greatex_spark.expectations.spec import E, Suite
from greatex_spark.functions.pii import PII_PATTERNS
from greatex_spark.pages import HTML_POST, HTML_PRE

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
KNOWN_LANGS = ["en", "de", "fr", "es", "it", "pt", "zh", "und"]


def source_suite(
    min_rows: int = 1,
    max_rows: int | None = None,
    html_extracted: bool = False,
) -> Suite:
    """Gate 1 — bronze (the reference's retail_source_suite recast).

    ``html_extracted=True`` swaps the extraction invariant: text must be
    the regexp extraction of html (``PipelineConfig.extract_from_html``
    ingest) instead of the synthetic fixture's byte-inverse wrapper."""
    if html_extracted:
        from greatex_spark.functions.html import html_to_text_sparksql

        extraction_expr = (
            html_to_text_sparksql("cast(html as string)") + " = text"
        )
    else:
        extraction_expr = (
            f"regexp_replace(regexp_replace(cast(html as string), "
            f"'^{HTML_PRE}', ''), '{HTML_POST}$', '') = text"
        )
    return Suite.of(
        "pages_source_suite",
        E("expect_table_columns_to_match_ordered_list", column_list=PAGE_COLUMNS),
        E("expect_table_row_count_to_be_between", min_value=min_rows, max_value=max_rows),
        E("expect_column_values_to_not_be_null", column="url"),
        E("expect_column_values_to_be_unique", column="url"),
        E("expect_column_values_to_match_regex", column="url", regex=r"^https?://"),
        E("expect_column_values_to_not_be_null", column="warc_ts"),
        E("expect_column_values_to_not_be_null", column="text", mostly=0.999),
        E("expect_column_values_to_be_in_set", column="lang", value_set=KNOWN_LANGS),
        E("expect_column_values_to_be_in_type_list", column="html",
          type_list=["binary"]),
        # extraction invariant: text must be reproducible from html
        E(
            "expect_values_to_satisfy_expression",
            expression=extraction_expr,
            value_expr="url",
        ),
    )


def silver_suite() -> Suite:
    """Gate 2 — featurized table sanity."""
    return Suite.of(
        "pages_silver_suite",
        E("expect_column_values_to_not_be_null", column="keep"),
        E("expect_column_values_to_not_be_null", column="lang_pred"),
        E("expect_column_values_to_not_be_null", column="log_ppl", mostly=0.95),
        E("expect_column_values_to_be_between", column="log_ppl", min_value=0.0,
          max_value=50.0),
        # text_scrubbed is NULL where the scrub changed nothing, so the
        # scrubbed text is the coalesce the gold projection publishes
        E("expect_values_to_satisfy_expression",
          expression="coalesce(text_scrubbed, text) IS NOT NULL", mostly=0.999),
        E("expect_column_values_to_be_between", column="n_tokens", min_value=0,
          max_value=10_000_000),
        E("expect_column_values_to_be_in_set", column="lang_pred",
          value_set=KNOWN_LANGS),
    )


def kept_suite(min_rows: int, max_rows: int) -> Suite:
    """Gate 3 — keep-rate band (the reference's post-dropna row-count
    band, ``retail_transform.py:133``, generalized to a keep-fraction
    corridor computed by the runner from the bronze count)."""
    return Suite.of(
        "pages_kept_suite",
        E("expect_table_row_count_to_be_between", min_value=min_rows, max_value=max_rows),
        E("expect_values_to_satisfy_expression", expression="keep = true"),
        E("expect_column_values_to_be_unique", column="url"),
    )


def gold_suite(target_lang: str) -> Suite:
    """Gate 4 — public contract: schema, language purity, and NO
    residual PII (each scrub pattern as a not-match-regex expectation
    — the 'dest' gate of the reference with teeth)."""
    pii_checks = [
        E("expect_column_values_to_not_match_regex", column="text", regex=pat)
        for _, pat, _ in PII_PATTERNS
    ]
    return Suite.of(
        "pages_gold_suite",
        E(
            "expect_table_columns_to_match_ordered_list",
            column_list=["url", "warc_ts", "text", "lang", "n_tokens"],
        ),
        E("expect_column_values_to_not_be_null", column="url"),
        E("expect_column_values_to_be_unique", column="url"),
        E("expect_column_values_to_be_in_set", column="lang", value_set=[target_lang]),
        E("expect_column_values_to_not_be_null", column="text"),
        E("expect_column_value_lengths_to_be_between", column="text", min_value=1,
          max_value=10_000_000),
        *pii_checks,
    )
