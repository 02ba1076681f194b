"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship end-to-end quality-filter query at sf0.001.
``queries()``   — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — equivalent DuckDB SQL per query; every entry has one
(the pipeline entries replay from a committed bronze fixture parquet the
SQL reads directly).

Determinism contracts used throughout so Spark and DuckDB hash-match:

- double SUM/AVG aggregate via DECIMAL (exact, order-independent), then
  cast back to double;
- per-row double arithmetic is left unrounded (IEEE ops on identical
  inputs are bit-identical in both engines);
- integer-count sums CAST to BIGINT in the SQL (DuckDB widens int sums
  to HUGEINT, which pandas renders float64 and the driver's
  dtype-sensitive hash then rejects);
- the dedup hash family derives 60-bit hashes from md5 (identical
  in both engines) with literal universal-hash permutation constants —
  see greatex_spark.operators.minhash;
- sequential IEEE folds (list_reduce) replay Spark's F.aggregate
  accumulation order for the perplexity model;
- regexes are restricted to the common java.util.regex / RE2 dialect
  (see greatex_spark.functions.pii);
- rankings round scores to 6 decimals and tie-break on ids.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greatex_spark.expectations.spec import E, Suite
from greatex_spark.expectations.compiler import run_suite
from greatex_spark.functions.heuristics import (
    GOPHER_STOPWORDS,
    gopher_quality_suite,
    quality_features,
)
from greatex_spark.functions.perplexity import perplexity_duckdb_sql
from greatex_spark.functions.pii import scrub_pii, scrub_pii_duckdb_sql
from greatex_spark.functions.textstats import (
    BPE_TOKEN_REGEX,
    bpe_token_count,
    detect_lang,
    detect_lang_duckdb_sql,
    rolling_fingerprint64_duckdb_sql,
    whitespace_token_count,
)
from greatex_spark.operators.dedup import (
    content_fingerprint_index,
    exact_dedup,
    exact_dedup_incremental,
    exact_dedup_incremental_duckdb_sql,
    ngram_jaccard,
)
from greatex_spark.operators.minhash import (
    minhash_lsh_dedup,
    minhash_lsh_dedup_duckdb_sql,
)
from greatex_spark.pipeline.stages import (
    PipelineConfig,
    dedup,
    drop_reason,
    featurize,
    filter_kept,
    gold_projection,
)

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col, scale: int = 2):
    """Order-independent double sum: aggregate in DECIMAL, cast back."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


# a synthetic PII suffix appended to every document so the scrub query
# actually exercises each pattern (the corpus itself is PII-free)
PII_SUFFIX = (
    " Contact jane.doe+test@mail.example.org or 555-867-5309 now. "
    "Server 192.168.10.37 holds SSN 123-45-6789."
)

KNOWN_LANGS = ["en", "de", "fr", "es", "it", "pt", "zh"]

# DuckDB fragments shared by several oracles
_DD_NW = "len(regexp_extract_all(text, '\\S+'))"
_DD_WCHARS = "length(regexp_replace(text, '\\s+', '', 'g'))"


# ---------------------------------------------------------------------------
# relational surface (scan / project / filter / agg / join / window)


def q1_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style fused multi-aggregate — the shape of every
    expectation gate (SURVEY.md §2.A: one scan, partial/final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def filter_pushdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→project with parquet predicate pushdown; per-row
    double math (deterministic, no aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 10)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


def join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join (small dim broadcast, no shuffle of orders)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


def join_supplier_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained broadcast joins over the dimension snowflake."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("supplier_count"),
            _dsum(F.col("s_acctbal")).alias("total_acctbal"),
        )
    )


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value"), 6).alias("total_value"),
    )


def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned top-k via window row_number (rank tie-break by id)."""
    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        _dsum(F.col("value"), 6).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "user_id", "rnk", "total_value")
    )


def events_user_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof exact distinct-count per key (two-phase: dedupe on
    (key, value) spreads hot keys across reducers, then count) — the
    salting-side answer to hot-domain skew the north rule requires."""
    from greatex_spark.operators.skew import salted_count_distinct

    ev = _t(spark, sf_dir, "events")
    return salted_count_distinct(ev, "user_id", "event_type", "n_distinct")


def elt_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ELT transform chain in one projection (SURVEY.md
    §2.B): conditional value→null replacement (B2,
    /root/reference/dags/transformations.py:15), drop-null filter (B3,
    :16), integer downcast (B4, :17), negative-clamp repair (B9,
    /root/reference/source-data/clean_trial_dataset.py:8-20), and the
    final column projection (B8)."""
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_acctbal").isNotNull()).select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "MACHINERY", F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("mktsegment"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal_clamped"),
        F.col("c_nationkey").cast("smallint").alias("nation_small"),
    )


# ---------------------------------------------------------------------------
# expectation gates (the engine's real "queries")


def documents_suite() -> Suite:
    return Suite.of(
        "documents_gate",
        E("expect_table_row_count_to_be_between", min_value=1, max_value=10**12),
        E("expect_column_values_to_not_be_null", column="text"),
        E(
            "expect_column_value_lengths_to_be_between",
            column="text",
            min_value=10,
            max_value=1_000_000,
        ),
        E("expect_column_values_to_be_in_set", column="lang", value_set=KNOWN_LANGS),
        E("expect_column_min_to_be_between", column="n_chars", min_value=1, max_value=100),
        E(
            "expect_column_max_to_be_between",
            column="n_chars",
            min_value=100,
            max_value=100_000,
        ),
        E(
            "expect_column_values_to_match_regex",
            column="text",
            regex="^[a-z]",
            mostly=0.5,
        ),
    )


def suite_documents_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the documents suite as ONE fused agg; emit one lineage row per
    expectation (the typed-column recast of the reference's JSON-shredding
    trigger, /root/reference/database-setup/storedb.sql:33-75)."""
    docs = _t(spark, sf_dir, "documents")
    vr = run_suite(docs, documents_suite(), collect_partial_unexpected=False)
    rows = [
        (
            r.expectation_config["expectation_type"],
            str(r.expectation_config["kwargs"].get("column", "")),
            int(r.result.get("element_count", vr.results[0].result["observed_value"])),
            int(r.result.get("unexpected_count", 0)),
            bool(r.success),
        )
        for r in vr.results
    ]
    return spark.createDataFrame(
        rows,
        "expectation_name string, expectation_column string, element_count long, "
        "unexpected_count long, success boolean",
    )


def _suite_documents_gate_sql() -> str:
    langs = ", ".join(f"'{x}'" for x in KNOWN_LANGS)
    return f"""
WITH s AS (
  SELECT count(*) AS cnt,
    -- CAST: DuckDB sum() over ints is HUGEINT, which pandas widens to
    -- float64 and the driver's dtype-sensitive value hash then fails
    -- (round-1 hash_match:false root cause)
    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
    CAST(sum(CASE WHEN text IS NOT NULL AND (length(text) < 10 OR length(text) > 1000000)
        THEN 1 ELSE 0 END) AS BIGINT) AS bad_len,
    CAST(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN ({langs}) THEN 1 ELSE 0 END)
        AS BIGINT) AS bad_lang,
    CAST(sum(CASE WHEN text IS NOT NULL AND NOT regexp_matches(text, '^[a-z]')
        THEN 1 ELSE 0 END) AS BIGINT) AS bad_regex,
    min(n_chars) AS min_chars, max(n_chars) AS max_chars
  FROM documents)
SELECT 'expect_table_row_count_to_be_between' AS expectation_name, '' AS expectation_column,
       cnt AS element_count, CAST(0 AS BIGINT) AS unexpected_count,
       cnt BETWEEN 1 AND 1000000000000 AS success FROM s
UNION ALL SELECT 'expect_column_values_to_not_be_null', 'text', cnt, null_text,
       (100.0 * null_text / cnt) <= 0.0 FROM s
UNION ALL SELECT 'expect_column_value_lengths_to_be_between', 'text', cnt, bad_len,
       (100.0 * bad_len / cnt) <= 0.0 FROM s
UNION ALL SELECT 'expect_column_values_to_be_in_set', 'lang', cnt, bad_lang,
       (100.0 * bad_lang / cnt) <= 0.0 FROM s
UNION ALL SELECT 'expect_column_min_to_be_between', 'n_chars', cnt, CAST(0 AS BIGINT),
       min_chars BETWEEN 1 AND 100 FROM s
UNION ALL SELECT 'expect_column_max_to_be_between', 'n_chars', cnt, CAST(0 AS BIGINT),
       max_chars BETWEEN 100 AND 100000 FROM s
UNION ALL SELECT 'expect_column_values_to_match_regex', 'text', cnt, bad_regex,
       (100.0 * bad_regex / cnt) <= 50.0 FROM s
"""


def lineitem_stats_suite() -> Suite:
    return Suite.of(
        "lineitem_stats_gate",
        E("expect_column_sum_to_be_between", column="l_quantity",
          min_value=1.0, max_value=1e12),
        E("expect_column_stdev_to_be_between", column="l_discount",
          min_value=0.0, max_value=1.0),
        E("expect_column_quantile_to_be_between", column="l_extendedprice",
          quantile=0.5, min_value=1.0, max_value=1e9),
        E("expect_column_quantile_to_be_between", column="l_quantity",
          quantile=0.95, min_value=1.0, max_value=1e6),
        E("expect_column_mean_to_be_between", column="l_tax",
          min_value=0.0, max_value=1.0),
    )


def suite_lineitem_stats_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate expectations (sum / sample-stdev / exact
    interpolated quantile / mean) fused into the same single-pass agg."""
    li = _t(spark, sf_dir, "lineitem")
    vr = run_suite(li, lineitem_stats_suite(), collect_partial_unexpected=False)
    rows = [
        (
            r.expectation_config["expectation_type"],
            str(r.expectation_config["kwargs"].get("column", "")),
            float(r.expectation_config["kwargs"].get("quantile", -1.0)),
            bool(r.success),
        )
        for r in vr.results
    ]
    return spark.createDataFrame(
        rows,
        "expectation_name string, expectation_column string, quantile double, "
        "success boolean",
    )


def _suite_lineitem_stats_gate_sql() -> str:
    return """
WITH s AS (
  SELECT sum(l_quantity) AS sq, stddev_samp(l_discount) AS sd,
         quantile_cont(l_extendedprice, 0.5) AS q50,
         quantile_cont(l_quantity, 0.95) AS q95,
         avg(l_tax) AS mt
  FROM lineitem)
SELECT 'expect_column_sum_to_be_between' AS expectation_name,
       'l_quantity' AS expectation_column, CAST(-1.0 AS DOUBLE) AS quantile,
       sq BETWEEN 1.0 AND 1e12 AS success FROM s
UNION ALL SELECT 'expect_column_stdev_to_be_between', 'l_discount', -1.0,
       sd BETWEEN 0.0 AND 1.0 FROM s
UNION ALL SELECT 'expect_column_quantile_to_be_between', 'l_extendedprice', 0.5,
       q50 BETWEEN 1.0 AND 1e9 FROM s
UNION ALL SELECT 'expect_column_quantile_to_be_between', 'l_quantity', 0.95,
       q95 BETWEEN 1.0 AND 1e6 FROM s
UNION ALL SELECT 'expect_column_mean_to_be_between', 'l_tax', -1.0,
       mt BETWEEN 0.0 AND 1.0 FROM s
"""


def suite_param_bound_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation parameters (SURVEY §2 D4, the
    StoreEvaluationParametersAction recast): a source suite over
    ``orders`` publishes its observed metrics, and a downstream gate on
    the open-status subset bounds itself with ``{"$PARAMETER": ...}``
    kwargs resolved from them — the mechanism behind the reference's
    hand-derived 250k-300k source vs 150k-250k warehouse row bands
    (/root/reference/dags/scripts/python/retail_source.py:120,
    retail_transform.py:133).  Output exposes the RESOLVED bounds so
    the oracle verifies the parameter arithmetic, not just the final
    booleans."""
    from greatex_spark.expectations.params import (
        resolve_suite,
        validation_parameters,
    )

    orders = _t(spark, sf_dir, "orders")
    src_vr = run_suite(
        orders,
        Suite.of(
            "orders_src",
            E("expect_table_row_count_to_be_between", min_value=1, max_value=10**12),
            E("expect_column_max_to_be_between", column="o_totalprice",
              min_value=0.0, max_value=1e18),
        ),
        collect_partial_unexpected=False,
    )
    params = validation_parameters(src_vr)
    dest = resolve_suite(
        Suite.of(
            "orders_open",
            E("expect_table_row_count_to_be_between",
              min_value={"$PARAMETER": "orders_src.element_count * 0.1"},
              max_value={"$PARAMETER": "orders_src.element_count"}),
            E("expect_column_max_to_be_between", column="o_totalprice",
              min_value=0.0,
              max_value={"$PARAMETER":
                         "orders_src.expect_column_max_to_be_between"
                         ".o_totalprice.observed_value"}),
        ),
        params,
    )
    vr = run_suite(
        orders.where("o_orderstatus = 'O'"), dest, collect_partial_unexpected=False
    )
    rows = [
        (
            r.expectation_config["expectation_type"],
            float(r.expectation_config["kwargs"]["min_value"]),
            float(r.expectation_config["kwargs"]["max_value"]),
            float(r.result["observed_value"]),
            bool(r.success),
        )
        for r in vr.results
    ]
    return spark.createDataFrame(
        rows,
        "expectation_name string, resolved_min double, resolved_max double, "
        "observed double, success boolean",
    )


def _suite_param_bound_gate_sql() -> str:
    return """
WITH src AS (SELECT count(*) AS c, max(o_totalprice) AS mx FROM orders),
     dst AS (SELECT count(*) AS c, max(o_totalprice) AS mx
             FROM orders WHERE o_orderstatus = 'O')
SELECT 'expect_table_row_count_to_be_between' AS expectation_name,
       CAST(src.c * 0.1 AS DOUBLE) AS resolved_min,
       CAST(src.c AS DOUBLE) AS resolved_max,
       CAST(dst.c AS DOUBLE) AS observed,
       CAST(dst.c AS DOUBLE) BETWEEN src.c * 0.1 AND src.c AS success
FROM src, dst
UNION ALL
SELECT 'expect_column_max_to_be_between', 0.0, src.mx, dst.mx,
       dst.mx BETWEEN 0.0 AND src.mx
FROM src, dst
"""


def gopher_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher heuristic rules as a declarative suite over documents;
    one result row per rule."""
    docs = _t(spark, sf_dir, "documents")
    vr = run_suite(docs, gopher_quality_suite("text"), collect_partial_unexpected=False)
    rows = [
        (
            str(r.expectation_config["kwargs"]["rule_name"]),
            int(r.result["element_count"]),
            int(r.result["unexpected_count"]),
            bool(r.success),
        )
        for r in vr.results
    ]
    return spark.createDataFrame(
        rows, "rule_name string, element_count long, unexpected_count long, success boolean"
    )


def _gopher_gate_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    rules = {
        "min_chars": "length(text) >= 200",
        "word_count_band": f"{_DD_NW} BETWEEN 50 AND 100000",
        "mean_word_length_band": f"{_DD_WCHARS} / greatest({_DD_NW}, 1) BETWEEN 3.0 AND 10.0",
        "symbol_to_word_ratio": (
            f"len(regexp_extract_all(text, '(#|\\.\\.\\.)')) / greatest({_DD_NW}, 1) <= 0.10"
        ),
        "min_stopwords": (
            f"len(list_filter(regexp_extract_all(lower(text), '\\S+'), "
            f"w -> w IN ({stop}))) >= 2"
        ),
    }
    # mostly=0.0 in gopher_quality_suite() → success iff unexpected% <= 100
    # (computed like the compiler does, not hardcoded, so a threshold
    # change on the Spark side would surface here)
    mostly = 0.0
    parts = [
        f"SELECT rule_name, element_count, unexpected_count, "
        f"(100.0 * unexpected_count / element_count) <= {(1.0 - mostly) * 100.0} AS success "
        f"FROM (SELECT '{name}' AS rule_name, count(*) AS element_count, "
        f"CAST(sum(CASE WHEN NOT coalesce({expr}, false) THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS unexpected_count FROM documents)"
        for name, expr in rules.items()
    ]
    return "\nUNION ALL ".join(parts)


def orders_schema_suite() -> Suite:
    return Suite.of(
        "orders_schema_gate",
        E(
            "expect_table_columns_to_match_ordered_list",
            column_list=[
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority", "order_date_str",
            ],
        ),
        E(
            "expect_column_values_to_be_in_type_list",
            column="o_orderkey",
            type_list=["INTEGER", "int64", "bigint"],
        ),
        E(
            "expect_column_values_to_be_in_type_list",
            column="o_totalprice",
            type_list=["NUMERIC", "float64", "double"],
        ),
        E("expect_column_values_to_not_be_null", column="o_custkey"),
        E(
            "expect_column_values_to_match_strftime_format",
            column="order_date_str",
            strftime_format="%Y-%m-%d %H:%M:%S",
        ),
    )


def suite_orders_schema_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema expectations (A1/A4) + strftime-format check (A8) over a
    derived string-date column — the reference's file-suite shape
    (/root/reference/dags/scripts/python/retail_load.py:137-168)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_date_str", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    vr = run_suite(orders, orders_schema_suite(), collect_partial_unexpected=False)
    n = vr.results[3].result["element_count"]
    rows = [
        (
            r.expectation_config["expectation_type"],
            str(r.expectation_config["kwargs"].get("column", "")),
            int(r.result.get("element_count", n)),
            int(r.result.get("unexpected_count", 0)),
            bool(r.success),
        )
        for r in vr.results
    ]
    return spark.createDataFrame(
        rows,
        "expectation_name string, expectation_column string, element_count long, "
        "unexpected_count long, success boolean",
    )


def _suite_orders_schema_gate_sql() -> str:
    return """
WITH s AS (
  SELECT count(*) AS cnt,
    -- CAST: HUGEINT sums become float64 in pandas (see documents gate)
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
    CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') IS NOT NULL
         AND try_strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                          '%Y-%m-%d %H:%M:%S') IS NULL
        THEN 1 ELSE 0 END) AS BIGINT) AS bad_fmt
  FROM orders)
SELECT 'expect_table_columns_to_match_ordered_list' AS expectation_name,
       '' AS expectation_column, cnt AS element_count,
       CAST(0 AS BIGINT) AS unexpected_count, true AS success FROM s
UNION ALL SELECT 'expect_column_values_to_be_in_type_list', 'o_orderkey', cnt,
       CAST(0 AS BIGINT), true FROM s
UNION ALL SELECT 'expect_column_values_to_be_in_type_list', 'o_totalprice', cnt,
       CAST(0 AS BIGINT), true FROM s
UNION ALL SELECT 'expect_column_values_to_not_be_null', 'o_custkey', cnt,
       null_cust, null_cust = 0 FROM s
UNION ALL SELECT 'expect_column_values_to_match_strftime_format', 'order_date_str',
       cnt, bad_fmt, bad_fmt = 0 FROM s
"""


# ---------------------------------------------------------------------------
# text-quality functions


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    feats = quality_features(text)
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_calc"),
        whitespace_token_count(text).alias("n_words"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        feats["mean_word_length"].alias("mean_word_length"),
        feats["stopword_count"].alias("stopword_count"),
        feats["ends_with_terminal_punct"].alias("ends_terminal"),
    )


def _doc_text_stats_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    bpe = BPE_TOKEN_REGEX.replace("'", "''")  # SQL string-literal escape
    return f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  {_DD_NW} AS n_words,
  len(regexp_extract_all(text, '{bpe}')) AS n_bpe_tokens,
  {_DD_WCHARS} / CAST(CASE WHEN {_DD_NW} > 0 THEN {_DD_NW} ELSE 1 END AS BIGINT)
    AS mean_word_length,
  len(list_filter(regexp_extract_all(text, '\\S+'),
      w -> lower(w) IN ({stop}))) AS stopword_count,
  regexp_matches(trim(text), '[.!?"”]$') AS ends_terminal
FROM documents
"""


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-profile language-ID (SQL-replayable twin of the
    pandas-UDF fastText-style scorer)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_lang("text").alias("lang_pred"))


def doc_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher keep-flags per document, each rule a named boolean."""
    docs = _t(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    keep_min_chars = f["n_chars"] >= 100
    keep_words = (f["n_words"] >= 20) & (f["n_words"] <= 100_000)
    keep_mwl = (f["mean_word_length"] >= 3.0) & (f["mean_word_length"] <= 12.0)
    keep_stop = f["stopword_count"] >= 2
    no_brace = ~f["has_brace"]
    no_lorem = ~f["has_lorem_ipsum"]
    return docs.select(
        "doc_id",
        keep_min_chars.alias("keep_min_chars"),
        keep_words.alias("keep_words"),
        keep_mwl.alias("keep_mwl"),
        keep_stop.alias("keep_stop"),
        no_brace.alias("no_brace"),
        no_lorem.alias("no_lorem"),
        (keep_min_chars & keep_words & keep_mwl & keep_stop & no_brace & no_lorem).alias(
            "keep"
        ),
    )


def _doc_c4_filter_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    nw = _DD_NW
    return f"""
SELECT doc_id,
  length(text) >= 100 AS keep_min_chars,
  {nw} BETWEEN 20 AND 100000 AS keep_words,
  ({_DD_WCHARS} / CAST(CASE WHEN {nw} > 0 THEN {nw} ELSE 1 END AS BIGINT))
      BETWEEN 3.0 AND 12.0 AS keep_mwl,
  len(list_filter(regexp_extract_all(text, '\\S+'), w -> lower(w) IN ({stop}))) >= 2
      AS keep_stop,
  NOT contains(text, '{{') AS no_brace,
  NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
  (length(text) >= 100 AND {nw} BETWEEN 20 AND 100000
   AND ({_DD_WCHARS} / CAST(CASE WHEN {nw} > 0 THEN {nw} ELSE 1 END AS BIGINT))
       BETWEEN 3.0 AND 12.0
   AND len(list_filter(regexp_extract_all(text, '\\S+'), w -> lower(w) IN ({stop}))) >= 2
   AND NOT contains(text, '{{') AND NOT contains(lower(text), 'lorem ipsum')) AS keep
FROM documents
"""


def doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleanup (Raffel et al. 2020 §2.2): keep only lines
    ending in terminal punctuation with >= 5 words and no 'javascript',
    drop pages with < 3 retained lines — one native projection."""
    from greatex_spark.functions.heuristics import c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    return c4_line_filter(docs).select(
        "doc_id", "n_lines", "n_kept_lines", "text_clean", "keep"
    )


def _doc_c4_line_filter_sql() -> str:
    from greatex_spark.functions.heuristics import c4_line_filter_duckdb_sql

    kept = c4_line_filter_duckdb_sql("text")
    return f"""
WITH l AS (
  SELECT doc_id,
         len(string_split(text, chr(10))) AS n_lines,
         {kept} AS kept
  FROM documents)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       -- DuckDB array_to_string([]) is NULL (Spark array_join is '');
       -- the CASE keeps NULL text NULL while mapping empty-kept to ''
       coalesce(array_to_string(kept, chr(10)),
                CASE WHEN kept IS NOT NULL THEN '' END) AS text_clean,
       len(kept) >= 3 AS keep
FROM l
"""


def doc_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets per language (Wenzek
    et al. 2020 §4): per-language percentile thresholds from one
    partial-combinable agg, broadcast back, CASE label — the corpus
    never shuffles.  Exact-percentile spec here; ``approx=True`` is the
    10^12-doc sketch path."""
    from greatex_spark.functions.perplexity import ppl_buckets

    docs = _t(spark, sf_dir, "documents")
    return ppl_buckets(docs)


def _ppl_buckets_sql() -> str:
    from greatex_spark.functions.perplexity import ppl_buckets_duckdb_sql

    return ppl_buckets_duckdb_sql()


def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 Table A1): duplicate
    line/paragraph fractions, duplicate line/paragraph *character*
    fractions, and the character share of the single most frequent
    2/3/4-gram — one native projection, no shuffle."""
    from greatex_spark.functions.heuristics import (
        REPETITION_SIGNAL_NAMES,
        repetition_struct,
    )

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select("doc_id", repetition_struct(F.col("text")).alias("__r"))
    return tagged.select(
        "doc_id",
        *[F.col(f"__r.{name}").alias(name) for name in REPETITION_SIGNAL_NAMES],
    )


def _doc_repetition_signals_sql() -> str:
    from greatex_spark.functions.heuristics import repetition_signals_duckdb_sql

    return (
        "SELECT doc_id,\n  "
        + repetition_signals_duckdb_sql("text")
        + "\nFROM documents"
    )


def doc_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-substring stats (Lee et al. 2021):
    k-token shingle hashes → corpus-global count>1 rule → per-doc
    span-union coverage.  md5 spec family (the DuckDB twin replays
    every hash); ``family='xxhash64'`` is the production hot path."""
    from greatex_spark.operators.substringdedup import substring_dup_stats

    docs = _t(spark, sf_dir, "documents")
    return substring_dup_stats(docs)


def _doc_substring_dup_sql() -> str:
    from greatex_spark.operators.substringdedup import (
        substring_dup_stats_duckdb_sql,
    )

    return substring_dup_stats_duckdb_sql()


def doc_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of ExactSubstr (Lee et al. 2021): cut every
    duplicated k-token window occurrence except the corpus-canonical
    one (lexicographic min of (doc_id, pos)) and rebuild the text from
    tokens.  md5 spec family — the DuckDB twin replays the canonical
    rule, the gaps-and-islands span merge, and the byte-exact
    single-space reconstruction."""
    from greatex_spark.operators.substringdedup import (
        trim_duplicate_substrings,
    )

    docs = _t(spark, sf_dir, "documents")
    return trim_duplicate_substrings(docs)


def _doc_substring_trim_sql() -> str:
    from greatex_spark.operators.substringdedup import (
        trim_duplicate_substrings_duckdb_sql,
    )

    return trim_duplicate_substrings_duckdb_sql()


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stable PII scrub (email→SSN→IP→phone regexp_replace chain);
    a synthetic PII suffix exercises every pattern."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(PII_SUFFIX))
    return docs.select("doc_id", scrub_pii(dirty).alias("text_scrubbed"))


# messy-text suffix for the normalization query: CRLF + bare CR, a BEL
# control char, an NFD "café" (e + combining acute), combining ring
# (A + U+030A), ANGSTROM SIGN (NFC-composes to U+00C5), an NBSP and an
# NFC-preserved ligature, and a 4-newline run that must collapse to 2.
_MESSY_SUFFIX = (
    "\r\nline1\rcafé Å Å x ﬁ\x07"
    "ctrl\n\n\n\nend"
)


def _duckdb_str(s: str) -> str:
    """Render an arbitrary Python string as a DuckDB expression —
    control characters via chr(), everything else as a UTF-8 literal."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32 or ord(ch) == 127:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return "(" + " || ".join(parts or ["''"]) + ")"


def _moji_suffix() -> str:
    """Deterministic mojibake sample: clean text pushed through the
    exact corruption the operator repairs (utf-8 bytes read back as
    cp1252), exercising 2- and 3-byte sequences on every row."""
    clean = (
        " ‘quoted’ — café … 100€ §2 "
        "naïve Über™"
    )
    return clean.encode("utf-8").decode("cp1252")


_MOJI_SUFFIX = _moji_suffix()


def doc_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (functions/normalize.py:fix_mojibake — ftfy's
    core case, CP1252-decoded UTF-8): a fixed longest-first chain of
    literal substring replaces, JVM-codegen'd, byte-identical across
    Spark / DuckDB / CPython.  A planted corrupted suffix exercises
    the chain on every row; chars_repaired is the per-row length
    delta the repair removed."""
    from greatex_spark.functions.normalize import fix_mojibake

    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(_MOJI_SUFFIX))
    return (
        docs.select("doc_id", dirty.alias("__dirty"))
        .select(
            "doc_id",
            F.length("__dirty").alias("__dl"),
            fix_mojibake(F.col("__dirty")).alias("text_fixed"),
        )
        .select(
            "doc_id",
            "text_fixed",
            (F.col("__dl") - F.length("text_fixed")).cast("long").alias(
                "chars_repaired"
            ),
        )
    )


def _doc_fix_mojibake_sql() -> str:
    from greatex_spark.functions.normalize import fix_mojibake_duckdb_sql

    dirty = f"(text || {_duckdb_str(_MOJI_SUFFIX)})"
    fixed = fix_mojibake_duckdb_sql(dirty)
    return f"""
SELECT doc_id, {fixed} AS text_fixed,
       length({dirty}) - length({fixed}) AS chars_repaired
FROM documents
"""


def doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/text normalization (functions/normalize.py): newline
    canonicalization + control strip + paragraph collapse natively,
    NFC composition as the one Arrow-vectorized UDF; a planted messy
    suffix exercises every rule on every row."""
    from greatex_spark.functions.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(_MESSY_SUFFIX))
    return docs.select("doc_id", normalize_text(dirty).alias("text_norm"))


def _doc_normalize_sql() -> str:
    from greatex_spark.functions.normalize import normalize_text_duckdb_sql

    dirty = f"(text || {_duckdb_str(_MESSY_SUFFIX)})"
    return (
        f"SELECT doc_id, {normalize_text_duckdb_sql(dirty)} AS text_norm "
        f"FROM documents"
    )


def doc_cc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated credit-card scrub (functions/pii.py): candidates
    from one regexp scan, checksum as a native HOF integer fold, only
    valid numbers replaced — a deterministic md5-derived digit run per
    doc exercises both the valid (~10%) and rejected branches."""
    from greatex_spark.functions.pii import scrub_credit_cards

    docs = _t(spark, sf_dir, "documents")
    digits = F.substring(
        F.regexp_replace(F.md5(F.col("doc_id").cast("string")), "[^0-9]", ""),
        1,
        16,
    )
    dirty = F.concat(F.col("text"), F.lit(" card "), digits, F.lit(" end"))
    return docs.select("doc_id", scrub_credit_cards(dirty).alias("text_cc_scrubbed"))


def _doc_cc_scrub_sql() -> str:
    from greatex_spark.functions.pii import scrub_credit_cards_duckdb_sql

    dirty = (
        "(text || ' card ' || substr(regexp_replace("
        "md5(CAST(doc_id AS VARCHAR)), '[^0-9]', '', 'g'), 1, 16) || ' end')"
    )
    return (
        f"SELECT doc_id, {scrub_credit_cards_duckdb_sql(dirty)} "
        f"AS text_cc_scrubbed FROM documents"
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling (polynomial) document fingerprint over the normalized
    word stream — order-sensitive, exact BIGINT arithmetic in both
    engines."""
    from greatex_spark.functions.textstats import rolling_fingerprint64

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint64("text").alias("fp"))


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style interpolated char-trigram perplexity (the CCNet model
    stage, pandas UDF) — the DuckDB oracle inlines the n-gram count
    tables as MAP literals and replays the same IEEE fold."""
    from greatex_spark.functions.perplexity import log_perplexity_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", log_perplexity_udf(F.col("text")).alias("log_ppl"))


def doc_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram fractions (native HOFs, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["dup_2gram_fraction"].alias("dup_2gram_fraction"),
        f["dup_3gram_fraction"].alias("dup_3gram_fraction"),
    )


def _doc_dup_ngrams_sql() -> str:
    def frac(n: int) -> str:
        grams = (
            f"CASE WHEN {_DD_NW} >= {n} THEN list_transform("
            f"range(1, {_DD_NW} - {n} + 2), i -> "
            f"array_to_string(list_slice(regexp_extract_all(text, '\\S+'), i, i + {n - 1}), ' ')"
            f") ELSE [] END"
        )
        return (
            f"CASE WHEN len({grams}) > 0 THEN "
            f"(len({grams}) - len(list_distinct({grams}))) / CAST(len({grams}) AS BIGINT) "
            f"ELSE 0.0 END"
        )

    return f"""
SELECT doc_id, {frac(2)} AS dup_2gram_fraction, {frac(3)} AS dup_3gram_fraction
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup family


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "source", "n_chars")


def doc_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup removal — md5-family spec signatures, so the
    DuckDB oracle replays every decision (keep the xxhash64 family for
    the pipeline hot path)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, "text", "doc_id", family="md5").select(
        "doc_id", "n_chars"
    )


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering: verified LSH+Jaccard pair edges
    closed into connected components (path-doubling min-label
    propagation, operators/cluster.py); one row per document with its
    cluster id (min doc id of the component), size, and CC-survivor
    flag.  Threshold 0.5 so chains A~B~C with dissimilar endpoints
    exercise the transitive closure."""
    from greatex_spark.operators.cluster import duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    return duplicate_clusters(
        docs, "text", "doc_id", n=3, threshold=0.5
    )


def _doc_dup_clusters_sql() -> str:
    from greatex_spark.operators.cluster import duplicate_clusters_duckdb_sql

    return duplicate_clusters_duckdb_sql(
        "documents", "doc_id", "text", n=3, threshold=0.5
    )


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the diagnostic every corpus-
    scale dedup run needs before trusting its drop rate (a fat tail of
    giant clusters means LSH is over-merging; all-singletons means the
    threshold is too strict).  One extra ids-only aggregation over the
    clustering output; sizes are tiny after the groupBy so the result
    collapses to a handful of rows."""
    from greatex_spark.operators.cluster import duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    clusters = duplicate_clusters(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_dropped", F.col("n_docs") - F.col("n_clusters"))
    )


def _dedup_cluster_stats_sql() -> str:
    return f"""
WITH __clusters AS ({_doc_dup_clusters_sql()})
SELECT cluster_size,
       count(DISTINCT cluster_id) AS n_clusters,
       count(*) AS n_docs,
       count(*) - count(DISTINCT cluster_id) AS n_dropped
FROM __clusters
GROUP BY cluster_size
"""


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling: per-source keep fractions as
    a pure hash-of-id predicate — identical survivors under any
    partitioning or re-run (operators/sampling.py)."""
    from greatex_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "source",
        _STRATA_FRACTIONS,
        id_col="doc_id",
        default_fraction=0.1,
    ).select("doc_id", "source", "n_chars")


# training-mix weights for the sampling query/oracle (upsample "wiki"-
# like src1, drop src2 entirely, thin the default web crawl)
_STRATA_FRACTIONS = {"src1": 1.0, "src2": 0.0, "src3": 0.5, "src4": 0.25}


# demo blocklist for the toxicity query/oracle: terms that actually
# occur in the synthetic corpus vocabulary, so matches/masking are
# exercised for real — the mechanics are identical with the production
# profanity list (functions/toxicity.py DEFAULT_BLOCKLIST or
# load_blocklist(path))
_TOX_DEMO_BLOCKLIST = ("slow", "spark", "batch")


def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top-25 (vocabulary statistics for
    tokenizer/mix decisions): normalized-word explode + count — the
    canonical wordcount whose map-side partial aggregation is what
    makes it viable over 10^12 documents; ties broken by token for a
    deterministic ranking."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
                lambda w: w != "",
            )
        ).alias("token")
    )
    return (
        words.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(25)
    )


def _doc_top_tokens_sql() -> str:
    return """
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT unnest(list_filter(
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
    w -> w != '')) AS token
  FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 25
"""


def doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (functions/html.py): both engines construct
    the SAME html document around each text (script/style/comment
    subtrees, tags, entities) and run the identical regexp chain, so the
    oracle verifies extraction byte-for-byte."""
    from greatex_spark.functions.html import html_to_text

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var x = 1 < 2;</script>"
              "<style>p { color: red; }</style></head><body><p id=\"main\">"),
        F.col("text"),
        F.lit("</p><!-- footer &amp; notes --><div>&quot;end&quot;&nbsp;</div>"
              "</body></html>"),
    )
    return docs.select(
        "doc_id", html_to_text(html).alias("extracted")
    )


def _doc_html_extract_sql() -> str:
    from greatex_spark.functions.html import html_to_text_duckdb_sql

    html = (
        "('<html><head><script>var x = 1 < 2;</script>"
        "<style>p { color: red; }</style></head><body><p id=\"main\">'"
        " || text || "
        "'</p><!-- footer &amp; notes --><div>&quot;end&quot;&nbsp;</div>"
        "</body></html>')"
    )
    return f"""
SELECT doc_id, {html_to_text_duckdb_sql(html)} AS extracted
FROM documents
"""


def doc_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toxicity blocklist signals + scrub (the toxicity half of the
    north rule's PII/toxicity-scrub): per-doc match count, C4-style
    clean flag, and the byte-exact masked text — one codegen'd regex
    pass each (functions/toxicity.py)."""
    from greatex_spark.functions.toxicity import scrub_toxicity, toxicity_count

    docs = _t(spark, sf_dir, "documents")
    cnt = toxicity_count("text", _TOX_DEMO_BLOCKLIST)
    return docs.select(
        "doc_id",
        cnt.alias("tox_count"),
        (cnt == 0).alias("is_clean"),
        scrub_toxicity("text", _TOX_DEMO_BLOCKLIST).alias("text_scrubbed"),
    )


def _doc_toxicity_sql() -> str:
    from greatex_spark.functions.toxicity import (
        scrub_toxicity_duckdb_sql,
        toxicity_count_duckdb_sql,
    )

    cnt = toxicity_count_duckdb_sql("text", _TOX_DEMO_BLOCKLIST)
    return f"""
SELECT doc_id, {cnt} AS tox_count, {cnt} = 0 AS is_clean,
       {scrub_toxicity_duckdb_sql("text", _TOX_DEMO_BLOCKLIST)} AS text_scrubbed
FROM documents
"""


def doc_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-domain quota: cap each source at ~30 docs via the
    hash-threshold rule (no window, no per-domain sort — the skew-free
    quota of operators/sampling.py)."""
    from greatex_spark.operators.sampling import domain_quota

    docs = _t(spark, sf_dir, "documents")
    return domain_quota(docs, "source", cap=30).select(
        "doc_id", "source", "n_chars"
    )


def _doc_domain_quota_sql() -> str:
    from greatex_spark.operators.sampling import domain_quota_duckdb_sql

    return domain_quota_duckdb_sql(
        "t.doc_id, t.{d}, t.n_chars".format(d="source"), "documents", "source", cap=30
    )


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: the odd-id half of documents arrives as
    a new batch and dedups against the committed fingerprint index of
    the even-id half — the production mode where the 100 TB corpus is
    never rescanned (operators/dedup.py exact_dedup_incremental)."""
    docs = _t(spark, sf_dir, "documents")
    existing = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    return exact_dedup_incremental(
        batch, content_fingerprint_index(existing)
    ).select("doc_id", "source", "n_chars")


def _doc_incremental_dedup_sql() -> str:
    return exact_dedup_incremental_duckdb_sql(
        "t.doc_id, t.source, t.n_chars",
        new_pred="doc_id % 2 = 1",
        index_pred="doc_id % 2 = 0",
    )


def _doc_stratified_sample_sql() -> str:
    from greatex_spark.operators.sampling import stratified_sample_duckdb_sql

    return stratified_sample_duckdb_sql(
        "doc_id, source, n_chars",
        "documents",
        "source",
        _STRATA_FRACTIONS,
        id_col="doc_id",
        default_fraction=0.1,
    )


def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-linear quality score per document — the
    curated-corpus resemblance signal of the GPT-3/CCNet quality
    filter, as a pure Column expression (functions/classifier.py)."""
    from greatex_spark.functions.classifier import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality_score"))


def _doc_quality_score_sql() -> str:
    from greatex_spark.functions.classifier import quality_score_duckdb_sql

    return (
        f"SELECT doc_id, {quality_score_duckdb_sql('text')} AS quality_score "
        "FROM documents"
    )


_TOKEN_BUDGET = 12_000


def doc_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget top-slice (DataComp/FineWeb-Edu-style): keep the
    highest-quality-score prefix of the corpus whose running BPE-token
    total stays within a fixed budget.  The semantic spec is ONE
    global cumulative-sum window (the oracle's form); the Spark plan
    is operators/sampling.py:token_budget_select — order-consistent
    score buckets, per-bucket token totals collected (≤ 4,096 longs),
    offsets broadcast back as a literal map, parallel per-bucket
    cumulative windows, doomed buckets filtered before any sort."""
    from greatex_spark.functions.classifier import quality_score
    from greatex_spark.functions.textstats import bpe_token_count
    from greatex_spark.operators.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality_score"),
        bpe_token_count("text").cast("long").alias("n_tokens"),
    )
    return token_budget_select(scored, _TOKEN_BUDGET)


def _doc_token_budget_sql() -> str:
    from greatex_spark.functions.classifier import quality_score_duckdb_sql
    from greatex_spark.functions.textstats import BPE_TOKEN_REGEX
    from greatex_spark.operators.sampling import token_budget_select_duckdb_sql

    bpe = BPE_TOKEN_REGEX.replace("'", "''")
    scored = (
        f"(SELECT doc_id, {quality_score_duckdb_sql('text')} AS quality_score, "
        f"len(regexp_extract_all(text, '{bpe}'))::BIGINT AS n_tokens "
        "FROM documents WHERE text IS NOT NULL)"
    )
    return token_budget_select_duckdb_sql(
        "doc_id, quality_score, n_tokens", scored, _TOKEN_BUDGET
    )


# deterministic "dirty" URL variants for the canonicalization queries:
# the bronze fixture's URLs are already clean, so both engines append
# the same md5-selected noise (tracking params / fragments / case /
# www. / trailing slash) before canonicalizing — exercising every
# rewrite step of operators/urls.py with a replayable input.
_URL_NOISE = (
    "?utm_source=feed&utm_medium=rss",
    "#section-2",
    "?id=7&utm_campaign=x&gclid=abc",
    "/",
)


def _dirty_url_col():
    from greatex_spark.operators.minhash import md5_long

    shout = F.regexp_replace(F.col("url"), r"^https://", "HTTPS://WWW.")
    variant = (md5_long(F.col("url")) % F.lit(len(_URL_NOISE))).cast("int")
    noise = F.array(*[F.lit(s) for s in _URL_NOISE])
    return F.concat(shout, F.element_at(noise, variant + F.lit(1)))


def _dirty_url_sql(url: str = "url") -> str:
    from greatex_spark.operators.minhash import md5_long_sql

    shout = f"regexp_replace({url}, '^https://', 'HTTPS://WWW.')"
    cases = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_URL_NOISE)
    )
    return (
        f"({shout} || CASE ({md5_long_sql(url)} % {len(_URL_NOISE)})::INT "
        f"{cases} END)"
    )


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host + registrable-domain extraction over
    deterministically dirtied bronze-fixture URLs (operators/urls.py) —
    pure projection, no shuffle."""
    from greatex_spark.operators.urls import (
        canonicalize_url,
        host_of,
        registered_domain,
    )

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    return bronze.select(
        F.col("url"),
        _dirty_url_col().alias("dirty_url"),
    ).select(
        "url",
        "dirty_url",
        canonicalize_url("dirty_url").alias("canon_url"),
        host_of(canonicalize_url("dirty_url")).alias("host"),
        registered_domain(host_of(canonicalize_url("dirty_url"))).alias("domain"),
    )


def _url_canonicalize_sql() -> str:
    import os

    from greatex_spark.operators.urls import (
        canonicalize_url_sql,
        host_of_sql,
        registered_domain_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    canon = canonicalize_url_sql("dirty_url")
    host = host_of_sql(canon)
    return f"""
WITH __dirty AS (
  SELECT url, {_dirty_url_sql('url')} AS dirty_url
  FROM read_parquet('{fixture}/*.parquet'))
SELECT url, dirty_url, {canon} AS canon_url, {host} AS host,
       {registered_domain_sql(host)} AS domain
FROM __dirty
"""


def url_dedup_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup + domain blocklist over a corpus where each
    page appears as TWO different dirty fetches: dedup_by_url keeps one
    survivor per canonical URL (min-string, one partial-agg shuffle),
    then blocklisted registrable domains drop via a pushed-down
    filter."""
    from greatex_spark.operators.urls import dedup_by_url, filter_domains

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    fetches = bronze.select(
        F.explode(
            F.array(
                _dirty_url_col(),
                F.concat(F.col("url"), F.lit("#ref")),
            )
        ).alias("url")
    )
    survivors = dedup_by_url(fetches, "url")
    return filter_domains(survivors, ["example.net"], "url")


def _url_dedup_domains_sql() -> str:
    import os

    from greatex_spark.operators.urls import (
        canonicalize_url_sql,
        host_of_sql,
        registered_domain_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    canon = canonicalize_url_sql("url")
    dom = registered_domain_sql(host_of_sql(canon))
    return f"""
WITH __fetches AS (
  SELECT {_dirty_url_sql('url')} AS url FROM read_parquet('{fixture}/*.parquet')
  UNION ALL
  SELECT url || '#ref' AS url FROM read_parquet('{fixture}/*.parquet')),
__winners AS (
  SELECT min(url) AS url FROM __fetches GROUP BY {canon})
SELECT url FROM __winners WHERE {dom} <> 'example.net'
"""


# 16-word path vocabulary keyed by the first hex char of md5(url):
# flagged terms at several weights plus benign words containing flagged
# substrings ("sexton", "essex") so the score spectrum 0.0-2.0 and the
# documented substring false-positive tradeoff are both exercised.
_URL_PATH_VOCAB = (
    "news", "sports", "porn", "recipes", "xxx-videos", "travel",
    "casino-poker", "health", "bet", "science", "sexton", "essex",
    "music", "escort", "viagra-pills", "garden",
)


def url_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL-level quality gate (operators/urls.py):
    weighted flagged-substring score over the canonical URL + domain
    blocklist, evaluated as a pure projection before any body fetch or
    featurize stage."""
    from greatex_spark.operators.urls import (
        canonicalize_url,
        host_of,
        registered_domain,
        url_quality_score,
    )

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    hexc = F.substring(F.md5(F.col("url")), 1, 1)
    word = F.lit(_URL_PATH_VOCAB[-1])
    for i, w in enumerate(_URL_PATH_VOCAB[:-1]):
        word = F.when(hexc == format(i, "x"), F.lit(w)).otherwise(word)
    dirty = F.concat(F.col("url"), F.lit("/"), word)
    canon = canonicalize_url(dirty)
    dom = registered_domain(host_of(canon))
    score = url_quality_score(canon)
    blocked = dom.isin("example.net")
    return bronze.select(
        F.col("url"),
        dirty.alias("dirty_url"),
        dom.alias("domain"),
        score.alias("url_score"),
        blocked.alias("blocked_domain"),
        ((score < F.lit(1.0)) & ~blocked).alias("keep"),
    )


def _url_quality_filter_sql() -> str:
    import os

    from greatex_spark.operators.urls import (
        canonicalize_url_sql,
        host_of_sql,
        registered_domain_sql,
        url_quality_score_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    whens = " ".join(
        f"WHEN '{format(i, 'x')}' THEN '{w}'"
        for i, w in enumerate(_URL_PATH_VOCAB[:-1])
    )
    word = f"CASE substr(md5(url), 1, 1) {whens} ELSE '{_URL_PATH_VOCAB[-1]}' END"
    canon = canonicalize_url_sql("dirty_url")
    dom = registered_domain_sql(host_of_sql(canon))
    score = url_quality_score_sql(canon)
    return f"""
WITH __dirty AS (
  SELECT url, url || '/' || {word} AS dirty_url
  FROM read_parquet('{fixture}/*.parquet'))
SELECT url, dirty_url, {dom} AS domain,
       {score} AS url_score,
       {dom} = 'example.net' AS blocked_domain,
       ({score} < 1.0 AND {dom} <> 'example.net') AS keep
FROM __dirty
"""


def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide line dedup over the bronze fixture
    (operators/linededup.py): boilerplate lines keep one copy in the
    min-id document; documents re-assemble in line order."""
    from greatex_spark.operators.linededup import dedup_lines

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    return dedup_lines(bronze.select("url", "text"), "text", "url")


def _doc_line_dedup_sql() -> str:
    import os

    from greatex_spark.operators.linededup import dedup_lines_duckdb_sql

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    return dedup_lines_duckdb_sql(f"read_parquet('{fixture}/*.parquet')")


def doc_boilerplate_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency boilerplate removal over the bronze fixture
    (operators/linededup.py): every copy of a line seen in >=4 distinct
    documents is cut — the complement of ``doc_line_dedup``'s
    keep-one-owner rule, with a broadcast hot-set anti-join so corpus
    text never shuffles for the decision."""
    from greatex_spark.operators.linededup import remove_boilerplate_lines

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    return remove_boilerplate_lines(bronze.select("url", "text"), "text", "url")


def _doc_boilerplate_trim_sql() -> str:
    import os

    from greatex_spark.operators.linededup import (
        remove_boilerplate_lines_duckdb_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    return remove_boilerplate_lines_duckdb_sql(
        f"read_parquet('{fixture}/*.parquet')"
    )


def doc_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale character-trigram LM fit over the bronze fixture
    (functions/ngram_lm.py) — the training half of the CCNet perplexity
    loop: one corpus pass emits trigrams, bigram/unigram counters and
    MLE log-probs derive from the model-sized count table."""
    from greatex_spark.functions.ngram_lm import ngram_lm_fit

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    return ngram_lm_fit(bronze.select("text"), min_count=25)


def _doc_ngram_lm_sql() -> str:
    import os

    from greatex_spark.functions.ngram_lm import ngram_lm_fit_duckdb_sql

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    return ngram_lm_fit_duckdb_sql(
        f"read_parquet('{fixture}/*.parquet')", min_count=25
    )


def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy audit (operators/dedup.py): for the
    bounded consecutive-pair sample, the 64-permutation signature-
    agreement estimate next to the exact 5-shingle Jaccard and the
    absolute error — the measurement a corpus owner reads before
    trusting LSH dedup at scale."""
    from greatex_spark.operators.dedup import minhash_accuracy_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_accuracy_pairs(docs)


def _dedup_minhash_eval_sql() -> str:
    from greatex_spark.operators.dedup import minhash_accuracy_pairs_duckdb_sql

    return minhash_accuracy_pairs_duckdb_sql()


def doc_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on consecutive doc pairs (the verification
    kernel of near-dup dedup, isolated so DuckDB can replay it)."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .where(F.col("id_a") < 200)
        .select("id_a", "id_b", ngram_jaccard("text_a", "text_b", 3).alias("jaccard"))
    )


def _doc_pair_jaccard_sql() -> str:
    # normalized words, as in textstats.normalize_for_fingerprint
    def grams(t: str) -> str:
        words = f"string_split(trim(regexp_replace(lower({t}), '\\s+', ' ', 'g')), ' ')"
        return (
            f"list_distinct(list_transform(range(1, greatest(len({words}) - 3, 0) + 2), "
            f"i -> array_to_string(list_slice({words}, i, i + 2), ' ')))"
        )

    ga, gb = grams("a.text"), grams("b.text")
    inter = f"len(list_intersect({ga}, {gb}))"
    union = f"len(list_distinct(list_concat({ga}, {gb})))"
    return f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CASE WHEN {union} > 0 THEN CAST({inter} AS DOUBLE) / {union} ELSE 0.0 END AS jaccard
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id < 200
"""


# ---------------------------------------------------------------------------
# staged pipeline


def _bronze_fixture(sf_dir: str) -> str:
    """Committed bronze page fixture (tools/make_bronze_fixture.py) —
    byte-identical input for the Spark pipeline and its DuckDB twin."""
    import os

    if "0.001" in sf_dir:
        n = 1500
    elif "0.01" in sf_dir:
        n = 4000
    else:  # sf0.1 second-scale sweep: larger, multi-file (4 part files
        # → >1 input partition, so partition-count dependence shows)
        n = 12000
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", f"bronze_pages_n{n}.parquet",
    )


def pipeline_pages_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end flagship over the committed Common-Crawl-style bronze
    fixture (BASELINE.json input_hint schema): featurize in one pass
    (heuristics + langid + perplexity UDF + scrub), filter, MinHash-
    dedup, project the gold contract.

    Oracle configuration: the production featurize (Arrow signals,
    which the DuckDB twin replays) with the md5 dedup family.  The
    xxhash64 family, pinned semantically equal by the parity pytests,
    is what the pipeline runner and ``perfbench/run.py`` measure."""
    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    cfg = PipelineConfig(dedup_hash_family="md5")
    return gold_projection(dedup(filter_kept(featurize(bronze, cfg)), cfg))


def _pipeline_sql_ctes(cfg: "PipelineConfig", upto: str = "gold") -> str:
    """Shared DuckDB WITH-clause body replaying the staged pipeline over
    the committed bronze fixture (spec config: md5 family, string
    grams): __bronze → __feat (all silver signals incl. the ``keep``
    flag — SQL three-valued logic matches Spark's) → __kept →
    MinHash-band CTEs → __reps (survivor urls).  Used by the
    ``pipeline_pages_gold``, lineage-metrics, attrition and drop-audit
    oracles; ``upto="feat"`` stops after ``__feat`` for oracles that
    never touch the dedup half."""
    import os

    from greatex_spark.functions.heuristics import gopher_keep_duckdb_sql
    from greatex_spark.operators.minhash import _minhash_ctes_sql

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    fixture = _bronze_fixture(sf_dir)
    keep_q = gopher_keep_duckdb_sql("b.text", cfg.gopher_thresholds)
    lang_pred = detect_lang_duckdb_sql("b.text")
    scrubbed = scrub_pii_duckdb_sql("b.text")
    bpe = BPE_TOKEN_REGEX.replace("'", "''")
    ppl = perplexity_duckdb_sql(table="__bronze", id_col="url", text_col="text")
    minhash_ctes = _minhash_ctes_sql(
        "__kept", "url", "text",
        cfg.minhash_num_perm, cfg.minhash_num_bands, shingle_k=5,
    )
    feat_ctes = f"""__bronze AS MATERIALIZED (
  SELECT url, warc_ts, html, text, lang FROM read_parquet('{fixture}/*.parquet')),
__ppl AS MATERIALIZED ({ppl}),
__feat_base AS (
  SELECT b.url, b.warc_ts, b.text,
         {keep_q} AS keep_quality,
         {lang_pred} AS lang_pred,
         p.log_ppl AS log_ppl,
         nullif({scrubbed}, b.text) AS text_scrubbed,
         len(regexp_extract_all(b.text, '{bpe}')) AS n_tokens
  FROM __bronze b JOIN __ppl p USING (url)),
__feat AS MATERIALIZED (
  SELECT *, keep_quality AND lang_pred = '{cfg.target_lang}'
            AND log_ppl IS NOT NULL AND log_ppl <= {cfg.ppl_threshold} AS keep
  FROM __feat_base)"""
    if upto == "feat":
        return feat_ctes
    return f"""{feat_ctes},
__kept AS MATERIALIZED (
  SELECT * FROM __feat WHERE keep),
{minhash_ctes},
__mins AS (
  SELECT band, bucket, min(url) AS bmin FROM __banded GROUP BY band, bucket),
__reps AS (
  SELECT bmin FROM __mins GROUP BY bmin HAVING count(*) = {cfg.minhash_num_bands}),
__gold AS MATERIALIZED (
  SELECT t.url, t.warc_ts, coalesce(t.text_scrubbed, t.text) AS text, t.lang_pred AS lang,
         t.n_tokens
  FROM __kept t JOIN __reps r ON t.url = r.bmin)"""


def _pipeline_pages_gold_sql() -> str:
    """DuckDB twin of :func:`pipeline_pages_gold` — the whole pipeline
    composed from the per-stage SQL twins over the same bronze fixture:
    gopher keep conjunction + heuristic langid + trigram perplexity
    (MAP-literal model, identical IEEE fold) + PII scrub chain, then the
    md5-family MinHash-LSH survivor rule, then the gold projection."""
    return f"""
WITH {_pipeline_sql_ctes(PipelineConfig())}
SELECT url, warc_ts, text, lang, n_tokens FROM __gold
"""


def pipeline_stage_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition funnel over the gated pipeline (the
    observability view quality-filter papers report: how many documents
    each rule family removes).  Stages are sequential: quality
    heuristics → language-ID → perplexity cutoff → MinHash dedup.

    Spark shape: ONE conditional-count aggregation over the featurized
    silver (four count_ifs share the single pass) plus the gold count —
    no extra scans, no shuffles beyond the pipeline's own.  The handful
    of scalar counts is assembled driver-side (bounded: 5 rows)."""
    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    cfg = PipelineConfig(dedup_hash_family="md5")
    feat = featurize(bronze, cfg)
    lang_ok = F.col("lang_pred") == F.lit(cfg.target_lang)
    c = feat.agg(
        F.count(F.lit(1)).alias("n_bronze"),
        F.count_if(F.col("keep_quality")).alias("n_q"),
        F.count_if(F.col("keep_quality") & lang_ok).alias("n_l"),
        F.count_if(F.col("keep")).alias("n_p"),
    ).collect()[0]
    n_gold = dedup(filter_kept(feat), cfg).count()
    funnel = [
        ("1_quality", c.n_bronze, c.n_q),
        ("2_langid", c.n_q, c.n_l),
        ("3_perplexity", c.n_l, c.n_p),
        ("4_dedup", c.n_p, n_gold),
    ]
    rows = [
        (
            stage,
            n_in,
            n_kept,
            n_in - n_kept,
            (100.0 * (n_in - n_kept)) / n_in if n_in else 0.0,
        )
        for stage, n_in, n_kept in funnel
    ]
    return spark.createDataFrame(
        rows,
        "stage string, docs_in bigint, docs_kept bigint, docs_dropped bigint, "
        "drop_pct double",
    )


def _pipeline_stage_attrition_sql() -> str:
    """DuckDB twin of :func:`pipeline_stage_attrition`: the SAME staged
    CTEs as the gold oracle, with FILTERed counts replaying the four
    conditional counts and the identical IEEE drop_pct division."""
    cfg = PipelineConfig(dedup_hash_family="md5")
    ctes = _pipeline_sql_ctes(cfg)
    return f"""
WITH {ctes},
__c AS (
  SELECT count(*) AS n_bronze,
         count(*) FILTER (WHERE keep_quality) AS n_q,
         count(*) FILTER (WHERE keep_quality
                          AND lang_pred = '{cfg.target_lang}') AS n_l,
         count(*) FILTER (WHERE keep) AS n_p
  FROM __feat),
__g AS (SELECT count(*) AS n_gold FROM __gold),
__funnel AS (
  SELECT '1_quality' AS stage, n_bronze AS docs_in, n_q AS docs_kept FROM __c
  UNION ALL SELECT '2_langid', n_q, n_l FROM __c
  UNION ALL SELECT '3_perplexity', n_l, n_p FROM __c
  UNION ALL SELECT '4_dedup', (SELECT n_p FROM __c), n_gold FROM __g)
SELECT stage,
       CAST(docs_in AS BIGINT) AS docs_in,
       CAST(docs_kept AS BIGINT) AS docs_kept,
       CAST(docs_in - docs_kept AS BIGINT) AS docs_dropped,
       CASE WHEN docs_in = 0 THEN 0.0
            ELSE (100.0 * (docs_in - docs_kept)) / docs_in END AS drop_pct
FROM __funnel
"""


def corpus_domain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain corpus report over the featurized silver
    — the governance view a web-corpus curator reads first (FineWeb /
    RefinedWeb publish exactly this table): pages crawled, pages kept,
    keep rate, mean perplexity, token totals.

    Spark shape: ONE hash aggregation keyed on the derived domain
    (partial map-side combine; domain cardinality is ~millions at
    crawl scale — tiny vs rows).  Float determinism for the oracle:
    the perplexity mean is a DECIMAL(28,6) sum (exact, associative —
    partial aggregation order cannot change it) finished by a single
    IEEE double division; the keep rate is one multiply + one divide
    of exact integers.  No window, no sort, no second scan."""
    from greatex_spark.operators.urls import host_of, registered_domain

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    cfg = PipelineConfig(dedup_hash_family="md5")
    feat = featurize(bronze, cfg)
    dom = registered_domain(host_of(F.col("url")))
    return (
        feat.select(dom.alias("domain"), "keep", "log_ppl", "n_tokens")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.count_if(F.col("keep")).alias("kept_pages"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_tokens"))), F.lit(0)
            ).cast("bigint").alias("kept_tokens"),
            F.sum(F.col("log_ppl").cast("decimal(28,6)")).alias("__s"),
            F.count("log_ppl").alias("__c"),
        )
        .select(
            "domain",
            "pages",
            "kept_pages",
            ((F.lit(100.0) * F.col("kept_pages")) / F.col("pages")).alias(
                "keep_rate_pct"
            ),
            F.when(
                F.col("__c") > 0, F.col("__s").cast("double") / F.col("__c")
            ).alias("avg_log_ppl"),
            "total_tokens",
            "kept_tokens",
        )
    )


def _corpus_domain_report_sql() -> str:
    """DuckDB twin of :func:`corpus_domain_report`: same feat CTEs,
    same domain derivation, same decimal-sum/single-division float
    discipline."""
    from greatex_spark.operators.urls import host_of_sql, registered_domain_sql

    cfg = PipelineConfig(dedup_hash_family="md5")
    ctes = _pipeline_sql_ctes(cfg, upto="feat")
    dom = registered_domain_sql(host_of_sql("url"))
    return f"""
WITH {ctes},
__dom AS (
  SELECT {dom} AS domain, keep, log_ppl, n_tokens FROM __feat),
__agg AS (
  SELECT domain,
         count(*) AS pages,
         count(*) FILTER (WHERE keep) AS kept_pages,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(coalesce(sum(n_tokens) FILTER (WHERE keep), 0) AS BIGINT)
           AS kept_tokens,
         sum(CAST(log_ppl AS DECIMAL(28,6))) AS __s,
         count(log_ppl) AS __c
  FROM __dom GROUP BY domain)
SELECT domain, pages, kept_pages,
       (100.0 * kept_pages) / pages AS keep_rate_pct,
       CASE WHEN __c > 0 THEN CAST(__s AS DOUBLE) / __c END AS avg_log_ppl,
       total_tokens, kept_tokens
FROM __agg
"""


def pipeline_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style qualitative audit sample: for every drop reason
    (the first failing stage of the keep conjunction — null_text /
    quality / langid / perplexity), the 5 dropped documents with the
    lowest sampling hash.  Quality-filter work reviews such samples
    per rule before trusting a filter at corpus scale.

    Spark shape: the reason label is a CASE projection over the
    featurized silver; selection is :func:`top_n_per_group` — the
    skew-safe salted two-phase window (a plain PARTITION BY reason
    window would funnel each whole reason, i.e. ~a quarter of a 100 TB
    corpus, through one task).  Determinism: the rank key is the
    md5 sampling hash + url tie-break, so the sample is identical
    under any partitioning and replays in the oracle's single-window
    form."""
    from greatex_spark.operators.sampling import sample_hash, top_n_per_group

    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    cfg = PipelineConfig(dedup_hash_family="md5")
    feat = featurize(bronze, cfg)
    dropped = feat.where(~F.coalesce(F.col("keep"), F.lit(False))).select(
        drop_reason(cfg).alias("drop_reason"),
        "url",
        "n_tokens",
        sample_hash(F.col("url"), 7).alias("__h"),
    )
    out = top_n_per_group(
        dropped,
        "drop_reason",
        [F.col("__h"), F.col("url")],
        n=5,
    )
    return out.select("drop_reason", "rank", "url", "n_tokens")


def _pipeline_drop_audit_sql() -> str:
    """DuckDB twin of :func:`pipeline_drop_audit`: same feat CTEs, the
    same NULL-safe CASE fall-through, and the salted two-phase
    selection collapsed to its semantic spec — ONE row_number window
    per reason (equal by construction: top-n of per-salt top-ns under
    a total order is the global top-n)."""
    from greatex_spark.operators.minhash import md5_long_sql
    from greatex_spark.operators.sampling import DENOM

    cfg = PipelineConfig(dedup_hash_family="md5")
    ctes = _pipeline_sql_ctes(cfg, upto="feat")
    key = md5_long_sql("(url::VARCHAR || ':7')")
    return f"""
WITH {ctes},
__dropped AS (
  SELECT CASE WHEN text IS NULL THEN 'null_text'
              WHEN NOT keep_quality THEN 'quality'
              WHEN lang_pred <> '{cfg.target_lang}' THEN 'langid'
              ELSE 'perplexity' END AS drop_reason,
         url, n_tokens, ({key} % {DENOM}) AS __h
  FROM __feat WHERE NOT coalesce(keep, false)),
__ranked AS (
  SELECT drop_reason, url, n_tokens,
         row_number() OVER (PARTITION BY drop_reason
                            ORDER BY __h, url) AS rank
  FROM __dropped)
SELECT drop_reason, rank, url, n_tokens FROM __ranked WHERE rank <= 5
"""


def _lineage_config() -> "PipelineConfig":
    """Spec config for the lineage-metrics oracle run: md5 dedup family
    (every stage SQL-replayable), and a keep-fraction corridor that admits both committed fixtures (the
    n1500 fixture keeps 23.3% — the default 25% floor is calibrated to
    the larger corpora the pipeline actually runs on)."""
    return PipelineConfig(
        dedup_hash_family="md5",
        keep_fraction_band=(0.2, 0.8),
    )


def pipeline_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the fully staged, gated, resumable pipeline (bronze → silver
    → kept → gold snapshots + checkpoint gates) on the committed bronze
    fixture and return the typed metrics table — the engine's recast of
    the reference's JSON validations store + shredding trigger
    (/root/reference/database-setup/storedb.sql:10-75).  Deterministic
    columns only (run names and timestamps are run-scoped and
    excluded); the DuckDB twin replays every per-expectation
    element/unexpected count and gate outcome from the same fixture via
    the shared stage CTEs."""
    import tempfile

    from greatex_spark.pipeline.runner import run_pipeline
    from greatex_spark.pipeline.checkpoint import METRICS_TABLE
    from greatex_spark.tables import Catalog

    tmp = tempfile.mkdtemp(prefix="greatex_lineage_")
    catalog = Catalog(tmp)
    bronze = spark.read.parquet(_bronze_fixture(sf_dir))
    run_pipeline(
        spark, catalog, epoch=1, source_df=bronze,
        config=_lineage_config(), run_name="oracle-run",
    )
    metrics = catalog.read_latest(spark, METRICS_TABLE)
    return metrics.select(
        "expectation_suite_name",
        "expectation_name",
        "expectation_column",
        "batch_identifier",
        "element_count",
        "unexpected_count",
        "success",
        "success_percent",
        "evaluated_expectations",
        "checkpoint_epoch",
    )


def _pipeline_lineage_metrics_sql() -> str:
    """DuckDB twin of :func:`pipeline_lineage_metrics`: one row per
    expectation across the four gates, with element_count /
    unexpected_count / success computed from the SAME staged CTEs the
    gold oracle replays (never hard-coded where data-dependent) and the
    engine's exact result semantics:

    - row-level + fused-unique rows carry element_count = stage row
      count; schema / row-count / aggregate rows carry 0 (the compiler
      only emits element_count for row-level kinds —
      ``expectations/compiler.py`` ``run_suite``);
    - success for a row-level expectation is
      ``100*ux/ec <= (1-mostly)*100`` with IEEE-double arithmetic
      identical to the Python finalizer;
    - suite-level success_percent / evaluated_expectations are window
      aggregates over the suite's rows, like ``ValidationResult
      .statistics``.
    """
    from greatex_spark.functions.pii import PII_PATTERNS
    from greatex_spark.pages import HTML_POST, HTML_PRE
    from greatex_spark.pipeline.suites import KNOWN_LANGS

    cfg = _lineage_config()
    ctes = _pipeline_sql_ctes(cfg)
    langs = ", ".join(f"'{x}'" for x in KNOWN_LANGS)
    extraction = (
        f"regexp_replace(regexp_replace(decode(html), '^{HTML_PRE}', ''), "
        f"'{HTML_POST}$', '') = text"
    )
    lo = f"CAST(trunc((SELECT n FROM __src) * {cfg.keep_fraction_band[0]}) AS BIGINT)"
    hi = f"CAST(trunc((SELECT n FROM __src) * {cfg.keep_fraction_band[1]}) AS BIGINT)"

    def row_ok(ux: str, ec: str, mostly: float = 1.0) -> str:
        return f"(100.0 * ({ux}) / ({ec})) <= (1.0 - {mostly!r}) * 100.0"

    pii_rows = ",\n".join(
        f"""  ('pages_gold_suite', 'expect_column_values_to_not_match_regex', 'text',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT pii_{name} FROM __kgold),
   (SELECT {row_ok(f'pii_{name}', 'n')} FROM __kgold))""" for name, _, _ in PII_PATTERNS
    )
    pii_counts = ",\n".join(
        f"""    count(*) FILTER (WHERE regexp_matches(text, '{pat.replace("'", "''")}')
      AND text IS NOT NULL) AS pii_{name}""" for name, pat, _ in PII_PATTERNS
    )
    return f"""
WITH {ctes},
__src AS (
  SELECT count(*) AS n,
    count(*) FILTER (WHERE url IS NULL) AS url_nulls,
    greatest(0, count(url) - count(DISTINCT url)) AS url_dups,
    count(*) FILTER (WHERE NOT regexp_matches(url, '^https?://') AND url IS NOT NULL)
      AS url_bad,
    count(*) FILTER (WHERE warc_ts IS NULL) AS ts_nulls,
    count(*) FILTER (WHERE text IS NULL) AS text_nulls,
    count(*) FILTER (WHERE lang NOT IN ({langs}) AND lang IS NOT NULL) AS lang_bad,
    count(*) FILTER (WHERE NOT coalesce({extraction}, FALSE)) AS extract_bad
  FROM __bronze),
__sil AS (
  SELECT count(*) AS n,
    count(*) FILTER (WHERE keep IS NULL) AS keep_nulls,
    count(*) FILTER (WHERE lang_pred IS NULL) AS lp_nulls,
    count(*) FILTER (WHERE log_ppl IS NULL) AS ppl_nulls,
    count(*) FILTER (WHERE (log_ppl < 0.0 OR log_ppl > 50.0) AND log_ppl IS NOT NULL)
      AS ppl_oob,
    count(*) FILTER (WHERE coalesce(text_scrubbed, text) IS NULL) AS scrub_nulls,
    count(*) FILTER (WHERE (n_tokens < 0 OR n_tokens > 10000000)
      AND n_tokens IS NOT NULL) AS tok_oob,
    count(*) FILTER (WHERE lang_pred NOT IN ({langs}) AND lang_pred IS NOT NULL)
      AS lp_bad
  FROM __feat),
__kgold AS (
  SELECT count(*) AS n,
    count(*) FILTER (WHERE url IS NULL) AS url_nulls,
    greatest(0, count(url) - count(DISTINCT url)) AS url_dups,
    count(*) FILTER (WHERE lang <> 'en' AND lang IS NOT NULL) AS lang_bad,
    count(*) FILTER (WHERE text IS NULL) AS text_nulls,
    count(*) FILTER (WHERE (length(text) < 1 OR length(text) > 10000000)
      AND text IS NOT NULL) AS len_oob,
{pii_counts}
  FROM __gold),
__rows(suite, name, col, batch, ec, ux, ok) AS (
  SELECT * FROM (VALUES
  ('pages_source_suite', 'expect_table_columns_to_match_ordered_list', '',
   'pages_bronze@1', 0, 0, TRUE),
  ('pages_source_suite', 'expect_table_row_count_to_be_between', '',
   'pages_bronze@1', 0, 0, (SELECT n FROM __src) >= 1),
  ('pages_source_suite', 'expect_column_values_to_not_be_null', 'url',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT url_nulls FROM __src),
   (SELECT {row_ok('url_nulls', 'n')} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_be_unique', 'url',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT url_dups FROM __src),
   (SELECT {row_ok('url_dups', 'n')} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_match_regex', 'url',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT url_bad FROM __src),
   (SELECT {row_ok('url_bad', 'n')} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_not_be_null', 'warc_ts',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT ts_nulls FROM __src),
   (SELECT {row_ok('ts_nulls', 'n')} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_not_be_null', 'text',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT text_nulls FROM __src),
   (SELECT {row_ok('text_nulls', 'n', 0.999)} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_be_in_set', 'lang',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT lang_bad FROM __src),
   (SELECT {row_ok('lang_bad', 'n')} FROM __src)),
  ('pages_source_suite', 'expect_column_values_to_be_in_type_list', 'html',
   'pages_bronze@1', 0, 0, TRUE),
  ('pages_source_suite', 'expect_values_to_satisfy_expression', '',
   'pages_bronze@1', (SELECT n FROM __src), (SELECT extract_bad FROM __src),
   (SELECT {row_ok('extract_bad', 'n')} FROM __src)),

  ('pages_silver_suite', 'expect_column_values_to_not_be_null', 'keep',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT keep_nulls FROM __sil),
   (SELECT {row_ok('keep_nulls', 'n')} FROM __sil)),
  ('pages_silver_suite', 'expect_column_values_to_not_be_null', 'lang_pred',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT lp_nulls FROM __sil),
   (SELECT {row_ok('lp_nulls', 'n')} FROM __sil)),
  ('pages_silver_suite', 'expect_column_values_to_not_be_null', 'log_ppl',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT ppl_nulls FROM __sil),
   (SELECT {row_ok('ppl_nulls', 'n', 0.95)} FROM __sil)),
  ('pages_silver_suite', 'expect_column_values_to_be_between', 'log_ppl',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT ppl_oob FROM __sil),
   (SELECT {row_ok('ppl_oob', 'n')} FROM __sil)),
  ('pages_silver_suite', 'expect_values_to_satisfy_expression', '',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT scrub_nulls FROM __sil),
   (SELECT {row_ok('scrub_nulls', 'n', 0.999)} FROM __sil)),
  ('pages_silver_suite', 'expect_column_values_to_be_between', 'n_tokens',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT tok_oob FROM __sil),
   (SELECT {row_ok('tok_oob', 'n')} FROM __sil)),
  ('pages_silver_suite', 'expect_column_values_to_be_in_set', 'lang_pred',
   'pages_silver@1', (SELECT n FROM __sil), (SELECT lp_bad FROM __sil),
   (SELECT {row_ok('lp_bad', 'n')} FROM __sil)),

  ('pages_kept_suite', 'expect_table_row_count_to_be_between', '',
   'pages_kept@1', 0, 0,
   (SELECT n FROM __kgold) BETWEEN ({lo}) AND ({hi})),
  ('pages_kept_suite', 'expect_values_to_satisfy_expression', '',
   'pages_kept@1', (SELECT n FROM __kgold), 0, TRUE),
  ('pages_kept_suite', 'expect_column_values_to_be_unique', 'url',
   'pages_kept@1', (SELECT n FROM __kgold), (SELECT url_dups FROM __kgold),
   (SELECT {row_ok('url_dups', 'n')} FROM __kgold)),

  ('pages_gold_suite', 'expect_table_columns_to_match_ordered_list', '',
   'pages_gold@1', 0, 0, TRUE),
  ('pages_gold_suite', 'expect_column_values_to_not_be_null', 'url',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT url_nulls FROM __kgold),
   (SELECT {row_ok('url_nulls', 'n')} FROM __kgold)),
  ('pages_gold_suite', 'expect_column_values_to_be_unique', 'url',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT url_dups FROM __kgold),
   (SELECT {row_ok('url_dups', 'n')} FROM __kgold)),
  ('pages_gold_suite', 'expect_column_values_to_be_in_set', 'lang',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT lang_bad FROM __kgold),
   (SELECT {row_ok('lang_bad', 'n')} FROM __kgold)),
  ('pages_gold_suite', 'expect_column_values_to_not_be_null', 'text',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT text_nulls FROM __kgold),
   (SELECT {row_ok('text_nulls', 'n')} FROM __kgold)),
  ('pages_gold_suite', 'expect_column_value_lengths_to_be_between', 'text',
   'pages_gold@1', (SELECT n FROM __kgold), (SELECT len_oob FROM __kgold),
   (SELECT {row_ok('len_oob', 'n')} FROM __kgold)),
{pii_rows})
)
SELECT suite AS expectation_suite_name, name AS expectation_name,
  col AS expectation_column, batch AS batch_identifier,
  CAST(ec AS BIGINT) AS element_count, CAST(ux AS BIGINT) AS unexpected_count,
  ok AS success,
  100.0 * sum(CASE WHEN ok THEN 1 ELSE 0 END) OVER (PARTITION BY suite)
    / count(*) OVER (PARTITION BY suite) AS success_percent,
  CAST(count(*) OVER (PARTITION BY suite) AS INT) AS evaluated_expectations,
  CAST(1 AS BIGINT) AS checkpoint_epoch
FROM __rows
"""


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full quality-filter pipeline over the sf0.001
    documents corpus — keep/drop flags, language decision, PII scrub,
    MinHash dedup, public projection."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    f = quality_features(F.col("text"))
    featurized = docs.select(
        "doc_id",
        "text",
        "lang",
        detect_lang("text").alias("lang_pred"),
        scrub_pii("text").alias("text_scrubbed"),
        bpe_token_count("text").alias("n_tokens"),
        (
            (f["n_chars"] >= 100)
            & (f["n_words"] >= 20)
            & (f["stopword_count"] >= 1)
        ).alias("keep_quality"),
    )
    kept = featurized.where(F.col("keep_quality"))
    deduped = minhash_lsh_dedup(kept, "text", "doc_id")
    return deduped.select(
        "doc_id",
        F.col("text_scrubbed").alias("text"),
        F.col("lang_pred").alias("lang"),
        "n_tokens",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_lineitem_pricing": q1_lineitem_pricing,
        "filter_pushdown_revenue": filter_pushdown_revenue,
        "join_orders_customer": join_orders_customer,
        "join_supplier_nation_region": join_supplier_nation_region,
        "events_hourly_rollup": events_hourly_rollup,
        "events_top_users": events_top_users,
        "events_user_distinct_types": events_user_distinct_types,
        "elt_clean_project": elt_clean_project,
        "suite_orders_schema_gate": suite_orders_schema_gate,
        "suite_documents_gate": suite_documents_gate,
        "suite_lineitem_stats_gate": suite_lineitem_stats_gate,
        "suite_param_bound_gate": suite_param_bound_gate,
        "gopher_gate_documents": gopher_gate_documents,
        "doc_text_stats": doc_text_stats,
        "doc_langid": doc_langid,
        "doc_c4_filter": doc_c4_filter,
        "doc_c4_line_filter": doc_c4_line_filter,
        "doc_ppl_buckets": doc_ppl_buckets,
        "doc_repetition_signals": doc_repetition_signals,
        "doc_substring_dup": doc_substring_dup,
        "doc_substring_trim": doc_substring_trim,
        "doc_pii_scrub": doc_pii_scrub,
        "doc_cc_scrub": doc_cc_scrub,
        "doc_normalize": doc_normalize,
        "doc_fix_mojibake": doc_fix_mojibake,
        "doc_fingerprint": doc_fingerprint,
        "doc_perplexity": doc_perplexity,
        "doc_dup_ngrams": doc_dup_ngrams,
        "doc_exact_dedup": doc_exact_dedup,
        "doc_minhash_dedup": doc_minhash_dedup,
        "doc_dup_clusters": doc_dup_clusters,
        "dedup_cluster_stats": dedup_cluster_stats,
        "doc_pair_jaccard": doc_pair_jaccard,
        "doc_stratified_sample": doc_stratified_sample,
        "doc_top_tokens": doc_top_tokens,
        "doc_html_extract": doc_html_extract,
        "doc_toxicity": doc_toxicity,
        "doc_domain_quota": doc_domain_quota,
        "doc_incremental_dedup": doc_incremental_dedup,
        "doc_quality_score": doc_quality_score,
        "doc_token_budget": doc_token_budget,
        "doc_line_dedup": doc_line_dedup,
        "doc_boilerplate_trim": doc_boilerplate_trim,
        "doc_ngram_lm": doc_ngram_lm,
        "dedup_minhash_eval": dedup_minhash_eval,
        "url_canonicalize": url_canonicalize,
        "url_dedup_domains": url_dedup_domains,
        "url_quality_filter": url_quality_filter,
        "pipeline_pages_gold": pipeline_pages_gold,
        "pipeline_lineage_metrics": pipeline_lineage_metrics,
        "pipeline_stage_attrition": pipeline_stage_attrition,
        "corpus_domain_report": corpus_domain_report,
        "pipeline_drop_audit": pipeline_drop_audit,
    }


def oracle_sql() -> dict[str, str]:
    pii_scrubbed = scrub_pii_duckdb_sql(
        "(text || '" + PII_SUFFIX.replace("'", "''") + "')"
    )
    return {
        "q1_lineitem_pricing": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
    AS sum_disc_price,
  count(*) AS count_order
FROM lineitem WHERE l_quantity < 50
GROUP BY l_returnflag, l_linestatus
""",
        "filter_pushdown_revenue": """
SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10
""",
        "join_orders_customer": """
SELECT c_mktsegment, count(*) AS order_count,
  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
        "join_supplier_nation_region": """
SELECT r_name, count(*) AS supplier_count,
  CAST(sum(CAST(s_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "events_hourly_rollup": """
SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type, date_trunc('hour', ts)
""",
        "events_top_users": """
WITH totals AS (
  SELECT event_type, user_id,
    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY event_type, user_id),
ranked AS (
  SELECT event_type, user_id, total_value,
    row_number() OVER (PARTITION BY event_type ORDER BY total_value DESC, user_id ASC)
      AS rnk
  FROM totals)
SELECT event_type, user_id, CAST(rnk AS INT) AS rnk, total_value
FROM ranked WHERE rnk <= 3
""",
        "events_user_distinct_types": """
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct
FROM events GROUP BY user_id
""",
        "elt_clean_project": """
SELECT c_custkey,
  CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL ELSE c_mktsegment END AS mktsegment,
  greatest(c_acctbal, 0.0) AS acctbal_clamped,
  CAST(c_nationkey AS SMALLINT) AS nation_small
FROM customer WHERE c_acctbal IS NOT NULL
""",
        "suite_orders_schema_gate": _suite_orders_schema_gate_sql(),
        "suite_documents_gate": _suite_documents_gate_sql(),
        "suite_lineitem_stats_gate": _suite_lineitem_stats_gate_sql(),
        "suite_param_bound_gate": _suite_param_bound_gate_sql(),
        "gopher_gate_documents": _gopher_gate_sql(),
        "doc_text_stats": _doc_text_stats_sql(),
        "doc_langid": (
            "SELECT doc_id, " + detect_lang_duckdb_sql("text") + " AS lang_pred FROM documents"
        ),
        "doc_c4_filter": _doc_c4_filter_sql(),
        "doc_c4_line_filter": _doc_c4_line_filter_sql(),
        "doc_pii_scrub": f"SELECT doc_id, {pii_scrubbed} AS text_scrubbed FROM documents",
        "doc_cc_scrub": _doc_cc_scrub_sql(),
        "doc_normalize": _doc_normalize_sql(),
        "doc_fix_mojibake": _doc_fix_mojibake_sql(),
        "doc_fingerprint": (
            "SELECT doc_id, "
            + rolling_fingerprint64_duckdb_sql("text")
            + " AS fp FROM documents"
        ),
        "doc_perplexity": perplexity_duckdb_sql(),
        "doc_ppl_buckets": _ppl_buckets_sql(),
        "doc_repetition_signals": _doc_repetition_signals_sql(),
        "doc_substring_dup": _doc_substring_dup_sql(),
        "doc_substring_trim": _doc_substring_trim_sql(),
        "doc_dup_ngrams": _doc_dup_ngrams_sql(),
        "doc_exact_dedup": """
SELECT doc_id, source, n_chars FROM documents
QUALIFY row_number() OVER (
  PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
  ORDER BY doc_id ASC) = 1
""",
        "doc_minhash_dedup": minhash_lsh_dedup_duckdb_sql("t.doc_id, t.n_chars"),
        "doc_dup_clusters": _doc_dup_clusters_sql(),
        "dedup_cluster_stats": _dedup_cluster_stats_sql(),
        "doc_pair_jaccard": _doc_pair_jaccard_sql(),
        "doc_stratified_sample": _doc_stratified_sample_sql(),
        "doc_top_tokens": _doc_top_tokens_sql(),
        "doc_html_extract": _doc_html_extract_sql(),
        "doc_toxicity": _doc_toxicity_sql(),
        "doc_domain_quota": _doc_domain_quota_sql(),
        "doc_incremental_dedup": _doc_incremental_dedup_sql(),
        "doc_quality_score": _doc_quality_score_sql(),
        "doc_token_budget": _doc_token_budget_sql(),
        "doc_line_dedup": _doc_line_dedup_sql(),
        "doc_boilerplate_trim": _doc_boilerplate_trim_sql(),
        "doc_ngram_lm": _doc_ngram_lm_sql(),
        "dedup_minhash_eval": _dedup_minhash_eval_sql(),
        "url_canonicalize": _url_canonicalize_sql(),
        "url_dedup_domains": _url_dedup_domains_sql(),
        "url_quality_filter": _url_quality_filter_sql(),
        "pipeline_pages_gold": _pipeline_pages_gold_sql(),
        # the metrics/lineage plane, replayed per-expectation from the
        # same staged CTEs as the gold data path (run-scoped columns —
        # run_name, timestamps, duration — excluded from the compared
        # frame by the Spark-side projection)
        "pipeline_lineage_metrics": _pipeline_lineage_metrics_sql(),
        "pipeline_stage_attrition": _pipeline_stage_attrition_sql(),
        "corpus_domain_report": _corpus_domain_report_sql(),
        "pipeline_drop_audit": _pipeline_drop_audit_sql(),
    }
