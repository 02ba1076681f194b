"""The Arrow page-signals kernel must agree with the native Column spec
feature-by-feature on every planted fixture class and on edge cases,
including Java's line-terminator rule for ``$``."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from greatex_spark.functions.heuristics import FEATURE_NAMES, quality_struct
from greatex_spark.functions.heuristics_arrow import quality_struct_arrow
from greatex_spark.pages import generate_pages


def test_arrow_matches_native_on_fixtures(spark):
    pages = generate_pages(spark, 400, seed=11).localCheckpoint()
    native = pages.select("url", quality_struct(F.col("text")).alias("q"))
    arrow = pages.select("url", quality_struct_arrow(F.col("text")).alias("q"))
    j = native.alias("n").join(arrow.alias("a"), "url").collect()
    assert len(j) == 400
    for row in j:
        for f in FEATURE_NAMES:
            nv, av = row["q"][f], row[2][f]
            if isinstance(nv, float):
                assert math.isclose(nv, av, rel_tol=0, abs_tol=1e-12), (row["url"], f, nv, av)
            else:
                assert nv == av, (row["url"], f, nv, av)


def test_page_signals_match_native_langid_and_bpe(spark):
    from greatex_spark.functions.heuristics_arrow import page_signals_arrow
    from greatex_spark.functions.textstats import bpe_token_count, detect_lang

    pages = generate_pages(spark, 400, seed=13).localCheckpoint()
    native = pages.select(
        "url",
        detect_lang("text").alias("lang_pred"),
        bpe_token_count("text").alias("n_bpe"),
    )
    arrow = pages.select("url", page_signals_arrow(F.col("text")).alias("s"))
    j = native.alias("n").join(arrow.alias("a"), "url").collect()
    assert len(j) == 400
    for row in j:
        assert row["lang_pred"] == row["s"]["lang_pred"], row["url"]
        assert row["n_bpe"] == row["s"]["n_bpe_tokens"], row["url"]


def test_arrow_matches_native_edge_cases(spark):
    texts = [
        "",
        " ",
        "one",
        "a b",
        "...",
        "- bullet\n- bullet\n* star\n1. numbered\n2) also",
        "ends with dots...\nand more…\nplain line",
        'He said "stop."',
        "x { y } javascript lorem ipsum",
        "the the the the the the",
        "word with nbsp",
        "tab\tseparated\twords here",
        "trailing spaces   ",
        "### ### ### hash heavy",
        # tab-led / control-char padded lines: Spark F.trim strips ONLY
        # spaces, so the bullet regex must still see the leading tab and
        # the terminal-punct rule the trailing tab
        "\t- tab-led bullet\n\t* another\n  - space-led bullet",
        "ends with tab then period.\t",
        "line ends in dots...\t\nreal terminal.",
        "\x0b vertical tab lead\n- bullet",
        # Java's $ also matches before a final \r, \r\n, \n, \u0085,
        # \u2028 or \u2029: CRLF and NEL line ends count as line ends
        "dots...\r\nnext line",
        "Done.\r\n",
        "wait...\x85",
        "Done.\n",
        "two ends.\n\n",
        "para end…\u2028",
        "crlf twice...\r\r",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    native = df.select("i", quality_struct(F.col("text")).alias("q"))
    arrow = df.select("i", quality_struct_arrow(F.col("text")).alias("q"))
    j = native.alias("n").join(arrow.alias("a"), "i").orderBy("i").collect()
    for row in j:
        for f in FEATURE_NAMES:
            nv, av = row[1][f], row[2][f]
            if isinstance(nv, float):
                assert math.isclose(nv, av, rel_tol=0, abs_tol=1e-12), (row["i"], f, nv, av)
            else:
                assert nv == av, (row["i"], f, nv, av)


# 52 distinct words plus stopwords: passes every keep rule except the
# ellipsis-line one, which flips on how the line terminator is read
_NATO = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()
_PROSE = [" ".join(_NATO[:13]) + " and the", " ".join(_NATO[13:]) + " of the",
          " ".join(w + "s" for w in _NATO) + " with that."]


def test_native_and_duckdb_keep_agree_on_line_terminators(spark):
    """``ellipsis_line_fraction`` is part of ``keep_quality``: a CRLF or
    NEL page whose lines end in dots must be an ellipsis-heavy drop in
    the DuckDB twin exactly as in the native spec."""
    import duckdb

    from greatex_spark.functions.heuristics import (
        gopher_keep_condition,
        gopher_keep_duckdb_sql,
    )

    texts = [
        "\n".join(_PROSE),  # control: kept by both
        "...\r\n".join(_PROSE[:2]) + "...\r\n" + _PROSE[2],
        "…\x85\n".join(_PROSE[:2]) + "…\x85\n" + _PROSE[2],
        "...\u2028\n".join(_PROSE[:2]) + "...\u2028\n" + _PROSE[2],
        "...\n".join(_PROSE[:2]) + "...\n" + _PROSE[2],
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    native = [r.k for r in df.orderBy("i").select(gopher_keep_condition().alias("k")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    duck = [r[0] for r in con.execute(f"SELECT {gopher_keep_duckdb_sql('text')} FROM t ORDER BY i").fetchall()]
    assert native == [True, False, False, False, False]
    assert duck == native
