"""Round-5 additions: Luhn-validated card scrub, URL quality scoring,
duplicate-cluster stats, Unicode normalization.

Each operator is tested three ways where applicable: Spark vs the
CPython reference implementation (byte equality), Spark vs the DuckDB
oracle twin (the driver harness's comparison), and semantic edge cases
(checksum rejects, substring false positives, NULL propagation).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

CC_SAMPLES = [
    "pay 4111 1111 1111 1111 now",                     # valid visa
    "fake 1234-5678-9012-3456 num",                    # luhn-invalid
    "amex 378282246310005 ok",                         # valid, 15 digits
    "order 12345678901234567890 too long",             # 20 digits -> rejected whole
    "two 4111 1111 1111 1111 and 5500 0000 0000 0004", # both valid
    "short 4111 1111 11 end",                          # run too short
    None,
    "",
    "ts 2026-08-19 10:11:12 ip 1.2.3.4",               # date-ish runs
    "edge 4111-1111 1111-1111tail4111111111111111",    # adjacent matches
]


class TestCreditCardScrub:
    def test_three_way_byte_equality(self, spark):
        from greatex_spark.functions.pii import (
            scrub_credit_cards,
            scrub_credit_cards_duckdb_sql,
            scrub_credit_cards_py,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CC_SAMPLES)], "id int, text string"
        )
        got_spark = {
            r.id: r.s
            for r in df.select("id", scrub_credit_cards("text").alias("s")).collect()
        }
        con = duckdb.connect()
        sql = scrub_credit_cards_duckdb_sql("text")
        for i, t in enumerate(CC_SAMPLES):
            want = scrub_credit_cards_py(t)
            got_duck = con.execute(
                f"SELECT {sql} FROM (SELECT ?::VARCHAR AS text)", [t]
            ).fetchone()[0]
            assert got_spark[i] == want, (i, t)
            assert got_duck == want, (i, t)

    def test_luhn_semantics(self):
        from greatex_spark.functions.pii import scrub_credit_cards_py

        # valid numbers replaced
        assert scrub_credit_cards_py("4111111111111111") == "<CC>"
        assert scrub_credit_cards_py("5500-0000-0000-0004") == "<CC>"
        # one digit off -> kept verbatim
        assert scrub_credit_cards_py("4111111111111112") == "4111111111111112"
        # 12 digits (below the card range) untouched even if luhn-valid
        assert scrub_credit_cards_py("411111111111") == "411111111111"

    def test_main_chain_unchanged(self):
        # CC scrubbing is opt-in: the pinned 4-class chain must not move
        from greatex_spark.functions.pii import PII_PATTERNS

        assert [n for n, _, _ in PII_PATTERNS] == ["email", "ssn", "ipv4", "phone"]


class TestUrlQualityScore:
    def test_scores_and_filter(self, spark):
        from greatex_spark.operators.urls import (
            filter_urls_by_quality,
            url_quality_score,
            url_quality_score_sql,
        )

        rows = [
            ("https://example.com/news", 0.0),
            ("https://example.com/porn/xxx", 4.0),       # 2.0 + 2.0
            ("https://sexton.example.org/a", 1.0),       # substring FP, documented
            ("https://example.com/bet", 0.5),
            ("https://example.com/casino/poker", 2.0),
            ("https://example.com/xxxxxx", 4.0),         # replace-trick: 2 non-overlapping 'xxx'
        ]
        df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
        got = {
            r.url: r.s
            for r in df.select("url", url_quality_score("url").alias("s")).collect()
        }
        con = duckdb.connect()
        sql = url_quality_score_sql("url")
        for u, _ in rows:
            duck = con.execute(
                f"SELECT {sql} FROM (SELECT ?::VARCHAR AS url)", [u]
            ).fetchone()[0]
            assert got[u] == pytest.approx(duck), u
        # exact expectations for the non-overlap cases
        assert got["https://example.com/news"] == 0.0
        assert got["https://example.com/porn/xxx"] == 4.0
        assert got["https://sexton.example.org/a"] == 1.0
        assert got["https://example.com/bet"] == 0.5
        assert got["https://example.com/casino/poker"] == 2.0

        kept = filter_urls_by_quality(
            df, "url", threshold=1.0, blocklist=["example.org"]
        )
        assert sorted(r.url for r in kept.collect()) == [
            "https://example.com/bet",
            "https://example.com/news",
        ]

    def test_projection_only_plan(self, spark):
        from greatex_spark.operators.urls import filter_urls_by_quality

        df = spark.range(10).select(
            F.concat(F.lit("https://example.com/p"), F.col("id")).alias("url")
        )
        plan = filter_urls_by_quality(df, "url")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # pure filter+projection, no shuffle


class TestDedupClusterStats:
    def test_histogram_invariants(self, spark):
        from greatex_spark.operators.cluster import duplicate_clusters

        texts = {
            1: "alpha beta gamma delta epsilon zeta eta theta",
            2: "alpha beta gamma delta epsilon zeta eta iota",   # near-dup of 1
            3: "alpha beta gamma delta epsilon zeta eta theta",  # dup of 1
            4: "completely different words entirely unrelated content here now",
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        clusters = duplicate_clusters(
            df, "text", "doc_id", n=3, threshold=0.5
        )
        stats = (
            clusters.groupBy("cluster_size")
            .agg(
                F.countDistinct("cluster_id").alias("n_clusters"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .collect()
        )
        by_size = {r.cluster_size: r for r in stats}
        # docs 1+3 are byte-identical and doc 2 is a genuine near-dup
        # of 1 (3-shingle Jaccard 5/7 ≈ 0.71 > threshold 0.5), so all
        # three land in one size-3 cluster; doc 4 stays a singleton.
        # (Before the two-round permutation fix the biased md5-family
        # estimator suppressed the 1–2 edge — the old expectation here
        # encoded that defect.)
        assert by_size[3].n_clusters == 1 and by_size[3].n_docs == 3
        assert by_size[1].n_clusters == 1 and by_size[1].n_docs == 1
        # doc mass conservation
        assert sum(r.n_docs for r in stats) == len(texts)


NORM_SAMPLES = [
    "plain ascii",
    "crlf\r\nand cr\rlines",
    "nfd café and angstrom Å",
    "ring Åb multi ẛ̣ mark",
    "bell\x07 null\x00 del\x7f kept\ttab",
    "para\n\n\n\n\nbreak",
    "",
    None,
]


class TestNormalizeText:
    def test_three_way_byte_equality(self, spark):
        from greatex_spark.functions.normalize import (
            normalize_text,
            normalize_text_duckdb_sql,
            normalize_text_py,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(NORM_SAMPLES)], "id int, text string"
        )
        got_spark = {
            r.id: r.s
            for r in df.select("id", normalize_text("text").alias("s")).collect()
        }
        con = duckdb.connect()
        sql = normalize_text_duckdb_sql("text")
        for i, t in enumerate(NORM_SAMPLES):
            want = normalize_text_py(t)
            got_duck = con.execute(
                f"SELECT {sql} FROM (SELECT ?::VARCHAR AS text)", [t]
            ).fetchone()[0]
            assert got_spark[i] == want, (i, t)
            assert got_duck == want, (i, t)

    def test_rules(self):
        from greatex_spark.functions.normalize import normalize_text_py

        assert normalize_text_py("a\r\nb\rc") == "a\nb\nc"
        assert normalize_text_py("a\n\n\n\nb") == "a\n\nb"
        assert normalize_text_py("x\x07y\tz") == "xy\tz"  # \t survives
        assert normalize_text_py("café") == "café"
        # idempotent
        s = "mixed\r\ncafé\x00\n\n\n\nend"
        once = normalize_text_py(s)
        assert normalize_text_py(once) == once


class TestCorpusDomainReport:
    def test_invariants_and_single_agg(self, spark):
        import __spark_entry__ as entry

        df = entry.corpus_domain_report(spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert rows, "fixture has at least one domain"
        for r in rows:
            assert 0 <= r.kept_pages <= r.pages
            assert 0.0 <= r.keep_rate_pct <= 100.0
            assert r.kept_tokens <= r.total_tokens
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one hash aggregation keyed on domain: no window, no sort
        assert "Window" not in plan
        assert "Sort" not in plan


class TestFixMojibake:
    def _samples(self):
        # corrupt by the exact physical process the operator repairs:
        # utf-8 bytes of clean text read back as cp1252
        cleans = [
            "plain ascii unchanged",
            "‘quoted’ — dash … ellipsis",
            "café naïve ñoño Über",
            "100€ §2 ™ • bullet",
            "",
        ]
        out = [(c.encode("utf-8").decode("cp1252"), c) for c in cleans]
        out.append((None, None))
        return out

    def test_three_way_byte_equality(self, spark):
        from greatex_spark.functions.normalize import (
            fix_mojibake,
            fix_mojibake_duckdb_sql,
            fix_mojibake_py,
        )

        samples = self._samples()
        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(samples)], "id int, text string"
        )
        got_spark = {
            r.id: r.s
            for r in df.select("id", fix_mojibake("text").alias("s")).collect()
        }
        con = duckdb.connect()
        sql = fix_mojibake_duckdb_sql("text")
        for i, (dirty, clean) in enumerate(samples):
            want = fix_mojibake_py(dirty)
            assert want == clean, (i, dirty)  # the repair actually repairs
            got_duck = con.execute(
                f"SELECT {sql} FROM (SELECT ?::VARCHAR AS text)", [dirty]
            ).fetchone()[0]
            assert got_spark[i] == want, (i, dirty)
            assert got_duck == want, (i, dirty)

    def test_pair_table_shape(self):
        from greatex_spark.functions.normalize import MOJIBAKE_PAIRS

        # longest-first ordering (3-char corruptions before their
        # 2-char prefixes), injective, no self-maps
        lens = [len(m) for m, _ in MOJIBAKE_PAIRS]
        assert lens == sorted(lens, reverse=True)
        assert len({m for m, _ in MOJIBAKE_PAIRS}) == len(MOJIBAKE_PAIRS)
        assert all(m != ch for m, ch in MOJIBAKE_PAIRS)
