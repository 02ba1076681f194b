"""As-of join, binned range join, and the HLL distinct sketch.

Pins the ordering/boundary contracts the docstrings promise
(inclusive at-equal-ts match, max-tiebreak ties, half-open interval
containment, duplicate-insensitive registers) plus the plan shapes
that make them scale (no join node in as-of; broadcast hash join in
the binned range join)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, 10, _ts("2024-01-01 10:00:00")),
                (2, 10, _ts("2024-01-01 12:00:00")),
                (3, 10, _ts("2024-01-01 09:00:00")),  # before any right row
                (4, 20, _ts("2024-01-01 10:30:00")),
            ],
            "event_id long, user_id long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (100, 10, _ts("2024-01-01 09:30:00")),
                (101, 10, _ts("2024-01-01 12:00:00")),  # equal-ts: must match l2
                (102, 10, _ts("2024-01-01 12:00:00")),  # tie: max id wins
                (103, 20, _ts("2024-01-01 10:30:00")),
            ],
            "event_id long, user_id long, ts timestamp",
        )
        return left, right

    def test_semantics_pinned(self, spark):
        from greatex_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        got = {
            r.event_id: r.m_event_id
            for r in asof_join(
                left, right, on="user_id", right_payload=("event_id",), prefix="m_"
            ).collect()
        }
        assert got == {
            1: 100,  # strictly-before match
            2: 102,  # inclusive at equal ts, tie broken to max id
            3: None,  # no prior right row
            4: 103,  # equal ts on another key
        }

    def test_tolerance_nulls_stale_matches(self, spark):
        from greatex_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        got = {
            r.event_id: r.m_event_id
            for r in asof_join(
                left,
                right,
                on="user_id",
                right_payload=("event_id",),
                prefix="m_",
                tolerance_seconds=1800,
            ).collect()
        }
        # event 1 is 30 min after click 100 (kept, boundary-inclusive);
        # events 2/4 match at age 0; event 3 stays unmatched
        assert got == {1: 100, 2: 102, 3: None, 4: 103}

    def test_no_join_node_in_plan(self, spark):
        """The union-merge formulation must plan as exchange + window,
        never a join operator (the naive theta join would be
        BroadcastNestedLoop)."""
        from greatex_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        plan = asof_join(
            left, right, on="user_id", right_payload=("event_id",)
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Window" in plan

    def test_matches_oracle_on_fixture(self, spark, sf_dir):
        import duckdb

        from greatex_spark.operators.asof import asof_join, asof_join_duckdb_sql

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        got = {
            r.event_id: r.m_event_id
            for r in asof_join(
                ev.where("event_type = 'purchase'").select("event_id", "user_id", "ts"),
                ev.where("event_type = 'view'"),
                on="user_id",
                right_payload=("event_id",),
                prefix="m_",
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        sql = asof_join_duckdb_sql(
            "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')",
            "(SELECT * FROM events WHERE event_type = 'view')",
            on="user_id",
            left_cols=("event_id", "user_id", "ts"),
            right_payload=("event_id",),
            prefix="m_",
        )
        want = {
            r[0]: r[1]
            for r in con.sql(f"SELECT event_id, m_event_id FROM ({sql})").fetchall()
        }
        assert got == want and len(got) > 100


class TestRangeJoin:
    def _frames(self, spark):
        points = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 10:00:00")),  # == start: IN
                (2, _ts("2024-01-01 10:59:59")),  # inside
                (3, _ts("2024-01-01 11:00:00")),  # == end: OUT (half-open)
                (4, _ts("2024-01-01 09:59:59")),  # before
            ],
            "event_id long, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [(7, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"))],
            "iv_id long, start timestamp, end timestamp",
        )
        return points, intervals

    def test_half_open_containment(self, spark):
        from greatex_spark.operators.rangejoin import range_join

        points, intervals = self._frames(spark)
        got = {
            r.event_id
            for r in range_join(points, intervals, bin_seconds=600).collect()
        }
        assert got == {1, 2}

    def test_multi_bin_interval_no_duplicates(self, spark):
        """An interval spanning many bins must still pair each point
        exactly once (the point's single bin is the meeting place)."""
        from greatex_spark.operators.rangejoin import range_join

        points, intervals = self._frames(spark)
        rows = range_join(points, intervals, bin_seconds=60).collect()
        assert sorted(r.event_id for r in rows) == [1, 2]

    def test_plan_is_broadcast_hash_join(self, spark):
        from greatex_spark.operators.rangejoin import range_join

        points, intervals = self._frames(spark)
        plan = (
            range_join(points, intervals, bin_seconds=600)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan

    def test_bins_are_long_integer_division(self, spark):
        """Bin ids are ``floor(epoch_us / W)`` on longs, as documented:
        no DOUBLE quotient, which rounds near the end of the timestamp
        range (9999-12-31 23:59:59.999999 at W = 1 s lands one bin
        high)."""
        from greatex_spark.operators.rangejoin import range_join

        points, intervals = self._frames(spark)
        plan = (
            range_join(points, intervals, bin_seconds=1)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "double" not in plan.lower(), plan

    def test_empty_and_inverted_intervals_are_dropped(self, spark):
        """``end <= start`` contains no point.  An inverted interval
        must not explode to a descending bin run as long as its span
        (124 years at W = 1 s is past Spark's array size limit)."""
        from greatex_spark.operators.rangejoin import range_join

        points, intervals = self._frames(spark)
        degenerate = spark.createDataFrame(
            [
                (8, _ts("2024-01-01 10:30:00"), _ts("2024-01-01 10:30:00")),
                (9, _ts("2024-01-01 11:00:00"), _ts("1900-01-01 00:00:00")),
            ],
            "iv_id long, start timestamp, end timestamp",
        )
        rows = range_join(
            points, intervals.unionByName(degenerate), bin_seconds=1
        ).collect()
        assert sorted((r.event_id, r.iv_id) for r in rows) == [(1, 7), (2, 7)]


class TestCmsHeavyHitters:
    def _items(self, spark):
        # 3 heavy items (>=50) in a sea of 2000 singletons
        heavy = [(f"hot-{i}",) for i in range(3) for _ in range(50 + i)]
        light = [(f"cold-{i}",) for i in range(2000)]
        return spark.createDataFrame(heavy + light, "item string")

    def test_superset_guarantee_and_exactness(self, spark):
        """CMS never underestimates: every true >=T item must appear,
        and with w >> vocab the estimates are exactly the true counts
        (wide sketch via the Arrow hot path — the literal-array spec
        plan pays Catalyst cost per element at w=64k)."""
        from greatex_spark.operators.cms import cms_heavy_hitters_arrow

        got = {
            r.item: r.est_count
            for r in cms_heavy_hitters_arrow(
                self._items(spark), "item", threshold=50, w=65536
            ).collect()
        }
        assert {"hot-0", "hot-1", "hot-2"} <= set(got)
        for i in range(3):
            assert got[f"hot-{i}"] >= 50 + i  # overestimate-only

    def test_arrow_path_matches_spec_exactly(self, spark):
        from greatex_spark.operators.cms import (
            cms_heavy_hitters,
            cms_heavy_hitters_arrow,
        )

        items = self._items(spark)
        spec = {
            (r.item, r.est_count)
            for r in cms_heavy_hitters(items, "item", threshold=50).collect()
        }
        arrow = {
            (r.item, r.est_count)
            for r in cms_heavy_hitters_arrow(items, "item", threshold=50).collect()
        }
        assert spec == arrow and len(spec) >= 3

    def test_arrow_path_keeps_long_item_type(self, spark):
        """A ``long`` item column comes back as ``long``, with the spec
        path's exact (item, estimate) pairs."""
        from pyspark.sql import types as T

        from greatex_spark.operators.cms import (
            cms_heavy_hitters,
            cms_heavy_hitters_arrow,
        )

        heavy = [(1000 + i,) for i in range(3) for _ in range(50 + i)]
        light = [(i,) for i in range(2000)]
        items = spark.createDataFrame(heavy + light, "item long")
        out = cms_heavy_hitters_arrow(items, "item", threshold=50)
        assert out.schema["item"].dataType == T.LongType()
        spec = {
            (r.item, r.est_count)
            for r in cms_heavy_hitters(items, "item", threshold=50).collect()
        }
        arrow = {(r.item, r.est_count) for r in out.collect()}
        assert spec == arrow and {1000, 1001, 1002} <= {i for i, _ in spec}

    def test_matches_duckdb_bit_for_bit(self, spark, sf_dir):
        import duckdb

        from greatex_spark.operators.cms import (
            cms_heavy_hitters,
            cms_heavy_hitters_duckdb_sql,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        items = docs.select(F.lower(F.col("source")).alias("item"))
        got = {
            (r.item, r.est_count)
            for r in cms_heavy_hitters(items, "item", threshold=5).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        sql = cms_heavy_hitters_duckdb_sql(
            "SELECT lower(source) AS item FROM documents", "item", threshold=5
        )
        want = set(map(tuple, con.sql(sql).fetchall()))
        assert got == want and len(got) >= 5


class TestHllSketch:
    def test_estimate_within_error_band(self, spark):
        """m=256 registers → relative standard error ~6.5%; assert a
        3-sigma band against the exact distinct count."""
        from greatex_spark.operators.sketch import hll_distinct

        n = 20_000
        df = spark.range(n).select(
            F.lit("g").alias("g"), F.concat(F.lit("item-"), F.col("id")).alias("v")
        )
        est = hll_distinct(df, "v", "g").collect()[0]
        assert abs(est.hll_distinct - n) / n < 0.20
        assert est.registers_used == 256

    def test_duplicates_free(self, spark):
        """Registers absorb repeats: the sketch of df ∪ df equals the
        sketch of df exactly."""
        from greatex_spark.operators.sketch import hll_distinct

        df = spark.range(5_000).select(
            F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
        )
        one = hll_distinct(df, "v", "g").collect()[0]
        two = hll_distinct(df.unionAll(df), "v", "g").collect()[0]
        assert one.hll_distinct == two.hll_distinct
        assert one.registers_used == two.registers_used

    def test_ngram_hll_matches_duckdb_bit_for_bit(self, spark, sf_dir):
        import duckdb

        from greatex_spark.operators.sketch import ngram_hll, ngram_hll_duckdb_sql

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = {
            r.source: (r.registers_used, r.hll_distinct)
            for r in ngram_hll(docs).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = {r[0]: (r[1], r[2]) for r in con.sql(ngram_hll_duckdb_sql()).fetchall()}
        assert got == want and len(got) >= 5
