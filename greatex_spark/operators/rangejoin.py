"""Range (interval) join: points × intervals containment, binned.

The missing-in-Spark interval join: pair every point with every
interval that contains it (``start <= ts < end``).  Naively this is a
theta join — Spark plans it as BroadcastNestedLoopJoin, O(|P|·|I|)
compared pairs, which is exactly the plan that dies first at scale.

Reference scope: GreatEx's checkpoints validate batches falling inside
a time window of the data asset (`great_expectations/checkpoints/*`
batch windows); the range join is that containment test as a bulk
relational operator — events into alert/maintenance windows, documents
into crawl epochs, log lines into deploy intervals.

HOW, Spark-first — the classic binned equi-join rewrite (the same
strategy Databricks' range-join optimization and PostGIS tiling use,
built from public primitives):

1. pick a bin width ``W``; a point belongs to exactly ONE bin
   (``floor(epoch_us(ts) / W)`` — integer micros arithmetic, no float);
2. an interval EXPLODES to every bin it overlaps —
   ``sequence(bin(start), bin(end − 1µs))``, i.e. ⌈len/W⌉ + 1 rows at
   most, bounded because intervals are bounded;
3. equi-join on the bin, then the EXACT containment filter.

An interval with ``end <= start`` contains no point; such rows (and
rows with a NULL bound) are dropped before step 2, where an inverted
interval would otherwise explode to a descending bin run as long as
its span.

Each (point, interval) pair meets in exactly one bin (the point's), so
the join produces no duplicates — no ``distinct`` repair pass.  Cost:
one shuffle keyed by bin (or none, when the exploded interval side
broadcasts), |P| + |I|·⌈len/W⌉ rows in, true-pair count out.  Pick
``W`` near the typical interval length: ~2 exploded rows per interval
and bin populations stay uniform (time-uniform points ⇒ no skew;
diurnal spikes land across many bins).

Oracle: the plain ``BETWEEN`` theta join DuckDB runs natively
(:func:`range_join_duckdb_sql` — its IEJoin handles the quadratic
form fine at oracle scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _micros(df: DataFrame, col: str) -> Column:
    """Epoch micros of a timestamp column.  ``unix_micros`` rejects
    TIMESTAMP_NTZ; the session pins ``spark.sql.session.timeZone`` to
    UTC (`session.py`), so the NTZ→TIMESTAMP cast reads the naive
    value as UTC — the same convention DuckDB's ``epoch_us`` applies
    to naive timestamps."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        c = c.cast("timestamp")
    return F.unix_micros(c)


def _bin(micros: Column, bin_us: int) -> Column:
    """``floor(micros / bin_us)`` in long arithmetic.  Subtracting the
    non-negative ``pmod`` remainder leaves an exact multiple, so the
    truncating ``div`` floors negative (pre-1970) micros too; a DOUBLE
    quotient would round near the end of the timestamp range."""
    w = F.lit(bin_us)
    return F.call_function("div", micros - F.pmod(micros, w), w)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bin_seconds: int = 3600,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """All (point, interval) pairs with ``start <= point_ts < end``
    (half-open), as the join of both inputs' columns.  Column names
    must not collide (callers rename first).

    ``broadcast_intervals=True`` (the common shape — intervals are the
    small side: alerts, deploys, epochs) makes the equi-join a
    BroadcastHashJoin: the point table is never shuffled at all.
    Intervals with ``end <= start`` are dropped: they contain no point."""
    bin_us = bin_seconds * 1_000_000
    ivb = intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _bin(_micros(intervals, start_col), bin_us),
                _bin(_micros(intervals, end_col) - 1, bin_us),
            )
        ),
    )
    if broadcast_intervals:
        ivb = F.broadcast(ivb)
    pts = points.withColumn("__bin", _bin(_micros(points, point_ts), bin_us))
    return (
        pts.join(ivb, on="__bin")
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("__bin")
    )


def range_join_duckdb_sql(
    points_expr: str,
    intervals_expr: str,
    select: str,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    where: str | None = None,
    group_by: str | None = None,
) -> str:
    """Oracle twin of :func:`range_join`: the direct theta join
    (``__p`` aliases points, ``__i`` intervals in ``select`` /
    ``where`` / ``group_by`` fragments)."""
    tail = f" AND ({where})" if where else ""
    grp = f"\nGROUP BY {group_by}" if group_by else ""
    return f"""
SELECT {select}
FROM {points_expr} __p, {intervals_expr} __i
WHERE __p.{point_ts} >= __i.{start_col} AND __p.{point_ts} < __i.{end_col}{tail}{grp}
"""
