"""Count-min sketch heavy hitters, oracle-replayable.

The frequency twin of the HLL sketch (`operators/sketch.py`): "which
items occur at least T times in the corpus" without a full
GROUP BY item — the exact wordcount shuffles every distinct item;
at 10^12 documents the token vocabulary alone is billions of keys.

The sketch (Cormode & Muthukrishnan 2005): ``d`` hash rows × ``w``
counters.  ``est(item) = min_j counter[j][h_j(item)]`` — an
OVERESTIMATE always (collisions only add), never an underestimate, so
``est >= T`` yields a SUPERSET of the true heavy hitters: no false
negatives by construction, false positives bounded by e·N/w per row.

Distributed shape (the part that matters at 100 TB):

1. ONE pass builds the sketch — ``posexplode`` to ``d`` (row, bucket)
   keys per item, then a bounded ``groupBy(row, bucket).count()``:
   map-side partial aggregation compresses every partition to ≤ d·w
   rows before the exchange, so the shuffle carries kilobytes no
   matter the input size.
2. The d·w integer table is collected (d=4, w=4096 → 16k longs,
   driver-bounded) and folded back as
   LITERAL arrays: the estimate is ``least(array[j][bucket_j])`` — a
   map-side projection, zero joins.
3. Only rows passing ``est >= T`` reach the ``distinct`` — the
   distinct shuffle carries the tiny survivor superset, not the
   vocabulary.

Exactness of the sketch itself: counters are integer sums of
md5-derived bucket assignments — the DuckDB twin recomputes the
identical table and the identical minima, so heavy-hitter output
hash-matches cross-engine (no float anywhere).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from greatex_spark.operators.dedup import md5_long, md5_long_sql


def _bucket(item: Column, j: int, w: int) -> Column:
    """Row-``j`` bucket: md5 of the salted item, mod ``w``."""
    return md5_long(F.concat(F.lit(f"cms{j}:"), item)) % w


def _bucket_sql(expr: str, j: int, w: int) -> str:
    salted = f"'cms{j}:' || {expr}"
    return f"({md5_long_sql(salted)}) % {w}"


def cms_sketch(
    items: DataFrame, item_col: str, d: int = 4, w: int = 4096
) -> list[list[int]]:
    """The ``d × w`` counter table, built in one bounded aggregation
    and collected (≤ d·w longs on the driver)."""
    pairs = items.select(
        F.posexplode(
            F.array(*[_bucket(F.col(item_col), j, w) for j in range(d)])
        ).alias("__row", "__bucket")
    )
    counts = pairs.groupBy("__row", "__bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    table = [[0] * w for _ in range(d)]
    for r in counts.collect():  # Row.__getattr__ blocks dunder names
        table[r["__row"]][r["__bucket"]] = r["__n"]
    return table


def cms_heavy_hitters(
    items: DataFrame,
    item_col: str,
    threshold: int,
    d: int = 4,
    w: int = 4096,
) -> DataFrame:
    """Items with ``est >= threshold`` → ``(item_col, est_count)``.
    Superset guarantee: every true >=threshold item appears (CMS never
    underestimates); est_count is the deterministic sketch minimum."""
    table = cms_sketch(items, item_col, d=d, w=w)
    arrays = [F.lit(row) for row in table]
    est = F.least(
        *[
            F.element_at(arrays[j], (_bucket(F.col(item_col), j, w) + 1).cast("int"))
            for j in range(d)
        ]
    )
    return (
        items.select(F.col(item_col), est.cast("long").alias("est_count"))
        .where(F.col("est_count") >= threshold)
        .distinct()
    )


def cms_heavy_hitters_arrow(
    items: DataFrame,
    item_col: str,
    threshold: int,
    d: int = 4,
    w: int = 4096,
) -> DataFrame:
    """Hot-path twin of :func:`cms_heavy_hitters` for WIDE sketches:
    the literal-array plan cost grows with ``w`` (measured 26 s at
    w=16k, 105 s at w=64k on a 2k-item frame — Catalyst pays per
    literal element), so here the buckets stay JVM-computed md5 exprs
    and the ``d × w`` counter table rides a ~``8·d·w``-byte closure
    into one Arrow-vectorized ``mapInPandas`` gather
    (``np.minimum.reduce`` over row gathers).  Same integer counters,
    same minima — pytest pins set-equality with the spec path."""
    import pandas as pd

    table = np.asarray(cms_sketch(items, item_col, d=d, w=w), dtype=np.int64)

    with_buckets = items.select(
        F.col(item_col),
        *[_bucket(F.col(item_col), j, w).alias(f"b{j}") for j in range(d)],
    )

    def est_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            est = np.minimum.reduce(
                [table[j][pdf[f"b{j}"].to_numpy()] for j in range(d)]
            )
            keep = est >= threshold
            yield pd.DataFrame(
                {item_col: pdf[item_col].to_numpy()[keep], "est_count": est[keep]}
            )

    out_schema = T.StructType(
        [items.schema[item_col], T.StructField("est_count", T.LongType())]
    )
    return with_buckets.mapInPandas(est_batches, out_schema).distinct()


def cms_heavy_hitters_duckdb_sql(
    items_select: str,
    item_col: str,
    threshold: int,
    d: int = 4,
    w: int = 4096,
) -> str:
    """Oracle twin: the identical counter table and minima as CTEs
    (``items_select`` must yield a single column named ``item_col``)."""
    unions = "\nUNION ALL\n".join(
        f"SELECT {j} AS __row, {_bucket_sql(item_col, j, w)} AS __bucket "
        f"FROM __items"
        for j in range(d)
    )
    est_terms = ", ".join(
        f"(SELECT __n FROM __sketch s WHERE s.__row = {j} "
        f"AND s.__bucket = {_bucket_sql(f'i.{item_col}', j, w)})"
        for j in range(d)
    )
    return f"""
WITH __items AS ({items_select}),
__sketch AS (
  SELECT __row, __bucket, CAST(count(*) AS BIGINT) AS __n
  FROM ({unions}) GROUP BY __row, __bucket
)
SELECT DISTINCT i.{item_col}, least({est_terms}) AS est_count
FROM __items i
WHERE least({est_terms}) >= {threshold}
"""
