"""Line-level deduplication across a corpus (CCNet-style).

Web text repeats whole lines endlessly — navigation bars, cookie
banners, footers — and line-level dedup is the first stage of CCNet
(Wenzek et al. 2020: paragraph-hash dedup across shards before LM
scoring).  Semantics here (a deterministic spec both engines replay):

- a document's text splits on ``\\n`` into positioned lines;
- lines shorter than ``min_len`` characters never participate in
  dedup (blank separators and one-word bullets survive everywhere);
- every other line keeps exactly ONE copy corpus-wide: the occurrence
  in the document with the MINIMUM id among documents containing that
  exact line (ties inside one doc keep every in-doc occurrence — the
  owner keeps its text intact);
- each document is re-assembled in original line order; documents that
  lose every line vanish from the output.

Spark-first shape (no window functions, no self-joins):

1. ``posexplode(split(text))`` — narrow;
2. owner aggregation ``groupBy(line_hash) → min(id)`` — ONE shuffle
   keyed on the 60-bit line hash, partial-aggregated map-side so hot
   boilerplate lines combine before the exchange;
3. stats join back on the hash (AQE handles the skewed build side;
   rows carry (id, pos, line) once);
4. re-assembly ``groupBy(id) → array_sort(collect(struct(pos, line)))``
   — the second and final shuffle, keyed on the document id.

At 100 TB the heavy operand is the exploded line table; both exchanges
carry each surviving line exactly once and the aggregation state per
key is 16 bytes.  The md5-derived 60-bit line hash is the same
oracle-replayable family as the dedup shingles
(:func:`greatex_spark.operators.minhash.md5_long`); a corpus of 10^12
lines has a ~3e-5 expected birthday collision count at 60 bits —
acceptable for boilerplate removal (and the spec hashes the raw line
bytes, so the DuckDB twin replays decisions exactly).

Reference scope: no line-level operator exists in the reference; this
extends the quality_filter tier (CCNet is the canonical web-text
pipeline the north_star describes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from greatex_spark.operators.minhash import md5_long, md5_long_sql

MIN_LEN = 30  # CCNet-ish: only lines of substance participate


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    min_len: int = MIN_LEN,
) -> DataFrame:
    """Corpus-wide line dedup per the module spec.  Output columns:
    ``id_col`` + ``text_col`` (re-assembled), one row per surviving
    document."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    hashed = lines.withColumn("__h", md5_long(F.col("__line"))).withColumn(
        "__dedupable", F.length("__line") >= F.lit(min_len)
    )
    stats = (
        hashed.where(F.col("__dedupable"))
        .groupBy("__h")
        .agg(F.min("__id").alias("__owner"))
    )
    survivors = (
        hashed.join(stats, "__h", "left")
        .where(~F.col("__dedupable") | (F.col("__owner") == F.col("__id")))
    )
    return (
        survivors.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(text_col)
        )
        .withColumnRenamed("__id", id_col)
    )


DF_THRESHOLD = 4  # a line in >=4 distinct docs is boilerplate


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    min_len: int = MIN_LEN,
    df_threshold: int = DF_THRESHOLD,
) -> DataFrame:
    """Document-frequency boilerplate removal — the OTHER half of
    CCNet-style line hygiene.  :func:`dedup_lines` keeps one owner copy
    of every repeated line; this operator removes EVERY copy of lines
    whose document frequency reaches ``df_threshold`` (nav bars, cookie
    banners, footers — text that is boilerplate *because* it repeats
    across documents, worthless even once).

    Output: ``id_col``, re-assembled ``text_col``, and
    ``n_boilerplate_removed`` (lines cut from that document).
    Documents that lose every line vanish.

    Spark shape — and why it beats the owner-rule plan at 100 TB:

    1. ``posexplode(split)`` — narrow;
    2. ``groupBy(line_hash) → count_distinct(doc)`` filtered to
       ``df >= threshold`` — ONE shuffle whose OUTPUT is only the hot
       set.  Boilerplate is by definition a tiny number of DISTINCT
       strings (each repeated millions of times), so the hot set is
       kilobytes even for a 10^12-line corpus;
    3. ``broadcast`` LEFT ANTI join of the exploded lines against the
       hot hashes — the corpus text never shuffles for the decision
       (``dedup_lines`` must join the FULL stats table back because
       every line has an owner; here only the hot set travels);
    4. re-assembly ``groupBy(doc)`` — the one unavoidable text shuffle.

    Hash-only membership is sound: the hot set only contains hashes of
    lines ``>= min_len``, and a line's length is a function of its
    bytes, so short lines can only collide at the 60-bit birthday rate.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), "\n")).alias("__n"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    hashed = lines.withColumn("__h", md5_long(F.col("__line"))).withColumn(
        "__dedupable", F.length("__line") >= F.lit(min_len)
    )
    hot = (
        hashed.where(F.col("__dedupable"))
        .groupBy("__h")
        .agg(F.count_distinct("__id").alias("__df"))
        .where(F.col("__df") >= F.lit(df_threshold))
        .select("__h")
    )
    survivors = hashed.join(F.broadcast(hot), "__h", "left_anti")
    return (
        survivors.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(text_col),
            (F.max("__n") - F.count(F.lit(1))).cast("int").alias(
                "n_boilerplate_removed"
            ),
        )
        .withColumnRenamed("__id", id_col)
    )


def remove_boilerplate_lines_duckdb_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "url",
    min_len: int = MIN_LEN,
    df_threshold: int = DF_THRESHOLD,
) -> str:
    """DuckDB twin of :func:`remove_boilerplate_lines` — same split,
    hash family, document-frequency rule, and the same max(pos)-count
    removed-line derivation."""
    return f"""
WITH __lines AS MATERIALIZED (
  SELECT {id_col} AS __id,
         len(string_split({text_col}, chr(10))) AS __n,
         unnest(string_split({text_col}, chr(10))) AS __line,
         unnest(range(0, len(string_split({text_col}, chr(10))))) AS __pos
  FROM {table}),
__hashed AS (
  SELECT __id, __n, __pos, __line, {md5_long_sql('__line')} AS __h,
         length(__line) >= {min_len} AS __dedupable
  FROM __lines),
__hot AS (
  SELECT __h FROM __hashed WHERE __dedupable
  GROUP BY __h HAVING count(DISTINCT __id) >= {df_threshold}),
__survivors AS (
  SELECT h.__id, h.__n, h.__pos, h.__line
  FROM __hashed h ANTI JOIN __hot t ON h.__h = t.__h)
SELECT __id AS {id_col},
       string_agg(__line, chr(10) ORDER BY __pos) AS {text_col},
       CAST(max(__n) - count(*) AS INT) AS n_boilerplate_removed
FROM __survivors GROUP BY __id
"""


def dedup_lines_duckdb_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "url",
    min_len: int = MIN_LEN,
) -> str:
    """DuckDB twin of :func:`dedup_lines` — same split, same hash
    family, same owner rule, ordered ``string_agg`` re-assembly."""
    return f"""
WITH __lines AS MATERIALIZED (
  SELECT {id_col} AS __id,
         unnest(string_split({text_col}, chr(10))) AS __line,
         unnest(range(0, len(string_split({text_col}, chr(10))))) AS __pos
  FROM {table}),
__hashed AS (
  SELECT __id, __pos, __line, {md5_long_sql('__line')} AS __h,
         length(__line) >= {min_len} AS __dedupable
  FROM __lines),
__stats AS (
  SELECT __h, min(__id) AS __owner
  FROM __hashed WHERE __dedupable GROUP BY __h),
__survivors AS (
  SELECT h.__id, h.__pos, h.__line
  FROM __hashed h LEFT JOIN __stats s ON h.__h = s.__h
  WHERE NOT h.__dedupable OR s.__owner = h.__id)
SELECT __id AS {id_col},
       string_agg(__line, chr(10) ORDER BY __pos) AS {text_col}
FROM __survivors GROUP BY __id
"""
