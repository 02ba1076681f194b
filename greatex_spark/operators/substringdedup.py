"""ExactSubstr-style duplicated-substring detection (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better").

Lee et al. build a suffix array over the whole corpus and mark every
>=50-token substring that occurs twice — a single-node, memory-bound
design.  The Spark-native recast is shingle fingerprinting: every
k-token window becomes a 62-bit polynomial hash composed from per-word
hashes (the same overflow-safe composition as the MinHash family,
``operators/minhash.py``); a window whose hash occurs more than once in
the corpus marks its k tokens as duplicated; per document, the union of
marked windows gives the duplicated-token count and fraction — the
gate signal (Lee et al. drop or trim documents dominated by repeated
substrings; a suite rule ``dup_token_fraction <= x`` expresses that
declaratively here).

Two operators share the windowed front half:

- :func:`substring_dup_stats` — per-document duplicated-token count
  and fraction (the gate signal; a suite rule
  ``dup_token_fraction <= x`` expresses Lee et al.'s drop rule
  declaratively);
- :func:`trim_duplicate_substrings` — the rewrite half: cut every
  duplicated-window occurrence except the corpus-canonical one
  (lexicographic min of (doc_id, pos)) and rebuild the text from
  surviving tokens.

Scale shape (the part the suffix array cannot do):

- occurrences shuffle as ``(doc_id, pos, hash)`` triples — token
  strings never leave their scan;
- the duplicate decision is ONE groupBy(hash).count() — fully
  map-side combinable, no collected lists, hot shingles stream
  through the partial count;
- the span union is a per-document window over positions (narrow:
  partitioned by doc_id), contribution ``min(k, next_pos - pos)`` —
  no per-doc collected arrays;
- everything is replayed by the DuckDB twin for the md5 spec family;
  ``family="xxhash64"`` swaps GC-light JVM hashing for production
  (window hashes become one native ``xxhash64(*word_hashes)`` call;
  measured 3× on a 400k-page corpus, BASELINE.md).

Reference lineage: generalizes the staged validation pipeline's
repetition gates (SURVEY §2 A-ext; /root/reference/dags/scripts/python/
retail_transform.py's declarative quality suite) to corpus-global
substring duplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from greatex_spark.functions.exprs import let
from greatex_spark.operators.minhash import (
    _compose_hash,
    _compose_hash_sql,
    md5_long,
    md5_long_sql,
)

DEFAULT_K = 13  # the 13-gram width of GPT-3-style benchmark decontamination


def _word_hashes(text, family: str):
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    if family == "xxhash64":
        return F.transform(words, lambda w: F.xxhash64(w))
    return F.transform(words, lambda w: md5_long(w))


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    family: str = "md5",
) -> DataFrame:
    """Per-document duplicated-substring statistics.

    Returns one row per input document: ``id_col``, ``n_tokens``,
    ``dup_tokens`` (tokens covered by at least one k-token window whose
    hash occurs >1 time in the corpus) and ``dup_token_fraction``.
    Documents shorter than k tokens have no windows and report 0."""
    base, occ = _window_occurrences(df, text_col, id_col, k, family)
    dup_hashes = occ.groupBy("__h").count().where(F.col("count") > 1).select("__h")
    dup_occ = occ.join(dup_hashes, "__h").select("__id", "__pos")
    w = Window.partitionBy("__id").orderBy("__pos")
    contrib = F.least(
        F.lit(k).cast("long"),
        F.coalesce(F.lead("__pos").over(w) - F.col("__pos"), F.lit(k)).cast("long"),
    )
    per_doc = (
        dup_occ.select("__id", contrib.alias("__c"))
        .groupBy("__id")
        .agg(F.sum("__c").alias("__dup_tokens"))
    )
    # n_tokens recounts the split without the per-word hashes — cheaper
    # than threading a second field through the windows let-binding
    n_tokens = F.size(
        F.filter(F.split("__text", r"\s+"), lambda t: t != F.lit(""))
    ).cast("long")
    out = (
        base.select("__id", n_tokens.alias("__n_tokens"))
        .join(per_doc, "__id", "left")
    )
    dup_tokens = F.coalesce(F.col("__dup_tokens"), F.lit(0).cast("long"))
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__n_tokens").alias("n_tokens"),
        dup_tokens.alias("dup_tokens"),
        F.when(
            F.col("__n_tokens") > 0,
            dup_tokens.cast("double") / F.col("__n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_fraction"),
    )


def _window_occurrences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    family: str,
    payload_cols: list[str] | None = None,
):
    """Shared front half of the family: one row per document with the
    let-bound window-hash array, plus the exploded (doc, pos, hash)
    occurrence relation (ids and longs only — token strings never
    leave the scan)."""
    wh = _word_hashes(F.col(text_col), family)
    if family == "xxhash64":
        # hot path: one native xxhash64 over the k word hashes per
        # window — HOF bodies are interpreted, so the 2×k-step
        # polynomial spec composition costs ~50 modular ops per
        # window vs a single JVM hash call here
        compose = lambda elems: F.xxhash64(*elems)  # noqa: E731
    else:
        compose = _compose_hash
    # let-bind the word-hash array: element_at must hit a lambda
    # variable, not a column reference Catalyst may inline — inlining
    # re-evaluates the whole split+hash pipeline per element_at
    # (k per window), the same no-CSE-inside-interpreted-HOF blow-up
    # as round 4's langid argmax (measured here: sf0.1 single-task
    # scan went from >10 min to seconds)
    windows = let(
        wh,
        lambda arr: F.when(
            F.size(arr) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(arr) - k),
                lambda i: compose(
                    [F.element_at(arr, i + j + 1) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        windows.alias("__whs"),
        *[F.col(c) for c in (payload_cols or [])],
    )
    occ = base.select("__id", F.posexplode("__whs").alias("__pos", "__h"))
    return base, occ


def trim_duplicate_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    family: str = "md5",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Remove duplicated substrings, keeping one canonical copy
    (the rewrite half of Lee et al. 2021's ExactSubstr — their tool
    cuts every duplicated byte range from all but one occurrence).

    An occurrence (doc, pos) of a k-token window whose hash appears
    more than once in the corpus is *canonical* iff it is the
    lexicographic minimum of ``(doc_id, pos)`` — a struct min, so any
    orderable id type works (strings, full-range 64-bit ids; an
    arithmetic composite key would overflow).  Every non-canonical
    occurrence marks its k tokens for removal.  Marked, overlapping
    spans are merged per document (gaps-and-islands over a
    positions-only window) and the survivor text is rebuilt from the
    unmarked tokens, joined with single spaces (output is
    whitespace-normalized by construction).

    Returns ``id_col, n_tokens, removed_tokens, clean_text`` plus any
    ``payload_cols`` carried through unchanged (they ride the base
    projection — Catalyst prunes them out of the occurrence branch, so
    they cost nothing in the shuffles).

    Scale notes: the duplicate/canonical decision is one
    groupBy(hash) agg (map-side combinable); spans shuffle as long
    triples only.  The final spans→text rejoin is the one place text
    moves — inherent to a rewrite operator (the output is corpus-
    sized); pre-bucketing the corpus by ``id_col`` makes it
    shuffle-free, and AQE broadcasts the spans side when duplication
    is sparse."""
    payload = list(payload_cols or [])
    base, occ = _window_occurrences(
        df, text_col, id_col, k, family, payload_cols=payload
    )
    ckey = F.struct(
        F.col("__id").alias("d"), F.col("__pos").cast("long").alias("p")
    )
    stats = (
        occ.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"), F.min(ckey).alias("__canon"))
        .where(F.col("__c") > 1)
        .select("__h", "__canon")
    )
    rem = (
        occ.join(stats, "__h")
        .where(
            (F.col("__id") != F.col("__canon.d"))
            | (F.col("__pos").cast("long") != F.col("__canon.p"))
        )
        .select("__id", "__pos")
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    end = (F.col("__pos") + k).cast("long")
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col("__pos") > prev_max_end)
    ).cast("long")
    islands = rem.select(
        "__id",
        F.col("__pos").cast("long").alias("__pos"),
        end.alias("__end"),
        F.sum(new_island)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__g"),
    )
    spans = (
        islands.groupBy("__id", "__g")
        .agg(F.min("__pos").alias("s"), F.max("__end").alias("e"))
        .groupBy("__id")
        .agg(
            F.collect_list(F.struct("s", "e")).alias("__spans"),
            # merged spans are disjoint and inside [0, n_tokens), so
            # their total length IS the removed-token count — free
            # here vs a second evaluation of the kept-token filter in
            # the final projection (measured ~25% of trim wall at 400k
            # pages)
            F.sum(F.col("e") - F.col("s")).alias("__removed"),
        )
    )
    out = base.select("__id", "__text", *payload).join(spans, "__id", "left")
    sp = F.coalesce(
        F.col("__spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    toks = F.filter(F.split("__text", r"\s+"), lambda t: t != F.lit(""))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            sp, lambda span: (i >= span["s"]) & (i < span["e"])
        ),
    )
    n_tokens = F.size(toks).cast("long")
    return out.select(
        F.col("__id").alias(id_col),
        n_tokens.alias("n_tokens"),
        F.coalesce(F.col("__removed"), F.lit(0).cast("long"))
        .alias("removed_tokens"),
        F.concat_ws(" ", kept).alias("clean_text"),
        *payload,
    )


def substring_dup_stats_duckdb_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
) -> str:
    """DuckDB twin of :func:`substring_dup_stats` (md5 spec family):
    same tokenization, same per-word 60-bit md5 hashes, same two-state
    polynomial window composition, same >1 duplicate rule, same
    lead()-based span union."""
    words = f"regexp_extract_all({text_col}, '\\S+')"
    wh = f"list_transform({words}, w -> {md5_long_sql('w')})"
    window_hash = _compose_hash_sql(
        [f"__wh[i + {j}]" for j in range(k)]
    )
    return f"""
WITH __base AS MATERIALIZED (
  SELECT {id_col} AS __id,
         CAST(len(__wh) AS BIGINT) AS __n_tokens,
         CASE WHEN len(__wh) >= {k} THEN
           list_transform(range(1, len(__wh) - {k} + 2), i -> {window_hash})
         ELSE [] END AS __whs
  FROM (SELECT {id_col}, {wh} AS __wh FROM {table})),
__occ AS MATERIALIZED (
  SELECT __id,
         unnest(range(0, len(__whs))) AS __pos,
         unnest(__whs) AS __h
  FROM __base),
__dup AS (
  SELECT __h FROM __occ GROUP BY __h HAVING count(*) > 1),
__spans AS (
  SELECT o.__id,
         least({k}::BIGINT,
               coalesce(lead(o.__pos) OVER (PARTITION BY o.__id ORDER BY o.__pos)
                        - o.__pos, {k})) AS __c
  FROM __occ o JOIN __dup d ON o.__h = d.__h),
__per_doc AS (
  SELECT __id, CAST(sum(__c) AS BIGINT) AS __dup_tokens
  FROM __spans GROUP BY __id)
SELECT b.__id AS {id_col},
       b.__n_tokens AS n_tokens,
       coalesce(p.__dup_tokens, 0) AS dup_tokens,
       CASE WHEN b.__n_tokens > 0
            THEN coalesce(p.__dup_tokens, 0) / CAST(b.__n_tokens AS BIGINT)
            ELSE 0.0 END AS dup_token_fraction
FROM __base b LEFT JOIN __per_doc p ON b.__id = p.__id
"""


def trim_duplicate_substrings_duckdb_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
) -> str:
    """DuckDB twin of :func:`trim_duplicate_substrings` (md5 spec
    family): same canonical-occurrence rule (lexicographic struct min
    of (doc_id, pos) — identical field-order comparison semantics in
    both engines), same gaps-and-islands span merge, same 0-indexed
    token filter (DuckDB lambda indexes are 1-based, hence the
    ``i - 1``), same single-space reconstruction."""
    words = f"regexp_extract_all({text_col}, '\\S+')"
    wh = f"list_transform(__toks, w -> {md5_long_sql('w')})"
    window_hash = _compose_hash_sql([f"__wh[i + {j}]" for j in range(k)])
    return f"""
WITH __base AS MATERIALIZED (
  SELECT __id, __toks,
         CASE WHEN len(__wh) >= {k} THEN
           list_transform(range(1, len(__wh) - {k} + 2), i -> {window_hash})
         ELSE [] END AS __whs
  FROM (SELECT __id, __toks, {wh} AS __wh
        FROM (SELECT {id_col} AS __id, {words} AS __toks FROM {table}))),
__occ AS MATERIALIZED (
  SELECT __id,
         unnest(range(0, len(__whs))) AS __pos,
         unnest(__whs) AS __h
  FROM __base),
__stats AS (
  SELECT __h, min({{'d': __id, 'p': __pos}}) AS __canon
  FROM __occ GROUP BY __h HAVING count(*) > 1),
__rem AS (
  SELECT o.__id, o.__pos
  FROM __occ o JOIN __stats s ON o.__h = s.__h
  WHERE NOT (o.__id = s.__canon.d AND o.__pos = s.__canon.p)),
__isl AS (
  SELECT __id, __pos, __pos + {k} AS __end,
         CASE WHEN __pos > coalesce(
                max(__pos + {k}) OVER (PARTITION BY __id ORDER BY __pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1)
              THEN 1 ELSE 0 END AS __new
  FROM __rem),
__isl2 AS (
  SELECT __id, __pos, __end,
         sum(__new) OVER (PARTITION BY __id ORDER BY __pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __g
  FROM __isl),
__merged AS (
  SELECT __id, min(__pos) AS s, max(__end) AS e
  FROM __isl2 GROUP BY __id, __g),
__spans AS (
  SELECT __id, list({{'s': s, 'e': e}}) AS __spans,
         CAST(sum(e - s) AS BIGINT) AS __removed
  FROM __merged GROUP BY __id),
__kept AS (
  SELECT b.__id,
         CAST(len(b.__toks) AS BIGINT) AS __n_tokens,
         coalesce(p.__removed, 0) AS __removed,
         list_filter(b.__toks, (t, i) ->
           len(list_filter(coalesce(p.__spans, []),
                           sp -> (i - 1) >= sp.s AND (i - 1) < sp.e)) = 0
         ) AS __kl
  FROM __base b LEFT JOIN __spans p ON b.__id = p.__id)
SELECT __id AS {id_col},
       __n_tokens AS n_tokens,
       __removed AS removed_tokens,
       CASE WHEN __kl IS NULL THEN NULL
            -- array_to_string([]) is NULL in DuckDB; Spark's
            -- concat_ws of an empty array is '' — a fully-trimmed doc
            -- must come out as the empty string in both engines
            ELSE coalesce(array_to_string(__kl, ' '), '') END AS clean_text
FROM __kept
"""
