"""Pipeline stages as pure ``DataFrame -> DataFrame`` functions.

The reference's task chain (EP1, ``/root/reference/dags/
retail_data_pipeline.py:110-122``) moves one table through
source → raw → stage → warehouse → public with a validation gate at
each hop.  Here the hops are bronze → silver → kept → gold snapshots
of the page table, and each stage is a single Spark projection/filter
— no driver-side loops, no RDDs:

- **featurize**: ONE projection computing every quality feature, the
  language decision and the token count (one Arrow pandas UDF), the
  perplexity score (Arrow pandas UDF), the PII-scrubbed text and the
  final keep flag.
- **filter_kept**: predicate on the precomputed flags.
- **dedup**: MinHash-LSH near-duplicate removal keyed by url.
- **gold_projection**: the public 5-column contract, scrubbed text
  swapped in (the reference's 8→6-column final projection,
  ``transform_load_retail_warehouse.sql:25-32``, recast).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from greatex_spark.functions.heuristics import DEFAULT_THRESHOLDS
from greatex_spark.functions.heuristics_arrow import page_signals_arrow
from greatex_spark.functions.perplexity import make_log_perplexity_udf
from greatex_spark.functions.pii import scrub_pii
from greatex_spark.functions.textstats import fingerprint64


@dataclass
class PipelineConfig:
    target_lang: str = "en"
    ppl_threshold: float = 3.5
    gopher_thresholds: dict = field(
        default_factory=lambda: {**DEFAULT_THRESHOLDS, "max_words": 2000}
    )
    minhash_num_perm: int = 64
    minhash_num_bands: int = 16
    # xxhash64 = GC-light numeric shingle hashing (hot path); "md5" is
    # the oracle-replayable spec family (same decisions up to hash
    # collisions) — see operators/dedup.py
    dedup_hash_family: str = "xxhash64"
    # real-model seam: paths to a fastText .bin / KenLM .arpa swap the
    # deterministic stand-ins for real models (lazily loaded once per
    # executor; see functions/langid.py, functions/perplexity.py).  The
    # loaders are injectable for tests / custom model formats.
    langid_model: str | None = None
    langid_loader: object = None
    perplexity_model: str | None = None
    perplexity_loader: object = None
    # gate: fraction of bronze rows that must survive the keep filter
    keep_fraction_band: tuple[float, float] = (0.25, 0.75)
    # toxicity scrub (north rule "PII/toxicity-scrub"): a word blocklist
    # masks matches with <TOX> after the PII chain — None (default)
    # keeps the scrub PII-only; pass functions.toxicity.DEFAULT_BLOCKLIST
    # or load_blocklist(path) for the full external list
    toxicity_blocklist: tuple[str, ...] | None = None
    # ExactSubstr rewrite (Lee et al. 2021) between dedup and gold:
    # cut every duplicated >=substring_trim_k-token span except the
    # corpus-canonical copy and rebuild the gold text from surviving
    # tokens (whitespace-normalized; n_tokens becomes the post-trim
    # count).  Document-level MinHash dedup drops whole near-dup
    # pages; this removes the *intra-corpus boilerplate* that
    # survives it — opt-in because it rewrites text
    substring_trim: bool = False
    substring_trim_k: int = 13
    # derive text from raw html at bronze ingest (functions/html.py
    # regexp extraction) for feeds that ship html only; rows that
    # already carry text keep it — opt-in, default preserves input text
    extract_from_html: bool = False
    # retention: after a fully-gated run, keep only the newest N epochs
    # of each staged table (Catalog.expire_snapshots) and GC torn-write
    # orphans older than orphan_min_age_sec (Catalog.remove_orphans).
    # None (default) = keep everything; at 10^12-doc scale per-epoch
    # re-snapshots accrete storage without bound, so production sets
    # this to its resume window
    retain_epochs: int | None = None
    orphan_min_age_sec: float = 86_400.0


def featurize(df: DataFrame, config: PipelineConfig) -> DataFrame:
    """bronze → silver: all signals in one pass.

    Two-step projection: the expensive producers (heuristic struct —
    tokenizes once via let-binding; langid; perplexity UDF) land in step
    one, and step two derives the boolean flags from already-computed
    columns.  CollapseProject keeps non-cheap producers referenced more
    than once in their own projection, so nothing is re-evaluated."""
    t = {**DEFAULT_THRESHOLDS, **config.gopher_thresholds}

    def scrubbed() -> Column:
        out = scrub_pii("text")
        if config.toxicity_blocklist:
            from greatex_spark.functions.toxicity import scrub_toxicity

            # fixed order: PII first, then the blocklist over the
            # already-masked text (both single codegen'd regex passes)
            out = scrub_toxicity(out, config.toxicity_blocklist)
        return out
    # real-model seam: config paths swap the stand-ins for real
    # fastText/KenLM scorers (same column contract, loaded lazily on
    # the executors) — the heuristic/stand-in defaults stay the
    # oracle-replayable spec path
    ppl_udf = make_log_perplexity_udf(
        config.perplexity_model, config.perplexity_loader
    )
    ext_lang = None
    if config.langid_model is not None:
        from greatex_spark.functions.langid import make_langid_udf

        ext_lang = make_langid_udf(config.langid_model, config.langid_loader)(
            F.col("text")
        )["lang"]
    # one Arrow crossing for heuristics + langid + token count
    step1 = df.select(
        "*",
        page_signals_arrow(F.col("text")).alias("__qs"),
        ppl_udf(F.col("text")).alias("log_ppl"),
        scrubbed().alias("text_scrubbed"),
        fingerprint64("text").alias("fingerprint"),
    ).withColumns(
        {
            "lang_pred": (
                ext_lang if ext_lang is not None else F.col("__qs.lang_pred")
            ),
            "n_tokens": F.col("__qs.n_bpe_tokens"),
        }
    )
    f = F.col("__qs")
    keep_quality = (
        (f["n_chars"] >= t["min_chars"])
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
        & (f["dup_3gram_fraction"] <= t["max_dup_3gram_fraction"])
    )
    # silver is the featurized WORKING SET: the raw html bytes stay in
    # bronze (time-travelable via the catalog) and are not copied through
    # every downstream snapshot — at 100 TB the raw payload dominates
    # bytes written, and nothing after bronze reads it
    out_cols = [c for c in df.columns if c != "html"]
    return step1.select(
        *out_cols,
        keep_quality.alias("keep_quality"),
        "lang_pred",
        "log_ppl",
        "text_scrubbed",
        "fingerprint",
        "n_tokens",
        (
            keep_quality
            & (F.col("lang_pred") == F.lit(config.target_lang))
            & F.col("log_ppl").isNotNull()
            & (F.col("log_ppl") <= F.lit(config.ppl_threshold))
        ).alias("keep"),
    )


def filter_kept(df: DataFrame) -> DataFrame:
    return df.where(F.col("keep"))


DROP_REASONS = ("null_text", "quality", "langid", "perplexity")


def drop_reason(config: PipelineConfig) -> Column:
    """First failing stage of the ``keep`` conjunction, as a label
    column over :func:`featurize` output (NULL-safe: a NULL ``text``
    makes every downstream signal NULL, so it gets its own first
    bucket; the CASE fall-through order then mirrors the conjunction
    order exactly, in Spark and in the DuckDB twin's identical
    three-valued CASE).  Only meaningful on rows where ``keep`` is not
    true."""
    return (
        F.when(F.col("text").isNull(), F.lit("null_text"))
        .when(~F.col("keep_quality"), F.lit("quality"))
        .when(F.col("lang_pred") != F.lit(config.target_lang), F.lit("langid"))
        .otherwise(F.lit("perplexity"))
    )


def dedup(df: DataFrame, config: PipelineConfig) -> DataFrame:
    from greatex_spark.operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(
        df,
        text_col="text",
        id_col="url",
        num_perm=config.minhash_num_perm,
        num_bands=config.minhash_num_bands,
        family=config.dedup_hash_family,
        # broadcast the small dropped-id set so the text-carrying rows
        # never shuffle (the few-% near-dup rate of filtered web text)
        survivor_join="anti",
    )


def trim_substrings(df: DataFrame, config: PipelineConfig) -> DataFrame:
    """Opt-in ExactSubstr rewrite over the deduped kept set: the
    scrubbed text is rewritten with duplicated spans cut (canonical
    copy kept) and ``n_tokens`` becomes the post-trim token count.
    Payload columns ride the trim's base projection, so the extra
    shuffles stay (id, pos, hash)-only exactly as in the standalone
    operator."""
    if not config.substring_trim:
        return df
    from greatex_spark.operators.substringdedup import (
        trim_duplicate_substrings,
    )

    payload = [
        c for c in df.columns if c not in ("url", "text_scrubbed", "n_tokens")
    ]
    out = trim_duplicate_substrings(
        df,
        text_col="text_scrubbed",
        id_col="url",
        k=config.substring_trim_k,
        family=config.dedup_hash_family,
        payload_cols=payload,
    )
    return out.select(
        *payload,
        F.col("url"),
        F.col("clean_text").alias("text_scrubbed"),
        (F.col("n_tokens") - F.col("removed_tokens")).alias("n_tokens"),
    )


GOLD_COLUMNS = ["url", "warc_ts", "text", "lang", "n_tokens"]


def gold_projection(df: DataFrame) -> DataFrame:
    """kept → gold: scrubbed text becomes THE text; predicted language
    becomes THE language (the stored ``lang`` hint is crawl metadata,
    the decision is ours — CCNet-style)."""
    return df.select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("text_scrubbed").alias("text"),
        F.col("lang_pred").alias("lang"),
        F.col("n_tokens"),
    )
