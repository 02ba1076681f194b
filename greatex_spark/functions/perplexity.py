"""KenLM-style perplexity scoring as an Arrow UDF.

KenLM (Heafield 2011) binaries/models are not available in this
environment, so the scorer is a deterministic stand-in with the same
interface and filtering semantics (CCNet, Wenzek et al. 2020: drop
documents whose LM perplexity is an outlier): an interpolated
character-trigram language model trained at import time on the fixed
seed corpus embedded in :mod:`greatex_spark.functions.langid` — no
external data, no randomness.

Per-row scoring is independent of batching/partitioning, and all math
is float64, so scores are bit-stable across runs and cluster layouts
(SURVEY.md §7 "float nondeterminism" risk).

Perplexity = exp(mean negative log P(c_i | c_{i-2} c_{i-1})) with
interpolation  P = l3*P3 + l2*P2 + l1*P1 + l0/V.
Gibberish / wrong-language text scores high; fluent seed-like text
scores low.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from greatex_spark.functions.langid import SEED_TEXT

LAMBDAS = (0.6, 0.25, 0.1, 0.05)
# CCNet-style scoring prefix: the first 512 chars decide the score —
# gibberish/boilerplate shows up immediately, and truncation caps the
# per-doc Python cost at a constant independent of doc length
MAX_SCORED_CHARS = 512
VOCAB_SIZE = 8192  # uniform-backoff denominator (fixed spec constant)


def _train(corpus: str):
    uni: Counter = Counter()
    bi: Counter = Counter()
    tri: Counter = Counter()
    s = f"  {corpus}"
    for i in range(2, len(s)):
        uni[s[i]] += 1
        bi[s[i - 1 : i + 1]] += 1
        tri[s[i - 2 : i + 1]] += 1
    total = sum(uni.values())
    return uni, bi, tri, total


_UNI, _BI, _TRI, _TOTAL = _train(" ".join(SEED_TEXT[lang] for lang in ("en",)))


def _log_term(tr: str) -> float:
    """log P(c₂ | c₀c₁) for one trigram — the per-position term of the
    scorer, factored out so it can be memoized (web text repeats
    trigrams heavily; the cache turns the hot loop into one dict get
    per position with bit-identical values)."""
    c, b, bp = tr[2], tr[1:], tr[:2]
    p3 = _TRI[tr] / _BI[bp] if _BI[bp] else 0.0
    p2 = _BI[b] / _UNI[tr[1]] if _UNI[tr[1]] else 0.0
    p1 = _UNI[c] / _TOTAL if _TOTAL else 0.0
    return math.log(
        LAMBDAS[0] * p3 + LAMBDAS[1] * p2 + LAMBDAS[2] * p1 + LAMBDAS[3] / VOCAB_SIZE
    )


_TERM_CACHE: dict[str, float] = {}
_TERM_CACHE_MAX = 1 << 20  # bound memory on adversarial alphabets


def log_perplexity_py(text: str | None, max_chars: int = MAX_SCORED_CHARS) -> float | None:
    """Standalone reference scorer (identical to the UDF's inner loop).

    The summation is the same sequential left-to-right IEEE fold as the
    DuckDB oracle's ``list_reduce``; memoization changes only how each
    (deterministic) term is produced, never its value or position."""
    if text is None:
        return None
    t = str(text).lower()[:max_chars]
    if len(t) < 3:
        return None
    s = f"  {t}"
    cache = _TERM_CACHE
    logp = 0.0
    n = len(s) - 2
    for i in range(n):
        tr = s[i : i + 3]
        v = cache.get(tr)
        if v is None:
            v = _log_term(tr)
            if len(cache) < _TERM_CACHE_MAX:
                cache[tr] = v
        logp += v
    return round(-logp / n, 6) if n else None


# ---------------------------------------------------------------------------
# Vectorized batch scorer — the UDF hot path.
#
# The per-character Python loop above is the SPEC; the numpy path below
# is the implementation the Arrow UDF actually runs, and it is
# bit-identical by construction:
#
# - every distinct trigram's log-term is precomputed ONCE per Python
#   worker into a dense float64 table indexed by (c0,c1,c2) alphabet
#   ids, each entry produced by `math.log` over the exact argument the
#   scalar path builds (characters outside the seed alphabet share id 0
#   — all their counts are 0, so any two unknown characters are
#   interchangeable in every term, exactly as in the dict lookups);
# - the per-document fold is `np.cumsum` (= np.add.accumulate), a
#   strictly sequential left-to-right IEEE-double accumulation — the
#   same summation order as the Python loop and the DuckDB oracle's
#   `list_reduce`, unlike np.sum's pairwise tree;
# - the final `round(-logp/n, 6)` runs on Python scalars, same as the
#   spec.
#
# The table build itself is vectorized: the A^3 interpolation arguments
# are computed with numpy array arithmetic (identical operation order:
# ((l3*p3 + l2*p2) + l1*p1) + l0/V, and exact-integer-valued float64
# divisions are correctly rounded exactly like Python int/int), then
# deduplicated with np.unique so `math.log` runs only once per distinct
# argument (a few thousand, not A^3).

_VEC_MODEL: tuple[np.ndarray, np.ndarray, int] | None = None


def _vec_model() -> tuple[np.ndarray, np.ndarray, int]:
    """(codepoint→alphabet-id lookup, trigram-id→log-term table, A)."""
    global _VEC_MODEL
    if _VEC_MODEL is not None:
        return _VEC_MODEL
    alphabet = sorted(_UNI.keys())
    A = len(alphabet) + 1  # id 0 = any character outside the seed corpus
    ids = {ch: i + 1 for i, ch in enumerate(alphabet)}
    max_cp = max(ord(ch) for ch in alphabet)
    cp_lookup = np.zeros(max_cp + 1, dtype=np.int32)
    for ch, i in ids.items():
        cp_lookup[ord(ch)] = i

    uni = np.zeros(A, dtype=np.float64)
    for ch, v in _UNI.items():
        uni[ids[ch]] = v
    bi = np.zeros(A * A, dtype=np.float64)
    for bg, v in _BI.items():
        bi[ids[bg[0]] * A + ids[bg[1]]] = v
    tri = np.zeros(A * A * A, dtype=np.float64)
    for tg, v in _TRI.items():
        tri[(ids[tg[0]] * A + ids[tg[1]]) * A + ids[tg[2]]] = v

    i0 = np.repeat(np.arange(A), A * A)
    i1 = np.tile(np.repeat(np.arange(A), A), A)
    i2 = np.tile(np.arange(A), A * A)
    bi_prefix = bi[i0 * A + i1]
    p3 = np.divide(tri, bi_prefix, out=np.zeros(A**3), where=bi_prefix > 0)
    uni_mid = uni[i1]
    p2 = np.divide(bi[i1 * A + i2], uni_mid, out=np.zeros(A**3), where=uni_mid > 0)
    p1 = uni[i2] / _TOTAL
    args = LAMBDAS[0] * p3 + LAMBDAS[1] * p2 + LAMBDAS[2] * p1 + (
        LAMBDAS[3] / VOCAB_SIZE
    )
    uniq, inv = np.unique(args, return_inverse=True)
    term = np.array([math.log(x) for x in uniq], dtype=np.float64)[inv]
    _VEC_MODEL = (cp_lookup, term, A)
    return _VEC_MODEL


# Fixed scratch buffers reused across chunks, batches, and tasks: the
# hot loop never allocates more than one ~2 MB codepoint buffer per
# chunk, so steady-state throughput is immune to fresh-page allocation
# stalls (this sandbox host intermittently faults new anonymous pages
# at ~30 MB/s — a 400 MB whole-batch working set turned one Arrow batch
# into tens of seconds; an 11 MB reused one never does).
_CHUNK_CHARS = 1 << 19
_SCRATCH: dict[str, np.ndarray] | None = None


def _scratch() -> dict[str, np.ndarray]:
    global _SCRATCH
    if _SCRATCH is None:
        n = _CHUNK_CHARS + MAX_SCORED_CHARS + 2
        _SCRATCH = {
            "min": np.empty(n, dtype=np.uint32),
            "cids": np.empty(n, dtype=np.int32),
            "tri": np.empty(n, dtype=np.int32),
            "terms": np.empty(n, dtype=np.float64),
            "fold": np.empty(MAX_SCORED_CHARS + 2, dtype=np.float64),
        }
    return _SCRATCH


def _score_chunk(parts, idxs, out, cp_lookup, term, A, sc) -> None:
    """Score one packed chunk of documents into ``out`` (in place)."""
    cp = np.frombuffer("".join(parts).encode("utf-32-le"), dtype=np.uint32)
    m = len(cp)
    np.minimum(cp, len(cp_lookup) - 1, out=sc["min"][:m])
    np.take(cp_lookup, sc["min"][:m], out=sc["cids"][:m])
    cids = sc["cids"][:m]
    # codepoints beyond the lookup table are unknown (id 0) — minimum()
    # clipped them onto the last slot, which may be a real alphabet char
    cids[cp >= len(cp_lookup)] = 0
    # trigram ids for every window position; windows straddling a
    # document boundary are computed but never read (the per-doc slices
    # below stay inside each document's range)
    tri = sc["tri"][: m - 2]
    np.multiply(cids[:-2], A, out=tri)
    np.add(tri, cids[1:-1], out=tri)
    np.multiply(tri, A, out=tri)
    np.add(tri, cids[2:], out=tri)
    terms = sc["terms"][: m - 2]
    np.take(term, tri, out=terms)
    pos = 0
    for j, s in zip(idxs, parts):
        n = len(s) - 2
        seg = terms[pos : pos + n]
        # np.cumsum == np.add.accumulate: strictly sequential
        # left-to-right IEEE fold, same order as the Python loop and the
        # DuckDB list_reduce (np.sum's pairwise tree would NOT match)
        logp = float(np.cumsum(seg, out=sc["fold"][:n])[-1])
        out[j] = round(-logp / n, 6)
        pos += len(s)


def _score_batch(texts, max_chars: int = MAX_SCORED_CHARS) -> list[float | None]:
    """Vectorized twin of mapping :func:`log_perplexity_py` over a batch
    (parity-pinned by ``tests/test_functions.py``)."""
    cp_lookup, term, A = _vec_model()
    sc = _scratch()
    out: list[float | None] = [None] * len(texts)
    parts: list[str] = []
    idxs: list[int] = []
    pos = 0
    for j, t in enumerate(texts):
        if t is None or (isinstance(t, float) and pd.isna(t)):
            continue
        s = str(t).lower()[:max_chars]
        if len(s) < 3:
            continue
        s = f"  {s}"
        if pos + len(s) > _CHUNK_CHARS and parts:
            _score_chunk(parts, idxs, out, cp_lookup, term, A, sc)
            parts, idxs, pos = [], [], 0
        parts.append(s)
        idxs.append(j)
        pos += len(s)
    if parts:
        _score_chunk(parts, idxs, out, cp_lookup, term, A, sc)
    return out


# an Arrow UDF, like the page-signals kernel next to it in featurize:
# one eval type lets Spark fuse both into a single ArrowEvalPython node
# (one text crossing, one Python worker per task)
@arrow_udf(T.DoubleType())
def log_perplexity_udf(texts: pa.Array) -> pa.Array:
    return pa.array(_score_batch(texts.to_pylist()), type=pa.float64())


def with_perplexity(
    df: DataFrame, text_col: str = "text", out_col: str = "log_ppl"
) -> DataFrame:
    return df.withColumn(out_col, log_perplexity_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# real-model seam (KenLM .arpa/.bin) — mirror of
# ``langid.make_langid_udf``: path in, per-executor lazy load, batch
# scoring; the stand-in stays the default.

_EXTERNAL_MODELS: dict[str, object] = {}
_LN10 = math.log(10.0)


def _kenlm_loader(model_path: str):
    import kenlm  # not bundled here; the seam is for real deployments

    return kenlm.Model(model_path)


def make_log_perplexity_udf(model_path: str | None = None, loader=None):
    """Factory for the log-perplexity UDF.

    - ``model_path=None`` → the deterministic embedded trigram stand-in
      (:func:`log_perplexity_udf`), bit-stable, oracle-replayable.
    - ``model_path='/models/en.arpa.bin'`` → an Arrow UDF lazily loading
      the real KenLM model once per executor process via
      ``loader(model_path)`` (default: ``kenlm.Model``).  Score is the
      CCNet normalization: ``-log10 P(sentence) * ln(10) / (n_words+1)``
      (natural-log perplexity per token, </s> included), rounded to 6
      decimals like the stand-in so thresholds are comparable."""
    if model_path is None:
        return log_perplexity_udf
    load = loader or _kenlm_loader

    @arrow_udf(T.DoubleType())
    def external_ppl_udf(texts: pa.Array) -> pa.Array:
        model = _EXTERNAL_MODELS.get(model_path)
        if model is None:
            model = load(model_path)
            _EXTERNAL_MODELS[model_path] = model

        def score(t):
            if t is None:
                return None
            s = str(t)[:MAX_SCORED_CHARS].replace("\n", " ")
            n = len(s.split())
            if n == 0:
                return None
            return round(-model.score(s, bos=True, eos=True) * _LN10 / (n + 1), 6)

        return pa.array([score(t) for t in texts.to_pylist()], type=pa.float64())

    return external_ppl_udf


# ---------------------------------------------------------------------------
# DuckDB oracle twin: the model is tiny (~300 n-gram counts trained on
# the fixed seed corpus), so the count tables inline as MAP literals and
# the scoring loop becomes a sequential list_reduce fold — the same
# IEEE-double operations in the same order as :func:`log_perplexity_py`,
# so scores replay bit-identically.


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_map(counter) -> str:
    items = sorted(counter.items())
    keys = ", ".join(_sql_str(k) for k, _ in items)
    vals = ", ".join(str(v) for _, v in items)
    return f"map([{keys}], [{vals}])"


def perplexity_duckdb_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "log_ppl",
    max_chars: int = MAX_SCORED_CHARS,
) -> str:
    """Full SELECT replaying :func:`log_perplexity_py` in DuckDB.

    Map extraction ``m[k]`` yields a list in DuckDB (empty on miss), so
    lookups are ``coalesce(m[k][1], 0)``; the per-position fold uses
    ``list_reduce`` which accumulates left-to-right, matching the Python
    loop's summation order exactly."""
    l3, l2, l1, l0 = LAMBDAS

    def tri_at(i: str) -> str:
        return f"coalesce(tri[substr(s,{i}-2,3)][1], 0)"

    def bi_at(off: int) -> str:
        return f"coalesce(bi[substr(s,i-{off},2)][1], 0)"

    def uni_at(off: int) -> str:
        return f"coalesce(uni[substr(s,i-{off},1)][1], 0)"

    p3 = f"(CASE WHEN {bi_at(2)} > 0 THEN {tri_at('i')} / {bi_at(2)} ELSE 0.0 END)"
    p2 = f"(CASE WHEN {uni_at(1)} > 0 THEN {bi_at(1)} / {uni_at(1)} ELSE 0.0 END)"
    p1 = f"({uni_at(0)} / {_TOTAL})"
    p = f"{l3} * {p3} + {l2} * {p2} + {l1} * {p1} + {l0} / {VOCAB_SIZE}"
    return f"""
WITH model AS (
  SELECT {_sql_map(_TRI)} AS tri, {_sql_map(_BI)} AS bi, {_sql_map(_UNI)} AS uni),
base AS (
  SELECT {id_col}, '  ' || substr(lower({text_col}), 1, {max_chars}) AS s
  FROM {table} WHERE {text_col} IS NOT NULL),
scored AS (
  SELECT {id_col}, length(s) - 2 AS n,
    list_reduce(
      list_transform(range(3, length(s) + 1), i -> ln({p})),
      (a, b) -> a + b) AS logp
  FROM base, model
  WHERE length(s) - 2 >= 3)
SELECT d.{id_col}, round(-sc.logp / sc.n, 6) AS {out_col}
FROM {table} d LEFT JOIN scored sc ON d.{id_col} = sc.{id_col}
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020 §4)
#
# CCNet sorts each language's documents by LM perplexity and cuts the
# corpus into three equal parts: head (lowest perplexity, cleanest),
# middle, tail.  Downstream pipelines train on head+middle or weight by
# bucket, so the bucket label is a first-class quality signal.
#
# Scale shape: two passes, no global sort.  Pass 1 aggregates two
# per-language percentile thresholds (partial-combinable agg — with
# ``approx=True`` it is the t-digest ``percentile_approx`` sketch, the
# right choice at 10^12 docs where exact percentile would buffer every
# value of a language in one aggregator).  Pass 2 broadcast-joins the
# tiny per-language threshold table back and labels each row with a
# CASE — the corpus itself never shuffles.


def ppl_buckets(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    fracs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    approx: bool = False,
    model_path: str | None = None,
    loader=None,
    score_col: str | None = None,
) -> DataFrame:
    """Label every document head/middle/tail by per-language perplexity
    percentile (docs the scorer cannot score — too short / NULL text —
    get ``unscored``).  ``approx=False`` is the exact interpolated
    percentile (PERCENTILE_CONT semantics, the DuckDB-replayable spec);
    ``approx=True`` swaps in ``percentile_approx`` for the 10^12-doc
    path.

    ``score_col`` reuses an ALREADY-SCORED perplexity column (e.g. the
    pipeline's featurized ``log_ppl``) instead of running the UDF —
    important at scale because the threshold aggregate and the label
    join both consume the scored relation, so an inline UDF would score
    every document twice unless the input is a materialized snapshot."""
    if score_col is not None:
        scored = df.select(
            F.col(id_col), F.col(lang_col), F.col(score_col).alias("log_ppl")
        )
    else:
        score = make_log_perplexity_udf(model_path, loader)
        scored = df.select(
            F.col(id_col), F.col(lang_col), score(F.col(text_col)).alias("log_ppl")
        )
    pct = F.percentile_approx if approx else F.percentile
    thresholds = (
        scored.where(F.col("log_ppl").isNotNull())
        .groupBy(lang_col)
        .agg(
            pct(F.col("log_ppl"), F.lit(fracs[0])).alias("__t_head"),
            pct(F.col("log_ppl"), F.lit(fracs[1])).alias("__t_mid"),
        )
    )
    bucket = (
        F.when(F.col("log_ppl").isNull(), F.lit("unscored"))
        .when(F.col("log_ppl") <= F.col("__t_head"), F.lit("head"))
        .when(F.col("log_ppl") <= F.col("__t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(thresholds), on=lang_col, how="left")
        .select(id_col, lang_col, "log_ppl", bucket.alias("ppl_bucket"))
    )


def ppl_buckets_duckdb_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    fracs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> str:
    """DuckDB twin of :func:`ppl_buckets` (exact mode): the scored CTE
    replays the perplexity fold, ``quantile_cont`` is the exact
    interpolated percentile, and the CASE applies the same closed-left
    bucket boundaries.  Threshold doubles interpolate between 6-decimal-
    rounded scores in both engines, so bucket comparisons agree."""
    ppl = perplexity_duckdb_sql(
        table=table, id_col=id_col, text_col=text_col, out_col="log_ppl"
    )
    return f"""
WITH __ppl AS MATERIALIZED ({ppl}),
__scored AS (
  SELECT d.{id_col}, d.{lang_col} AS lang, p.log_ppl
  FROM {table} d JOIN __ppl p USING ({id_col})),
__th AS (
  SELECT lang,
         quantile_cont(log_ppl, {fracs[0]!r}) AS t_head,
         quantile_cont(log_ppl, {fracs[1]!r}) AS t_mid
  FROM __scored WHERE log_ppl IS NOT NULL GROUP BY lang)
SELECT s.{id_col}, s.lang AS {lang_col}, s.log_ppl,
  CASE WHEN s.log_ppl IS NULL THEN 'unscored'
       WHEN s.log_ppl <= t.t_head THEN 'head'
       WHEN s.log_ppl <= t.t_mid THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM __scored s LEFT JOIN __th t ON s.lang = t.lang
"""
