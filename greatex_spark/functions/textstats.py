"""Text-analysis primitives for training-data pipelines.

All native Column expressions (JVM-side):

- token counting: whitespace tokens and a BPE-ish subword estimate
  (regex token classes, the common ``~4 chars/token`` heuristic is NOT
  used — we count actual regex token matches).
- document fingerprinting: the normalized form exact-duplicate
  detection hashes, and a rolling polynomial fingerprint over its
  words (oracle-replayable).
- language-ID: an n-gram/stopword-profile heuristic scored per
  language with argmax — fully SQL-expressible so the DuckDB oracle
  can replay it (the fastText-style vectorized scorer lives in
  :mod:`greatex_spark.functions.langid` as a pandas UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenization: words, numbers, and single non-space symbols —
# the regex is the spec; both Spark and DuckDB count matches of it.
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))).cast("long")


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_REGEX)).cast("long")


def normalize_for_fingerprint(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, strip — the canonical form used
    for exact-duplicate detection."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def rolling_fingerprint64(col: Column | str) -> Column:
    """True rolling (polynomial) document fingerprint, oracle-replayable:
    each normalized word is hashed (md5 → 60-bit), then two independent
    31-bit polynomial states fold over the word stream in order and
    concatenate to a 62-bit value.  The fold is order-sensitive
    word-by-word (a rolling hash proper) and every step is exact
    BIGINT arithmetic in both Spark and DuckDB
    (:func:`rolling_fingerprint64_duckdb_sql`)."""
    from greatex_spark.functions.exprs import let
    from greatex_spark.operators.minhash import MOD31, _POLY_C1, _POLY_C2, md5_long

    c = F.col(col) if isinstance(col, str) else col
    words = F.split(normalize_for_fingerprint(c), " ")

    def fold(wh: Column) -> Column:
        def state(const: int) -> Column:
            return F.aggregate(
                wh,
                F.lit(0).cast("long"),
                lambda acc, h: (acc * F.lit(const) + h % F.lit(MOD31)) % F.lit(MOD31),
            )

        return state(_POLY_C1) * F.lit(1 << 31).cast("long") + state(_POLY_C2)

    return let(F.transform(words, lambda w: md5_long(w)), fold)


def rolling_fingerprint64_duckdb_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`rolling_fingerprint64` — ``list_reduce``
    folds left-to-right with the first element as the seed, which equals
    Spark's zero-seeded fold because step(0, m₀) = m₀."""
    from greatex_spark.operators.minhash import MOD31, _POLY_C1, _POLY_C2, md5_long_sql

    norm = f"trim(regexp_replace(lower({text_expr}), '\\s+', ' ', 'g'))"
    mods = (
        f"list_transform(string_split({norm}, ' '), "
        f"w -> {md5_long_sql('w')} % {MOD31})"
    )

    def state(const: int) -> str:
        return f"list_reduce({mods}, (acc, m) -> (acc * {const} + m) % {MOD31})"

    return f"({state(_POLY_C1)} * {1 << 31}::BIGINT + {state(_POLY_C2)})"


# ---------------------------------------------------------------------------
# Heuristic language-ID (stopword-profile scoring).
#
# Profiles are fixed marker-word sets per language; the score of a
# language is the number of letter-token occurrences in the marker set
# (text is lowered and tokenized on non-letter runs ONCE, then each
# language is an array-membership count — one tokenize pass instead of
# one regex scan per language).  Deterministic argmax with ties broken
# by profile order.  CJK languages are detected by codepoint-class
# fraction instead of markers.

LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "was", "with", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr": ("le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con", "para", "del"),
    "it": ("il", "gli", "che", "di", "non", "una", "per", "sono", "con", "della"),
    "pt": ("o", "os", "as", "um", "uma", "não", "com", "para", "por", "mais"),
}

CJK_REGEX = r"[一-鿿]"


def _letter_tokens(col: Column) -> Column:
    """Lowered letter-run tokens (Unicode \\p{L}; one split per row)."""
    return F.filter(F.split(F.lower(col), r"[^\p{L}]+"), lambda w: w != F.lit(""))


def lang_scores_of(tokens: Column) -> dict[str, Column]:
    out = {}
    for lang, markers in LANG_PROFILES.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(
            F.filter(tokens, lambda w: F.array_contains(marker_arr, w))
        ).cast("long")
    return out


def detect_lang(col: Column | str, min_hits: int = 2) -> Column:
    """Argmax over profile scores; 'zh' if CJK-dominant; 'und' if no
    profile reaches ``min_hits``.  Ties break by profile declaration
    order (first wins) — deterministic.  The tokenization is let-bound
    (see :mod:`greatex_spark.functions.exprs`) so the text is split once
    per row, not once per language."""
    from greatex_spark.functions.exprs import let

    c = F.col(col) if isinstance(col, str) else col

    def score_argmax(tokens: Column) -> Column:
        scores = lang_scores_of(tokens)
        langs = list(scores)

        # the argmax when-chain references each score from BOTH the
        # best_lang and best_score accumulators, and the nesting
        # re-expands every earlier score at every later level — inside
        # the interpreted HOF there is no CSE, so score i is re-counted
        # O(2^(n-i)) times.  Let-binding the 6 counts into ONE array
        # makes the chain reference cheap element_at's instead
        # (measured ~5× on the langid bench query; values identical).
        def pick(arr: Column) -> Column:
            best_lang = F.lit("und")
            best_score = F.lit(int(min_hits) - 1).cast("long")
            # declaration order + strict '>' ⇒ first-declared wins ties
            for i, lang in enumerate(langs):
                s = F.element_at(arr, i + 1)
                is_better = s > best_score
                best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
                best_score = F.when(is_better, s).otherwise(best_score)
            return best_lang

        return let(F.array(*scores.values()), pick)

    cjk_frac = F.regexp_count(c, F.lit(CJK_REGEX)).cast("double") / F.greatest(
        F.length(c).cast("double"), F.lit(1.0)
    )
    return F.when(cjk_frac > 0.25, F.lit("zh")).otherwise(
        let(_letter_tokens(c), score_argmax)
    )


def detect_lang_duckdb_sql(col_expr: str, min_hits: int = 2) -> str:
    """One self-contained DuckDB SQL expression replaying
    :func:`detect_lang` exactly (same profiles, same tokenization, same
    first-wins tie-break, same CJK override) for the oracle harness."""
    toks = f"regexp_extract_all(lower({col_expr}), '[\\p{{L}}]+')"

    def score(lang: str) -> str:
        markers = ", ".join(f"'{m}'" for m in LANG_PROFILES[lang])
        return f"len(list_filter({toks}, w -> w IN ({markers})))"

    best_lang = "'und'"
    best_score = str(int(min_hits) - 1)
    for lang in LANG_PROFILES:
        s = score(lang)
        best_lang = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"greatest({s}, {best_score})"
    cjk_frac = (
        f"(len(regexp_extract_all({col_expr}, '{CJK_REGEX}')) "
        f"/ greatest(length({col_expr}), 1))"
    )
    return f"CASE WHEN {cjk_frac} > 0.25 THEN 'zh' ELSE {best_lang} END"
