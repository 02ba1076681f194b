"""fastText-style language identification as an Arrow-batched pandas UDF.

The real fastText model (Joulin et al. 2016) is not available in this
environment, so the scorer is a deterministic re-implementation of the
same *shape*: hashed character-n-gram features → per-language linear
scores → argmax + confidence.  Profile vectors are built at import
time from fixed, embedded seed text (below) — no external data, no
randomness (hashing is crc32, not Python's salted ``hash``).

Execution model: ``@pandas_udf`` over Arrow batches — the whole batch
crosses the JVM↔Python boundary once; numpy does the scoring.  Rows
are scored independently, so results are identical under any
partitioning or ``arrow.maxRecordsPerBatch`` setting (SURVEY.md §7
"pandas-UDF batch variance").

For the SQL-expressible heuristic variant (replayable by the DuckDB
oracle) see :func:`greatex_spark.functions.textstats.detect_lang`.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

N_BUCKETS = 1 << 12

# Fixed seed text per language (written for this repo; deterministic).
SEED_TEXT: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and it was the best of "
        "times that we have seen with all of the people in the world today "
        "this is a story about what happens when you think for yourself"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und es war "
        "die beste der zeiten die wir mit allen menschen der welt gesehen "
        "haben das ist eine geschichte über das denken für sich selbst"
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux et c'était "
        "le meilleur des temps que nous avons vu avec tous les gens du monde "
        "c'est une histoire sur ce qui se passe quand on pense pour soi"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y fue el mejor "
        "de los tiempos que hemos visto con toda la gente del mundo hoy esta "
        "es una historia sobre lo que pasa cuando piensas por ti mismo"
    ),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro ed era il migliore "
        "dei tempi che abbiamo visto con tutte le persone del mondo oggi "
        "questa è una storia su cosa succede quando pensi da solo"
    ),
    "pt": (
        "a rápida raposa marrom pula sobre o cão preguiçoso e foi o melhor "
        "dos tempos que vimos com todas as pessoas do mundo hoje esta é uma "
        "história sobre o que acontece quando você pensa por si mesmo"
    ),
    "zh": "快速的棕色狐狸跳过懒狗这是我们见过的最好的时代世界上所有的人今天这是一个关于当你为自己思考时会发生什么的故事",
}

LANGS = tuple(SEED_TEXT)


def _ngram_vector(text: str, n_lo: int = 1, n_hi: int = 3) -> np.ndarray:
    """Hashed char-n-gram count vector (crc32 → fixed buckets)."""
    v = np.zeros(N_BUCKETS, dtype=np.float64)
    s = f" {text.lower()} "
    for n in range(n_lo, n_hi + 1):
        for i in range(len(s) - n + 1):
            g = s[i : i + n]
            v[zlib.crc32(g.encode("utf-8")) % N_BUCKETS] += 1.0
    norm = np.linalg.norm(v)
    return v / norm if norm > 0 else v


_PROFILES = np.stack([_ngram_vector(SEED_TEXT[lang]) for lang in LANGS])  # (L, B)

LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


def _score_batch(texts: pd.Series) -> pd.DataFrame:
    langs: list[str | None] = []
    confs: list[float | None] = []
    for t in texts:
        if t is None or not str(t).strip():
            langs.append(None)
            confs.append(None)
            continue
        v = _ngram_vector(str(t)[:2000])  # cap: scoring cost is O(len)
        sims = _PROFILES @ v  # cosine (both sides L2-normalized)
        best = int(np.argmax(sims))  # np.argmax: first max wins — deterministic
        total = float(np.sum(np.clip(sims, 0.0, None)))
        conf = float(sims[best] / total) if total > 0 else 0.0
        langs.append(LANGS[best])
        confs.append(round(conf, 6))
    return pd.DataFrame({"lang": langs, "confidence": confs})


@pandas_udf(LANGID_SCHEMA)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    return _score_batch(texts)


def langid_py(text: str | None) -> tuple[str | None, float | None]:
    """Standalone reference scorer (identical code path) for pytest."""
    row = _score_batch(pd.Series([text])).iloc[0]
    return row["lang"], row["confidence"]


def with_langid(
    df: DataFrame, text_col: str = "text", prefix: str = "langid_"
) -> DataFrame:
    res = langid_udf(F.col(text_col))
    return df.withColumns(
        {prefix + "lang": res["lang"], prefix + "confidence": res["confidence"]}
    )


# ---------------------------------------------------------------------------
# real-model seam: swap in an actual fastText .bin without touching the
# pipeline — one constructor arg (``PipelineConfig.langid_model``).

# per-executor-process model cache: the model object is NEVER pickled
# into the task closure (a real lid.176.bin is ~130 MB); each Python
# worker loads it once from the (cluster-visible) path on first batch
_EXTERNAL_MODELS: dict[str, object] = {}


def _fasttext_loader(model_path: str):
    import fasttext  # not bundled here; the seam is for real deployments

    return fasttext.load_model(model_path)


def make_langid_udf(model_path: str | None = None, loader=None):
    """Factory for the language-ID UDF.

    - ``model_path=None`` → the deterministic embedded stand-in
      (:func:`langid_udf`), bit-stable, oracle-replayable.
    - ``model_path='/models/lid.176.bin'`` → an Arrow UDF that lazily
      loads the real model once per executor process via
      ``loader(model_path)`` (default: ``fasttext.load_model``) and
      scores whole batches through ``model.predict(texts, k=1)``
      (fastText's batch API; ``__label__xx`` prefixes stripped).

    ``loader`` must be cloudpickle-serializable (a top-level function
    or lambda); the *loaded model* never crosses the wire."""
    if model_path is None:
        return langid_udf
    load = loader or _fasttext_loader

    # an Arrow UDF so featurize keeps one Python crossing next to the
    # page-signals kernel (see perplexity.log_perplexity_udf)
    @arrow_udf(LANGID_SCHEMA)
    def external_langid_udf(texts: pa.Array) -> pa.Array:
        model = _EXTERNAL_MODELS.get(model_path)
        if model is None:
            model = load(model_path)
            _EXTERNAL_MODELS[model_path] = model
        rows = texts.to_pylist()
        present = [i for i, t in enumerate(rows) if t is not None]
        # fastText rejects newlines; same scoring cap as the stand-in
        clean = [rows[i].replace("\n", " ")[:2000] for i in present]
        langs: list[str | None] = [None] * len(rows)
        confs: list[float | None] = [None] * len(rows)
        if clean:
            labels, probs = model.predict(clean, k=1)
            for pos, lab, pr in zip(present, labels, probs):
                langs[pos] = lab[0].removeprefix("__label__")
                confs[pos] = float(pr[0])
        return pa.StructArray.from_arrays(
            [pa.array(langs, pa.string()), pa.array(confs, pa.float64())],
            names=["lang", "confidence"],
        )

    return external_langid_udf
