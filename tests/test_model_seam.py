"""Real-model injection seam: a fake "real" fastText / KenLM model is
monkeypatched through the factory loaders and must fully displace the
deterministic stand-ins — in the standalone UDFs and through
``PipelineConfig`` into ``featurize``."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import functions as F

from greatex_spark.functions.langid import langid_udf, make_langid_udf
from greatex_spark.functions.perplexity import (
    log_perplexity_udf,
    make_log_perplexity_udf,
)
from greatex_spark.pages import generate_pages
from greatex_spark.pipeline.stages import PipelineConfig, featurize

# loaders are lambdas so cloudpickle ships them BY VALUE to the python
# workers (a test-module top-level class might not be importable there);
# the model objects they build are created worker-side, never pickled
FAKE_FT_LOADER = lambda path: SimpleNamespace(  # noqa: E731
    predict=lambda texts, k=1: (
        [["__label__tlh"]] * len(texts),
        [[0.875]] * len(texts),
    )
)
FAKE_KENLM_LOADER = lambda path: SimpleNamespace(  # noqa: E731
    # log10 P = -words/2 → log-ppl = (words/2)*ln10/(words+1), ~1.151 for
    # long text; distinguishable from the trigram stand-in's range
    score=lambda s, bos=True, eos=True: -len(s.split()) / 2.0
)


def test_default_factories_return_standins():
    assert make_langid_udf() is langid_udf
    assert make_log_perplexity_udf() is log_perplexity_udf


def test_external_langid_routes_through_model(spark):
    df = spark.createDataFrame(
        [("a", "hello world"), ("b", None)], ["id", "text"]
    )
    udf = make_langid_udf("/models/lid.176.bin", loader=FAKE_FT_LOADER)
    rows = {
        r.id: r
        for r in df.select(
            "id", udf(F.col("text")).alias("r")
        ).select("id", "r.lang", "r.confidence").collect()
    }
    assert rows["a"].lang == "tlh" and rows["a"].confidence == 0.875
    assert rows["b"].lang is None and rows["b"].confidence is None


def test_external_perplexity_routes_through_model(spark):
    import math

    df = spark.createDataFrame([("a", "one two three four"), ("b", None)], ["id", "text"])
    udf = make_log_perplexity_udf("/models/en.arpa", loader=FAKE_KENLM_LOADER)
    rows = {r.id: r.p for r in df.select("id", udf(F.col("text")).alias("p")).collect()}
    expected = round(-(-4 / 2.0) * math.log(10.0) / 5, 6)
    assert rows["a"] == expected
    assert rows["b"] is None


def test_pipeline_config_model_seam(spark):
    """One constructor arg swaps the models for the whole pipeline: with
    the fake fastText claiming Klingon for everything, featurize's
    lang_pred must be 'tlh' everywhere (and keep therefore all-false
    against target_lang='en')."""
    pages = generate_pages(spark, 50, seed=11)
    cfg = PipelineConfig(
        langid_model="/models/lid.176.bin",
        langid_loader=FAKE_FT_LOADER,
        perplexity_model="/models/en.arpa",
        perplexity_loader=FAKE_KENLM_LOADER,
    )
    out = featurize(pages, cfg)
    agg = out.agg(
        F.count_distinct("lang_pred").alias("nl"),
        F.max("lang_pred").alias("lang"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.min("log_ppl").alias("lo"),
    ).collect()[0]
    assert (agg.nl, agg.lang, agg.kept) == (1, "tlh", 0)
    assert agg.lo is not None


def test_real_fasttext_bin_through_seam_end_to_end(spark, tmp_path):
    """NON-monkeypatched seam exercise for langid: serialize a tiny
    supervised model to fastText's public ``.bin`` format (magic
    793712314, version 12 — the byte layout ``fasttext.load_model``
    reads), parse it back with the real-format reader
    (functions/fasttext_bin.py), and score through
    make_langid_udf's loader seam; probabilities are checked against a
    hand-computed mean-of-rows + softmax.  The ``fasttext`` wheel is
    unavailable in this sandbox (VERDICT r3 #2); the binary format
    itself is the public contract this verifies."""
    import math

    from greatex_spark.functions.fasttext_bin import (
        FastTextBinModel,
        fasttext_bin_loader,
        write_fasttext_bin,
    )

    words = {
        "the": [1, 0, 0, 0], "and": [1, 0, 0, 0], "of": [1, 0, 0, 0],
        "le": [0, 1, 0, 0], "la": [0, 1, 0, 0], "et": [0, 1, 0, 0],
        "</s>": [0, 0, 0, 0],
    }
    labels = {
        "__label__en": [6, 0, 0, 0],
        "__label__fr": [0, 6, 0, 0],
        "__label__de": [0, 0, 6, 0],
    }
    path = write_fasttext_bin(str(tmp_path / "toy.bin"), words, labels)

    m = FastTextBinModel(path)
    assert m.get_dimension() == 4 and m.nwords == 7
    assert m.labels == list(labels)
    # "the and of" + implicit </s>: hidden = [0.75,0,0,0], scores
    # [4.5, 0, 0] -> softmax
    labs, probs = m.predict("the and of", k=2)
    p_en = math.exp(4.5) / (math.exp(4.5) + 2.0)
    assert labs[0] == "__label__en" and abs(probs[0] - p_en) < 1e-12
    # majority-French mixed line: hidden [0.25,0.5,0,0], scores [1.5,3,0]
    (labs2,), (probs2,) = m.predict(["le la the"], k=1)
    p_fr = math.exp(3.0) / (math.exp(3.0) + math.exp(1.5) + 1.0)
    assert labs2[0] == "__label__fr" and abs(probs2[0] - p_fr) < 1e-12
    # all-OOV: only </s> (zero vector) contributes -> uniform over labels
    _, (pu,) = m.predict(["zzz qqq"], k=1)
    assert abs(pu[0] - 1 / 3) < 1e-12
    # byte-level format checks + corruption detection
    raw = open(path, "rb").read()
    import struct

    assert struct.unpack_from("<ii", raw) == (793712314, 12)
    bad = tmp_path / "bad.bin"
    bad.write_bytes(b"\x00" * 8 + raw[8:])
    try:
        FastTextBinModel(str(bad))
        raise AssertionError("bad magic must be rejected")
    except ValueError:
        pass

    udf = make_langid_udf(path, loader=fasttext_bin_loader)
    df = spark.createDataFrame(
        [("a", "the and of"), ("b", "le la the"), ("c", None)], ["id", "text"]
    )
    rows = {
        r.id: r
        for r in df.select("id", udf(F.col("text")).alias("r"))
        .select("id", "r.lang", "r.confidence")
        .collect()
    }
    assert rows["a"].lang == "en" and abs(rows["a"].confidence - p_en) < 1e-6
    assert rows["b"].lang == "fr" and abs(rows["b"].confidence - p_fr) < 1e-6
    assert rows["c"].lang is None and rows["c"].confidence is None


def test_real_arpa_file_through_seam_end_to_end(spark, tmp_path):
    """NON-monkeypatched seam exercise: train a tiny bigram LM from
    counts, serialize it to a spec-conformant ARPA file (KenLM's
    interchange format), load it through make_log_perplexity_udf's
    loader seam with the real file parser (functions/arpa.py), and
    check executor-side scores against a hand-computed backoff chain.
    The kenlm *binary* package is unavailable in this sandbox (noted in
    VERDICT r3 #2 / SURVEY §7); the ARPA text format itself is the
    public contract this verifies."""
    import math

    from greatex_spark.functions.arpa import ArpaModel, arpa_loader, write_arpa
    from greatex_spark.functions.perplexity import MAX_SCORED_CHARS

    # corpus: "the cat sat", "the cat ran" -> MLE counts, log10 probs
    uni = {"<s>": -99.0, "</s>": -0.8, "the": -0.6, "cat": -0.6,
           "sat": -0.9, "ran": -0.9, "<unk>": -2.0}
    backoff = {"<s>": -0.3, "the": -0.2, "cat": -0.25}
    bi = {("<s>", "the"): -0.05, ("the", "cat"): -0.04,
          ("cat", "sat"): -0.35, ("cat", "ran"): -0.35,
          ("sat", "</s>"): -0.1, ("ran", "</s>"): -0.1}
    path = write_arpa(str(tmp_path / "toy.arpa"), uni, bi, backoff)

    m = ArpaModel(path)
    # hand-computed: <s> the (bi) + the cat (bi) + cat sat (bi) + sat </s> (bi)
    assert m.score("the cat sat", bos=True, eos=True) == (
        -0.05 + -0.04 + -0.35 + -0.1
    )
    # backoff path: (cat, dog)->unk: backoff(cat) + uni(<unk>); then (unk,</s>)
    # falls back to uni(</s>) (no backoff weight listed for <unk>)
    assert m.score("the cat dog", bos=True, eos=True) == (
        -0.05 + -0.04 + (-0.25 + -2.0) + (-0.8)
    )

    udf = make_log_perplexity_udf(path, loader=arpa_loader)
    df = spark.createDataFrame(
        [("a", "the cat sat"), ("b", "the cat dog"), ("c", None)], ["id", "text"]
    )
    rows = {r.id: r.p for r in df.select("id", udf(F.col("text")).alias("p")).collect()}
    ln10 = math.log(10.0)

    def ccnet_norm(text):
        s = text[:MAX_SCORED_CHARS].replace("\n", " ")
        n = len(s.split())
        return round(-ArpaModel(path).score(s, bos=True, eos=True) * ln10 / (n + 1), 6)

    assert rows["a"] == ccnet_norm("the cat sat")
    assert rows["b"] == ccnet_norm("the cat dog")
    assert rows["c"] is None


# ---------------------------------------------------------------------------
# subword (character-n-gram) fastText models — the lid.176.bin regime


def test_ft_hash_matches_fnv1a_with_signed_char_cast():
    """dictionary.cc's hash is FNV-1a with each byte cast through
    int8_t before the uint32 xor.  ASCII inputs must equal textbook
    FNV-1a; non-ASCII must equal an independent sign-extension replay
    (NOT plain FNV-1a — the quirk is load-bearing for bucket ids)."""
    from greatex_spark.functions.fasttext_bin import ft_hash

    def fnv1a_textbook(data: bytes) -> int:
        h = 2166136261
        for b in data:
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
        return h

    for s in ("a", "abc", "<he", "llo>"):
        assert ft_hash(s) == fnv1a_textbook(s.encode()), s

    def fnv1a_signed(data: bytes) -> int:
        h = 2166136261
        for b in data:
            sb = b - 256 if b >= 128 else b
            h = ((h ^ (sb & 0xFFFFFFFF)) * 16777619) & 0xFFFFFFFF
        return h

    for s in ("é", "<ét", "中文", "ñño"):
        assert ft_hash(s) == fnv1a_signed(s.encode("utf-8")), s
        assert ft_hash(s) != fnv1a_textbook(s.encode("utf-8")), s


def test_compute_subwords_hand_verified():
    """Hand-walked dictionary.cc computeSubwords over '<word>': the
    boundary-1-gram exclusion, the minn..maxn window, and UTF-8
    continuation bytes riding with their character."""
    from greatex_spark.functions.fasttext_bin import compute_subwords

    # "<ab>": i=0 → "<ab", "<ab>"; i=1 → "ab>"; i=2/3 too short
    assert compute_subwords("ab", 3, 4) == ["<ab", "<ab>", "ab>"]
    # 1-grams at either boundary are skipped; interior 1-grams kept
    assert compute_subwords("ab", 1, 1) == ["a", "b"]
    # é is 2 UTF-8 bytes but ONE character position: "<é>" yields
    # exactly the 3 char-boundary-respecting n-grams of lengths 2..3
    assert compute_subwords("é", 2, 3) == ["<é", "<é>", "é>"]
    # maxn=0 disables subwords entirely
    assert compute_subwords("hello", 0, 0) == []


def test_subword_bin_roundtrip_and_oov_scoring(tmp_path):
    """A written subword .bin loads through the production reader and
    scores an OUT-OF-VOCABULARY token purely from its n-gram bucket
    rows — the mechanism that lets a real lid model classify unseen
    words.  The expected hidden vector is recomputed independently in
    the test from the raw matrices."""
    import numpy as np

    from greatex_spark.functions.fasttext_bin import (
        FastTextBinModel,
        compute_subwords,
        ft_hash,
        write_fasttext_bin,
    )

    rng = np.random.default_rng(5)
    dim, bucket, minn, maxn = 8, 32, 2, 4
    words = {"hello": rng.normal(size=dim), "</s>": rng.normal(size=dim)}
    labels = {"__label__en": rng.normal(size=dim), "__label__xx": rng.normal(size=dim)}
    bucket_rows = rng.normal(size=(bucket, dim))
    path = str(tmp_path / "sub.bin")
    write_fasttext_bin(path, words, labels, bucket_rows=bucket_rows,
                       minn=minn, maxn=maxn)
    m = FastTextBinModel(path)
    assert m.args["minn"] == minn and m.args["maxn"] == maxn
    assert m.args["bucket"] == bucket

    # OOV token: ids = bucket rows of its subwords; EOS appends its
    # word row (no subwords for EOS, per initNgrams)
    f32 = lambda a: np.asarray(a, dtype=np.float32).astype(np.float64)  # noqa: E731
    subs = compute_subwords("helo", minn, maxn)
    assert subs, "test premise: OOV token must have n-grams"
    rows = [f32(bucket_rows[ft_hash(g) % bucket]) for g in subs]
    rows.append(f32(words["</s>"]))
    hidden = np.mean(rows, axis=0)
    out = np.vstack([f32(labels["__label__en"]), f32(labels["__label__xx"])])
    scores = out @ hidden
    probs = np.exp(scores - scores.max())
    probs = probs / probs.sum()
    expect_label = ["__label__en", "__label__xx"][int(np.argmax(probs))]

    (lab,), pr = m.predict("helo", k=1)
    assert lab == expect_label
    assert abs(pr[0] - probs.max()) < 1e-12

    # in-vocab token contributes word row AND its n-gram rows
    subs_hello = compute_subwords("hello", minn, maxn)
    rows2 = [f32(words["hello"])]
    rows2 += [f32(bucket_rows[ft_hash(g) % bucket]) for g in subs_hello]
    rows2.append(f32(words["</s>"]))
    hidden2 = np.mean(rows2, axis=0)
    scores2 = out @ hidden2
    probs2 = np.exp(scores2 - scores2.max())
    probs2 = probs2 / probs2.sum()
    (lab2,), pr2 = m.predict("hello", k=1)
    assert lab2 == ["__label__en", "__label__xx"][int(np.argmax(probs2))]
    assert abs(pr2[0] - probs2.max()) < 1e-12


def test_wordless_maxn0_models_unchanged(tmp_path):
    """Regression guard: maxn=0 models (the previous reader's whole
    domain) still score word-rows-only — OOV tokens contribute
    nothing."""
    import numpy as np

    from greatex_spark.functions.fasttext_bin import (
        FastTextBinModel,
        write_fasttext_bin,
    )

    dim = 4
    words = {"bonjour": [1.0, 0, 0, 0], "</s>": [0, 0, 0, 0.0]}
    labels = {"__label__fr": [1.0, 0, 0, 0], "__label__en": [-1.0, 0, 0, 0]}
    path = str(tmp_path / "plain.bin")
    write_fasttext_bin(path, words, labels)
    m = FastTextBinModel(path)
    (lab,), _ = m.predict("bonjour zzz-oov", k=1)
    assert lab == "__label__fr"
