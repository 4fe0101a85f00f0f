"""Parity: the Arrow-vectorized KR fold twins (r15 optimization)
must be bit-identical to the JVM expression forms they replace in
hot plans — same fold, same NULL rule, same empty-array rule."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.functions import textfns as T


ADVERSARIAL = [
    "", " ", "a", "hello world", "The quick brown fox",
    "tab\tand\nnewline", "é", "naïve café", "中文分词", "emoji 🙂 test",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 math", "x" * 500, "mixed 中 and ascii", None,
    "trailing space ", "  leading", "punct!?.,;", "0123456789",
]


def _rand_strings(n, rng):
    pool = string.ascii_letters + string.digits + "   .,!?-_" + "éüñ中𝔘"
    return ["".join(rng.choice(pool)
                    for _ in range(rng.randrange(0, 60)))
            for _ in range(n)]


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(1234)
    vals = ADVERSARIAL + _rand_strings(400, rng)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, s string")


def test_kr_hash_arrow_parity(corpus):
    rows = (corpus.select(
        "id", T.kr_hash(F.col("s")).alias("jvm"),
        T.kr_hash_arrow(F.col("s")).alias("vec")).collect())
    assert rows
    for r in rows:
        assert r.jvm == r.vec, r.id


@pytest.mark.parametrize("span_words", [2, 3, 10])
def test_span_keys_arrow_parity(spark, span_words):
    rng = random.Random(99)
    vocab = ["the", "a", "dog", "cat", "ran", "中文", "naïve", "x" * 40]
    docs = []
    for i in range(120):
        n = rng.randrange(0, 25)  # includes docs shorter than L
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    docs.append((997, ""))
    docs.append((998, None))
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    base = d.select("doc_id", T.words("text").alias("w"))
    wh1, wh2 = T.word_hashes_of(F.col("w"))
    jvm = (base.select("doc_id", wh1.alias("h1"), wh2.alias("h2"))
           .select("doc_id",
                   T.span_keys_of(F.col("h1"), F.col("h2"), span_words)
                   .alias("sps")))
    vec = base.select("doc_id",
                      T.span_keys_arrow(F.col("w"), span_words)
                      .alias("sps"))
    jm = {r.doc_id: r.sps for r in jvm.collect()}
    vm = {r.doc_id: r.sps for r in vec.collect()}
    assert jm.keys() == vm.keys()
    for k in jm:
        assert list(jm[k] or []) == list(vm[k] or []), k


def test_python_reference_fold():
    """The numpy fold against the ord() reference the JVM parity
    tests already pin (tests/test_text.py)."""
    rng = random.Random(7)
    strs = [s for s in ADVERSARIAL if s is not None]
    strs += _rand_strings(300, rng)
    h1, h2 = T._kr_fold_pair(strs)
    for i, s in enumerate(strs):
        ref1 = 0
        ref2 = 0
        for ch in s:
            ref1 = (ref1 * T.KR_BASE + ord(ch)) % T.KR_MOD
            ref2 = (ref2 * T.KR2_BASE + ord(ch)) % T.KR2_MOD
        assert h1[i] == ref1
        assert h2[i] == ref2


def test_term_tf_arrow_matches_explode_groupby(spark):
    """r15: the map-only Arrow tf pass must emit exactly the rows of
    explode + groupBy(doc, dl, term) — including empty docs (no
    rows), NULL word arrays, empty-string tokens, and repeated
    terms — across enough docs to span multiple Arrow batches."""
    import random

    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        _term_tf_arrow)

    rng = random.Random(13)
    vocab = ["a", "b", "ab", "", "cjk中文", "\U0001f600"]
    rows = []
    for i in range(500):
        if i % 97 == 0:
            rows.append((i, None))
        elif i % 31 == 0:
            rows.append((i, []))
        else:
            rows.append((i, [rng.choice(vocab)
                             for _ in range(rng.randrange(1, 12))]))
    df = spark.createDataFrame(rows, "doc_id bigint, w array<string>")
    wt = df.select("doc_id", F.size("w").alias("dl"), "w")
    want = {(r.doc_id, r.dl, r.term, r.tf) for r in
            wt.select("doc_id", "dl", F.explode("w").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf")).collect()}
    got = {(r.doc_id, r.dl, r.term, r.tf) for r in
           _term_tf_arrow(wt).collect()}
    assert got == want


def test_gopher_counts_arrow_matches_joins(spark):
    """r15: the one-pass gopher counts must emit exactly the rows of
    the former base/topw/topb join shape — same inner-join drop of
    empty/NULL docs, NULL top_bigram_cnt for 1-word docs, NULL
    tokens grouping like groupBy's NULL handling, and token-code
    bigram dedup equal to concat-string dedup (incl. tokens that
    CONTAIN spaces) — across enough docs to span Arrow batches."""
    import random

    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        _gopher_counts_arrow)

    rng = random.Random(17)
    vocab = ["a", "b", "ab", "", "cjk中文", "\U0001f600", "has space",
             "x" * 30]
    rows = [
        (9001, None),                       # NULL array -> dropped
        (9002, []),                         # empty -> dropped
        (9003, ["solo"]),                   # 1 word -> NULL bigram
        (9004, ["r", "r", "r", "r"]),       # max repetition
        (9005, [None, "a", None, "a"]),     # NULL tokens group
        (9006, ["a b", "c", "a", "b c"]),   # spaces inside tokens
    ]
    for i in range(600):
        rows.append((i, [rng.choice(vocab)
                         for _ in range(rng.randrange(1, 15))]))
    d = spark.createDataFrame(rows, "doc_id bigint, w array<string>")
    base = d.select("doc_id", F.size("w").alias("n_words"),
                    F.size(F.array_distinct("w")).alias("n_distinct"))
    topw = (d.select("doc_id", F.explode("w").alias("g"))
            .groupBy("doc_id", "g").count()
            .groupBy("doc_id").agg(F.max("count").alias("top_word_cnt")))
    topb = (d.where(F.size("w") >= 2)
            .select("doc_id", F.explode(F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat(w[i], ' ', w[i + 1]))")).alias("g"))
            .groupBy("doc_id", "g").count()
            .groupBy("doc_id").agg(F.max("count").alias("top_bigram_cnt")))
    want = {tuple(r) for r in
            base.join(topw, "doc_id").join(topb, "doc_id", "left")
            .select("doc_id", "n_words", "n_distinct",
                    "top_word_cnt", "top_bigram_cnt").collect()}
    got = {tuple(r) for r in _gopher_counts_arrow(d).collect()}
    assert got == want
    # force many small Arrow batches so per-batch factorize domains
    # and segment boundaries differ from the single-batch pass
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "37")
    try:
        got_small = {tuple(r) for r in
                     _gopher_counts_arrow(d).collect()}
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert got_small == want



def test_dsir_score_arrow_matches_explode_join(spark):
    """r16: the map-only DSIR scoring pass must equal the former
    explode -> (k % m) -> broadcast-lr join -> SUM(bigint) ->
    left-join coalesce(0) shape: zero-span docs (NULL arrays, docs
    shorter than L) score 0, every other doc scores the exact int64
    sum of its per-occurrence lr values — across enough docs to
    span Arrow batches, with unicode/empty/repeated tokens and
    negative lr values."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        _dsir_score_arrow)

    rng = random.Random(23)
    m, L = 64, 2
    vocab = ["a", "b", "ab", "", "cjk中文", "\U0001f600", "has space",
             "x" * 30, "tok1", "tok2"]
    rows = [(9001, None), (9002, []), (9003, ["solo"]),
            (9004, ["r", "r", "r", "r"])]
    for i in range(700):
        rows.append((i, [rng.choice(vocab)
                         for _ in range(rng.randrange(0, 12))]))
    d = spark.createDataFrame(rows, "doc_id bigint, w array<string>")
    lr_arr = np.asarray([rng.randrange(-10**7, 10**7) for _ in range(m)],
                        dtype=np.int64)
    lr_df = spark.createDataFrame(
        [(int(b), int(v)) for b, v in enumerate(lr_arr)], "b int, lr bigint")
    old = (d.select("doc_id",
                    F.explode(T.span_keys_arrow(F.col("w"), L)).alias("k"))
           .select("doc_id", (F.col("k") % m).cast("int").alias("b"))
           .join(F.broadcast(lr_df), "b")
           .groupBy("doc_id").agg(F.sum("lr").alias("score")))
    old_full = {r.doc_id: r.score for r in
                d.select("doc_id").join(old, "doc_id", "left")
                .select("doc_id", F.coalesce("score", F.lit(0))
                        .alias("score")).collect()}
    new = {r.doc_id: r.score for r in
           d.select("doc_id",
                    _dsir_score_arrow(F.col("w"), L, m, lr_arr)
                    .alias("score")).collect()}
    assert new == old_full
