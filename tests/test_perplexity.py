"""Perplexity scorer: ordering, determinism, threshold gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from oscar_tools_spark.functions.perplexity import score, score_text


def test_natural_text_scores_lower_than_noise():
    natural = "the quick brown fox jumps over the lazy dog in a normal sentence"
    noise = "zxqj kvw pfft 93842 @@## qqqq zzzz xkcd jjjj"
    assert score_text(natural) < score_text(noise)


def test_udf_matches_pure_function(spark):
    texts = [
        "this is perfectly ordinary english text",
        "le chat est sur la table",
        "#### 1234 $$$$ zzzz",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = score(df).collect()
    for r in rows:
        assert abs(r.perplexity - score_text(r.text)) < 1e-12


def test_determinism_across_partitionings(spark):
    texts = [(f"sentence number {i} with some ordinary words",) for i in range(50)]
    df = spark.createDataFrame(texts, "text string")
    a = sorted(r.perplexity for r in score(df.coalesce(1)).collect())
    b = sorted(r.perplexity for r in score(df.repartition(7)).collect())
    assert a == b


def test_threshold_gate(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog every day",),
         ("zxqj 93842 @@## qqqq zzzz",)],
        "text string",
    )
    rows = (
        score(df)
        .withColumn("bad", F.col("perplexity") > 30.0)
        .collect()
    )
    assert rows[0].bad is False
    assert rows[1].bad is True


def test_fit_char_bigram_lm_matches_local_reference_and_is_stable(spark):
    """Distributed corpus fit == a local numpy fit over the same texts
    (exact integer counts -> identical doubles -> identical log), and
    invariant to partitioning (counts are commutative)."""
    import numpy as np

    from oscar_tools_spark.functions.perplexity import (
        _V,
        _packed_ids,
        fit_char_bigram_lm,
    )

    texts = [
        "the quick brown fox", "pack my box with five dozen jugs",
        "", None, "aaaa bbbb", "中文 mixed LATIN", "x\x00y",  # literal NUL
    ] * 5
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    got = fit_char_bigram_lm(df.repartition(7))
    again = fit_char_bigram_lm(df.repartition(2))
    assert np.array_equal(got, again)

    counts = np.ones((_V, _V), dtype=np.float64)
    ids, nul = _packed_ids(texts)
    keep = ~(nul[:-1] | nul[1:])
    np.add.at(counts, (ids[:-1][keep], ids[1:][keep]), 1.0)
    want = np.log(counts / counts.sum(axis=1, keepdims=True))
    assert np.array_equal(got, want)


def test_corpus_fit_scorer_prefers_in_domain_text(spark):
    """A scorer built from the corpus-fit LM (through the model-swap
    seam) gives in-domain text lower perplexity than scrambled text."""
    from oscar_tools_spark.functions.perplexity import (
        fit_char_bigram_lm,
        make_batch_scorer,
        perplexity_udf,
    )
    from pyspark.sql import functions as F

    corpus = ["the cat sat on the mat " * 4, "a cat and a hat " * 4] * 10
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    lm = fit_char_bigram_lm(df)
    udf = perplexity_udf(score_batch=make_batch_scorer(lm))
    probe = spark.createDataFrame(
        [("in", "the cat sat on the mat"), ("out", "zq jxv wkp qzj xvw")],
        "k string, text string",
    )
    got = {r.k: r.p for r in probe.select("k", udf(F.col("text")).alias("p")).collect()}
    assert got["in"] < got["out"]
