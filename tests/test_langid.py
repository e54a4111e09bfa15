"""Language-ID: expression path, model path, per-sentence identifications."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oscar_tools_spark.functions.langid import (
    identify,
    langid_expr,
    sentence_identifications_expr,
)

SAMPLES = [
    ("the dog and the cat is in the house with you", "en"),
    ("le chat est dans le parc pour une promenade vous savez", "fr"),
    ("der hund ist nicht mit der katze und ich gehe von das haus", "de"),
    ("el perro es una buena idea para los que viven con nosotros", "es"),
    ("il gatto non vuole che il cane sono della casa per questo", "it"),
    ("zzz qqq 12345 xyzzy", "und"),
]


def test_expression_langid(spark):
    df = spark.createDataFrame(SAMPLES, "text string, expected string")
    rows = df.withColumn("ident", langid_expr(F.col("text"))).collect()
    for r in rows:
        assert r.ident.label == r.expected, r.text
        if r.expected == "und":
            assert r.ident.prob == 0.0
        else:
            assert 0.0 < r.ident.prob <= 1.0


def test_model_langid(spark):
    df = spark.createDataFrame(SAMPLES, "text string, expected string")
    rows = identify(df, use_model=True).collect()
    for r in rows:
        assert r.identification.label == r.expected, r.text


def test_model_deterministic_across_partitionings(spark):
    df = spark.createDataFrame(SAMPLES * 10, "text string, expected string")
    one = identify(df.coalesce(1)).select("text", "identification").collect()
    many = identify(df.repartition(7)).select("text", "identification").collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_sentence_identifications(spark):
    text = (
        "the dog and the cat is in the house with you\n"
        "\n"
        "le chat est dans le parc pour une promenade vous savez"
    )
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(sentence_identifications_expr(F.col("text")).alias("sids")).first()
    sids = row.sids
    assert len(sids) == 3
    assert sids[0].label == "en"
    assert sids[1] is None  # empty line -> null identification (ref :371)
    assert sids[2].label == "fr"


def test_score_batch_matches_classify_rowwise():
    """The whole-batch vectorized scorer must be bit-identical to the
    per-row classify() it replaced."""
    import pandas as pd

    from oscar_tools_spark.datagen import gen_turn_text
    from oscar_tools_spark.functions.langid import _score_batch, classify

    texts = [gen_turn_text(f"conv_{i:08d}", i % 7) for i in range(300)]
    texts += ["", "   ", "ok", "12345 #### $$$", "é" * 5, None if False else "the the the"]
    labels, probs = _score_batch(pd.Series(texts))
    for t, lab, p in zip(texts, labels, probs):
        want_lab, want_p = classify(t)
        assert lab == want_lab, (t[:40], lab, want_lab)
        assert p == want_p, (t[:40], p, want_p)


def test_identify_staged_survives_lid_hits_collision(spark):
    """An input already carrying a '_lid_hits' column must pass through
    untouched (the staging alias picks a fresh name)."""
    from oscar_tools_spark.functions.langid import identify_staged

    df = spark.createDataFrame(
        [("the cat and the dog", "keepme")], "text string, _lid_hits string"
    )
    rows = identify_staged(df).collect()
    assert rows[0]._lid_hits == "keepme"
    assert rows[0].identification.label == "en"


@pytest.mark.parametrize(
    "langs,threshold", [(["en", "de"], 0.5), (["und", "fr"], 0.0)], ids=["en_de", "und_fr"]
)
def test_identify_staged_under_filter_matches_langid_expr(spark, sf_dir, langs, threshold):
    """A language filter above the staged path must keep the rows, and
    the (label, prob) values, that the same filter keeps over the
    unstaged expression."""
    from oscar_tools_spark.functions.langid import identify_staged

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "zzz qqq 12345 xyzzy")], "doc_id long, text string"
    )
    df = docs.unionByName(edge)

    def kept(with_ident):
        ident = F.col("identification")
        return {
            r.doc_id: (r.label, r.prob)
            for r in with_ident.filter(
                ident.label.isin(langs) & (ident.prob >= threshold)
            )
            .select("doc_id", "identification.label", "identification.prob")
            .collect()
        }

    staged = kept(identify_staged(df))
    assert staged == kept(df.withColumn("identification", langid_expr(F.col("text"))))
    assert staged, "the filter kept no rows"


def test_sentence_ids_match_doc_langid_per_line(spark):
    """Staged per-line path must agree with langid_expr applied to each
    line individually (bit-identical semantics)."""
    text = "\n".join(s for s, _ in SAMPLES) + "\n\nthe end of the text"
    df = spark.createDataFrame([(text,)], "text string")
    arr = df.select(
        sentence_identifications_expr(F.col("text")).alias("a")
    ).first().a
    lines = text.split("\n")
    per_line = (
        spark.createDataFrame([(l,) for l in lines], "line string")
        .select(langid_expr(F.col("line")).alias("i"))
        .collect()
    )
    assert len(arr) == len(lines)
    for got, line, want in zip(arr, lines, per_line):
        if len(line) == 0:
            assert got is None
        else:
            assert got.label == want.i.label
            assert abs((got.prob or 0) - (want.i.prob or 0)) < 1e-6
