"""Truth-table tests for the tag filter.

Parametrized port of the reference's enumerated expectations
(/root/reference/src/impls/oscar_doc/filter_tags.rs:196-437, cases
documented at :196-206), plus the 4-document mini-corpus fixture
(filter_tags.rs:441-447). Each case is asserted three ways: against the
Spark expression, against the pure-Python reference model, and (by
construction) against each other.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oscar_tools_spark.operators.filter_tags import filter_tags, keep_expr, validate_tag_sets
from tests.reference_model import ref_filter_keep

# (annotations, include, exclude, clean, expect_keep, reference evidence)
CASES = [
    (None, set(), set(), False, True, "filter_tags.rs:208-216"),
    ([], set(), set(), False, True, "empty == null (filter_tags.rs:38-45)"),
    (None, set(), {"a"}, False, True, "filter_tags.rs:218-226"),
    (None, {"a"}, set(), False, False, "filter_tags.rs:228-237"),
    (["a"], set(), set(), False, False, "quirk: tagged + unconstrained -> drop (:239-248)"),
    (["a"], set(), {"b"}, False, True, "filter_tags.rs:250-260"),
    (["b"], set(), {"b"}, False, False, "filter_tags.rs:262-274"),
    (["a", "b"], {"a"}, set(), False, True, "filter_tags.rs:275-286"),
    (
        ["tiny", "short_sentences", "adult"],
        {"tiny", "adult"},
        {"header", "noisy"},
        False,
        True,
        "filter_tags.rs:381-400",
    ),
    (
        ["tiny", "short_sentences", "adult"],
        {"noisy", "adult"},
        {"header", "tiny"},
        False,
        False,
        "exclude wins (filter_tags.rs:402-421)",
    ),
    (
        ["short_sentences"],
        {"tiny"},
        {"header"},
        False,
        False,
        "include not subset (filter_tags.rs:422-437)",
    ),
    # --clean semantics (filter_tags.rs:39-45, :531-574)
    (None, {"tiny"}, {"header"}, True, True, "clean short-circuits tag-less docs"),
    ([], {"tiny"}, {"header"}, True, True, "clean short-circuits empty annotations"),
    (["tiny"], {"tiny"}, {"header"}, True, True, "clean ignored when tagged; include subset"),
    (["header"], {"tiny"}, set(), True, False, "clean ignored when tagged; include fails"),
    (["a"], set(), set(), True, False, "clean ignored when tagged; unconstrained drop"),
    # include requires ALL tags (subset, filter_tags.rs:119)
    (["a"], {"a", "b"}, set(), False, False, "partial include match drops"),
    (["a", "b", "c"], {"a", "b"}, set(), False, True, "full include subset keeps"),
]

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("annotations", T.ArrayType(T.StringType()), True),
    ]
)


@pytest.mark.parametrize("annotations,include,exclude,clean,expect,why", CASES)
def test_truth_table(spark, annotations, include, exclude, clean, expect, why):
    assert ref_filter_keep(annotations, include, exclude, clean) is expect, why
    df = spark.createDataFrame([(1, annotations)], SCHEMA)
    kept = filter_tags(df, include, exclude, clean).count()
    assert kept == (1 if expect else 0), why


def test_include_exclude_overlap_is_error(spark):
    df = spark.createDataFrame([(1, ["tiny"])], SCHEMA)
    with pytest.raises(ValueError):
        filter_tags(df, {"tiny"}, {"tiny"})
    with pytest.raises(ValueError):
        validate_tag_sets({"a", "b"}, {"b", "c"})
    with pytest.raises(ValueError):
        ref_filter_keep(["tiny"], {"tiny"}, {"tiny"})


def test_mini_corpus(spark):
    """Port of the 4-doc corpus fixture (filter_tags.rs:441-447)."""
    rows = [
        (0, "words like words", ["tiny"]),
        (1, "when to use\n it", None),
        (2, "to start\n with", None),
        (3, "to start\n with", ["tiny", "header"]),
    ]
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("annotations", T.ArrayType(T.StringType()), True),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = filter_tags(df, include={"tiny"}, exclude={"header"}).select("id").collect()
    assert [r.id for r in out] == [0]


def test_keep_expr_matches_reference_model_exhaustively(spark):
    """Cross-product sweep: every (tags, include, exclude, clean) combo over a
    3-tag alphabet must agree between the Spark expression and the
    pure-Python model."""
    import itertools

    alphabet = ["t1", "t2", "t3"]
    tag_choices = [None] + [
        list(c) for n in range(1, 4) for c in itertools.combinations(alphabet, n)
    ]
    set_choices = [set(c) for n in range(0, 3) for c in itertools.combinations(alphabet, n)]

    rows, expected = [], []
    i = 0
    combos = []
    for tags in tag_choices:
        for inc in set_choices:
            for exc in set_choices:
                if inc & exc:
                    continue
                for clean in (False, True):
                    combos.append((tags, inc, exc, clean))

    # Group combos by (inc, exc, clean) so each filter config is one Spark job.
    from collections import defaultdict

    by_config = defaultdict(list)
    for tags, inc, exc, clean in combos:
        by_config[(frozenset(inc), frozenset(exc), clean)].append(tags)

    for (inc, exc, clean), tag_lists in by_config.items():
        df = spark.createDataFrame(
            [(i, tags) for i, tags in enumerate(tag_lists)], SCHEMA
        ).withColumn("keep", keep_expr(F.col("annotations"), inc, exc, clean))
        got = {r.id: r.keep for r in df.collect()}
        for i, tags in enumerate(tag_lists):
            want = ref_filter_keep(tags, set(inc), set(exc), clean)
            assert got[i] == want, (tags, set(inc), set(exc), clean)


def test_text_and_annotation_forms_agree_for_every_config(spark, sf_dir):
    """keep_expr over the annotations array and keep_expr_from_text over
    the raw text agree row for row on every disjoint (include, exclude)
    pair of <=1-tag sets, with both clean values."""
    from oscar_tools_spark.datagen import synth_transcripts
    from oscar_tools_spark.functions.annotations import annotations_expr
    from oscar_tools_spark.functions.lexicons import ALL_TAGS
    from oscar_tools_spark.operators.filter_tags import keep_expr_from_text

    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .unionByName(synth_transcripts(spark, 100).select("text"))
        .withColumn("annotations", annotations_expr(F.col("text")))
    )
    sets = [frozenset()] + [frozenset({t}) for t in ALL_TAGS]
    configs = [
        (inc, exc, clean)
        for inc in sets
        for exc in sets
        if not inc & exc
        for clean in (False, True)
    ]
    assert len(configs) == 86
    ann, text = F.col("annotations"), F.col("text")
    mismatches = [
        F.sum(
            (~keep_expr(ann, inc, exc, clean).eqNullSafe(
                keep_expr_from_text(text, inc, exc, clean)
            )).cast("int")
        ).alias(f"c{i}")
        for i, (inc, exc, clean) in enumerate(configs)
    ]
    tag_rows = [
        F.sum(F.array_contains(ann, t).cast("int")).alias(t) for t in ALL_TAGS
    ]
    row = df.agg(F.count("*").alias("n"), *tag_rows, *mismatches).first()
    # non-vacuous: every tag fires somewhere, and untagged rows exist
    assert all(row[t] > 0 for t in ALL_TAGS), row
    assert row["n"] > max(row[t] for t in ALL_TAGS)
    bad = [configs[i] for i in range(len(configs)) if row[f"c{i}"]]
    assert not bad, bad


def test_text_form_rejects_unknown_tags(spark):
    """Only the built-in tags have a text condition: the text form and
    CurationConfig fail fast on anything else, while the annotation form
    keeps the reference's open vocabulary."""
    from oscar_tools_spark.operators.filter_tags import keep_expr_from_text
    from oscar_tools_spark.plans.pipeline import CurationConfig

    with pytest.raises(ValueError, match=r"'adlt'.*'short_sentences'"):
        CurationConfig(exclude=frozenset({"adlt"}))
    with pytest.raises(ValueError, match=r"'adlt'.*'short_sentences'"):
        keep_expr_from_text(F.col("text"), include={"adlt"})
    df = spark.createDataFrame([(1, ["adlt"]), (2, ["tiny"])], SCHEMA)
    assert [r.id for r in filter_tags(df, exclude={"adlt"}).collect()] == [2]
