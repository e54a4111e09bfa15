"""Connected components, hamming simhash dedup, with-replacement
sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from oscar_tools_spark.operators.components import connected_components, dedup_components
from oscar_tools_spark.operators.dedup import dedup_simhash_hamming
from oscar_tools_spark.operators.sampling import sample_by_budget_with_replacement


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "key_a long, key_b long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[9] == 9


def test_dedup_components_keeps_representative(spark):
    df = spark.createDataFrame([(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "key_a long, key_b long")
    kept = sorted(r.doc_id for r in dedup_components(df, pairs, "doc_id").collect())
    assert kept == [1, 4, 5, 7]


def test_dedup_simhash_hamming(spark):
    # two texts differing by one word -> tiny hamming distance
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            (3, "entirely different content about spark catalyst optimizer internals"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_simhash_hamming(df, "doc_id", chunks=8).collect())
    assert 3 in kept and 1 in kept
    assert 2 not in kept


def test_sample_with_replacement_semantics(spark):
    df = spark.createDataFrame(
        [(i, "x" * (20 + i % 30)) for i in range(60)], "doc_id long, text string"
    )
    out = sample_by_budget_with_replacement(df, ["doc_id"], 600).collect()
    ids = [r.doc_id for r in out]
    assert ids == sorted(set(ids))  # no output duplicates, corpus order
    assert 0 < len(ids) < 60
    # deterministic
    again = [r.doc_id for r in sample_by_budget_with_replacement(df, ["doc_id"], 600).collect()]
    assert ids == again


def test_sample_per_group_budgets_are_independent(spark):
    """Each group spends its own budget: per-group sampled bytes stay
    under budget, groups do not steal from each other, and a dict
    budget drops unnamed groups."""
    from oscar_tools_spark.operators.sampling import (
        sample_by_budget,
        sample_by_budget_per_group,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, sz int")
    out = sample_by_budget_per_group(
        df, ["doc_id"], "grp", 105, size_col="sz"
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r.doc_id)
    # strict < boundary: 10 rows of 10 bytes reach cum 100, the 11th
    # hits 110 which is not < 105 -> exactly 10 per group
    assert sorted(len(v) for v in by_grp.values()) == [10, 10]
    # per-group == running sample_by_budget on each group alone
    for g in ("a", "b"):
        solo = sorted(
            r.doc_id
            for r in sample_by_budget(
                df.filter(F.col("grp") == g), ["doc_id"], 105, size_col="sz"
            ).collect()
        )
        assert solo == sorted(by_grp[g])
    # dict budgets: unnamed groups sample nothing
    only_a = sample_by_budget_per_group(
        df, ["doc_id"], "grp", {"a": 105}, size_col="sz"
    ).collect()
    assert {r.grp for r in only_a} == {"a"} and len(only_a) == 10


def test_quantile_buckets_exact_and_approx(spark):
    """Exact mode: equal-count ntile bands per group with deterministic
    tie-break. Approx mode (the no-sort 100 TB path): same buckets on
    data where the sketch is exact, near-equal band sizes otherwise."""
    from pyspark.sql import functions as F

    from oscar_tools_spark.operators.stats import quantile_buckets

    rows = [("a", i, float(i)) for i in range(12)] + [
        ("b", 100 + i, float(i % 4)) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, v double")
    exact = {
        r.doc_id: r.bucket
        for r in quantile_buckets(
            df, "lang", "v", mode="exact", order_cols=("doc_id",)
        ).collect()
    }
    # group a: 12 values 0..11 -> terciles of 4
    assert [exact[i] for i in range(12)] == [1] * 4 + [2] * 4 + [3] * 4
    # group b: heavy ties broken by doc_id, still 3/3/2 split sizes
    from collections import Counter

    cb = Counter(exact[100 + i] for i in range(8))
    assert cb == {1: 3, 2: 3, 3: 2}

    approx = {
        r.doc_id: r.bucket
        for r in quantile_buckets(df, "lang", "v", mode="approx").collect()
    }
    # group a has distinct values: the sketch is exact -> same buckets
    assert [approx[i] for i in range(12)] == [exact[i] for i in range(12)]
    # every row bucketed in range
    assert set(approx.values()) <= {1, 2, 3}
    import pytest

    with pytest.raises(ValueError):
        quantile_buckets(df, "lang", "v", n_buckets=1)
    with pytest.raises(ValueError):
        quantile_buckets(df, "lang", "v", mode="nope")


def test_dedup_components_prefer_col_keeps_best(spark):
    """With prefer_col, the HIGHEST-scoring row of each component
    survives (tie: min key); unpaired rows always pass through."""
    rows = [
        (1, 0.2), (2, 0.9), (3, 0.9),   # component {1,2,3}: 2 wins (tie 2<3)
        (10, 0.5), (11, 0.1),           # component {10,11}: 10 wins
        (99, 0.0),                      # unpaired: survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key_a long, key_b long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_components(df, pairs, "doc_id", prefer_col="q").collect()
    )
    assert kept == [2, 10, 99]
    # default (no prefer_col): min key per component
    kept_min = sorted(
        r.doc_id for r in dedup_components(df, pairs, "doc_id").collect()
    )
    assert kept_min == [1, 10, 99]


def test_curation_funnel_reports_wipeouts(spark):
    """Retention per group; a group fully absent from the curated side
    reports rows_out=0 rather than disappearing."""
    from oscar_tools_spark.operators.stats import curation_funnel

    raw = spark.createDataFrame(
        [("en", 1), ("en", 2), ("en", 3), ("fr", 4), ("de", 5)],
        "lang string, doc_id long",
    )
    cur = spark.createDataFrame(
        [("en", 1), ("en", 2), ("fr", 4)], "lang string, doc_id long"
    )
    got = {r.lang: r for r in curation_funnel(raw, cur, ["lang"]).collect()}
    assert (got["en"].rows_in, got["en"].rows_out, got["en"].retention) == (3, 2, 0.6667)
    assert (got["fr"].rows_in, got["fr"].rows_out, got["fr"].retention) == (1, 1, 1.0)
    assert (got["de"].rows_in, got["de"].rows_out, got["de"].retention) == (1, 0, 0.0)


def test_dedup_components_prefer_col_null_scores_lose(spark):
    """A null-scored row must never be crowned representative (Spark's
    min(struct) sorts null first; coalesce-to-inf pins the contract)."""
    df = spark.createDataFrame(
        [(1, None), (2, 0.9), (3, 0.1)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "key_a long, key_b long")
    kept = sorted(
        r.doc_id
        for r in dedup_components(df, pairs, "doc_id", prefer_col="q").collect()
    )
    assert kept == [2]


def test_quantile_buckets_all_null_group_in_range(spark):
    """Approx mode: a group whose values are entirely null still gets
    in-range buckets (1), not nulls."""
    from oscar_tools_spark.operators.stats import quantile_buckets

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
         ("b", 4, None), ("b", 5, None)],
        "lang string, doc_id long, v double",
    )
    got = {r.doc_id: r.bucket for r in quantile_buckets(df, "lang", "v").collect()}
    assert got[4] == 1 and got[5] == 1
    assert all(v is not None for v in got.values())
