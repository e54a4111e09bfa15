"""Driver-contract regression guard: entry() smoke + a sample of
queries vs their DuckDB oracles at sf0.001 (the full sweep lives in
scripts/check_oracles.py)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
SPOT_CHECK = ["annotate_scrub", "filter_matrix", "text_extraction", "normalize_text", "events_analytics", "url_pipeline", "curation_pipeline"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["documents", "embeddings", "events"]:
        con.sql(f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "lang", "scrubbed", "annotations_str", "quality"]


def test_every_query_has_callable_and_oracle_alignment():
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25
    rows_only = set(q) - set(o)
    assert rows_only == {
        # fused trained-model scorers (langid label, perplexity,
        # quality sigmoid); replay-fuzzed in test_random_equivalence
        "model_scores",
        # hyperplane sign bits / centroids not SQL-portable; recall
        # pytest-gated (test_ann_invariants.py)
        "topk_cosine_ann",
    }
    # the driver gate covers the first 50 entries: the whole registry
    # must fit so EVERY operator family gets a driver CORRECTNESS row
    order = list(q)
    assert len(order) <= 50, order[50:]


def test_no_complex_output_columns(spark):
    """Driver-sortability contract: the driver's correctness harness
    sorts the RAW pandas frame before hashing, and pandas cannot
    factorize list/dict cells — so no queries() output column may be
    ArrayType / MapType / StructType (CORRECTNESS_r05 bpe_tokens ERROR).
    Only schemas are asserted, but BUILDING some queries is not free:
    several run driver-side prep jobs (BPE training, k-means centroid
    fits, temperature-target counts) before returning their frame."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, fn in E.queries().items():
        schema = fn(spark, SF).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not bad, f"complex-typed output columns break the driver canonicalizer: {bad}"


def test_local_gate_reproduces_driver_unsortable_failure():
    """scripts/check_oracles.normalize must fail on an array-typed
    column the same way the driver does (sort raw first), so the local
    gate can never again mask a driver-side canonicalizer crash."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from check_oracles import normalize as gate_normalize

    df = pd.DataFrame({"doc_id": [2, 1], "token_prefix": [[1, 2], [3]]})
    with pytest.raises(TypeError):
        gate_normalize(df)


@pytest.mark.parametrize("name", SPOT_CHECK)
def test_query_matches_oracle(spark, duck, name):
    got = normalize(E.queries()[name](spark, SF).toPandas())
    want = normalize(duck.sql(E.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_repetition_stats_inrow_fold_matches_join_shape(spark, tmp_path):
    """r8: q_repetition_stats computes max_line_frac in-row (fold over
    the sorted line array) instead of explode -> groupBy(doc_id, line)
    -> regroup -> join. The fold must reproduce the join shape's
    values AND its null-text drop semantics on every edge case the
    old shape handled implicitly."""
    from pyspark.sql import functions as F

    rows = [
        (1, "a\nb\nc"),          # all distinct -> 1/3
        (2, "x\nx\nx"),          # all same -> 3/3
        (3, "a\na\nb\nb\nb"),    # max run 3 of 5
        (4, ""),                 # split('') = [''] -> 1/1
        (5, "\n\n"),             # three empty lines -> 3/3
        (6, None),               # null text: dropped by the old inner join
        (7, "z"),                # single line -> 1/1
        (8, "b\na\nb\na\nb"),    # interleaved dups: max count 3 of 5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = E.q_repetition_stats(spark, sf_dir)

    # the pre-r8 join formulation, verbatim
    from oscar_tools_spark.functions.textstats import dup_ngram_frac_expr

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = src.select(
        "doc_id",
        F.round(dup_ngram_frac_expr(F.col("text"), 2), 6).alias("dup_2gram_frac"),
        F.round(dup_ngram_frac_expr(F.col("text"), 3), 6).alias("dup_3gram_frac"),
    )
    lines = src.select(
        "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
    )
    lr = (
        lines.groupBy("doc_id", "line")
        .count()
        .groupBy("doc_id")
        .agg(F.round(F.max("count") / F.sum("count"), 6).alias("max_line_frac"))
    )
    want = fr.join(lr, "doc_id").orderBy("doc_id")

    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # shape guard: the in-row form has no join and only the orderBy
    # range exchange
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # the only exchange is the orderBy's range partitioning (the AQE
    # plan string repeats it in the initial-plan section)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" in plan


def test_repetition_stats_drops_null_doc_id(spark, tmp_path):
    """A null doc_id row is dropped, as the pre-r8 inner join on doc_id
    and the DuckDB oracle's join both drop it; the in-row fold filtered
    only null text."""
    from oscar_tools_spark.oracles import q_repetition_stats as oracle_sql

    rows = [(1, "a\na\nb"), (None, "x\nx"), (2, "p q r s")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = E.q_repetition_stats(spark, sf_dir).toPandas()
    assert got["doc_id"].notna().all()
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = con.sql(oracle_sql()).df()
    pd.testing.assert_frame_equal(normalize(got), normalize(want), check_dtype=False)
