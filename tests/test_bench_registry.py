"""bench.py's query registry: one ordered (name, reps, prepare) table
that the suite loop and scripts/dump_plans.py both iterate."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame

import bench

REPO = Path(__file__).resolve().parent.parent


def test_registry_names_match_bench_json_keys():
    """The JSON line's query keys (set AND order) are the registry's."""
    want = list(json.loads((REPO / "BENCH_r08.json").read_text())["parsed"]["queries"])
    assert len(want) == 33
    assert [name for name, _, _ in bench.QUERIES] == want
    three = {"pipeline_model", "pipeline_expr", "transcript_repair"}
    assert {name: reps for name, reps, _ in bench.QUERIES} == {
        name: 3 if name in three else 2 for name in want
    }


def test_every_registry_query_builds(spark, sf_dir):
    """load_inputs + each prepare(...) + build() yields a DataFrame whose
    schema resolves; the queries themselves are not run."""
    inputs = bench.load_inputs(spark, sf_dir, cpus=2)
    try:
        for name, _, prepare in bench.QUERIES:
            df = prepare(inputs)()
            assert isinstance(df, DataFrame), name
            assert len(df.schema.fields) > 0, name
    finally:
        inputs.transcripts.unpersist()
