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


# The queries whose build() starts Spark jobs, each with its reason:
# work the operator's contract does while the plan is built. Every
# other query must build without starting any job. prepare() work
# (BPE training, the langid fit) is untimed by design and not counted.
_SCHEMA_READ = "the _entry builder reads parquet, and the schema read is a job"
BUILD_JOBS = {
    **dict.fromkeys(
        ["curation_docs", "decontaminate", "repetition_stats", "gopher_quality",
         "c4_clean", "pack_sequences", "vocab_stats"],
        _SCHEMA_READ,
    ),
    "dedup_components": "connected components materialize every round "
    "and check convergence with first()",
    "dedup_substring": f"{_SCHEMA_READ}; the gram table is materialized",
    "dedup_substring_excise": f"{_SCHEMA_READ}; grams and islands are materialized",
    "dedup_incremental_minhash": f"{_SCHEMA_READ}; the band and history-key "
    "tables are materialized",
    "remove_boilerplate": f"{_SCHEMA_READ}; the line table is materialized",
    "semdedup": "the k-means fit collects its bounded sample; the cell "
    "assignment is materialized",
    "dsir_select": "the log-ratio fit collects its bucket table",
    "sample_budget": "the per-range size totals are collected",
    "global_shuffle": "the per-range row totals are collected",
}


def test_every_registry_query_builds(spark, sf_dir, jobs_started):
    """load_inputs + each prepare(...) + build() yields a DataFrame whose
    schema resolves; the queries themselves are not run: build() starts
    no Spark job outside the BUILD_JOBS allow-list."""
    inputs = bench.load_inputs(spark, sf_dir, cpus=2)
    try:
        started = {}
        for name, _, prepare in bench.QUERIES:
            build = prepare(inputs)
            before = jobs_started()
            df = build()
            started[name] = jobs_started() - before
            assert isinstance(df, DataFrame), name
            assert len(df.schema.fields) > 0, name
    finally:
        inputs.transcripts.unpersist()
    assert {name for name, n in started.items() if n} == set(BUILD_JOBS), started
