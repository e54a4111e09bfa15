"""Dump `.explain(formatted)` physical plans for the headline contract
queries and for every bench.py registry query into BENCH/PLANS.md —
reviewable evidence that each hot path compiles to the plan the design
rules promise (codegen spans, pushed filters, broadcast sides,
ReusedExchange, no cartesian anything).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

HEADLINERS = [
    "curation_pipeline",
    "shingle_dedup",
    "dedup_embedding",
    "dedup_substring_modes",
    "decontamination",
    "sample_budget_modes",
    "sample_strategies",
    "topk_cosine_ids",
    "topk_cosine_ann",
    # round-4 additions (merged r5: quality_battery = c4+gopher,
    # text_stats_full = textstats+repetition)
    "quality_battery",
    "text_stats_full",
    "pack_sequences",
    "vocab_tfidf",
    "rebalance_mixture",
    "corpus_profile",
    # round-4 wave 2: incremental dedup, URL blocklist, transcripts
    "dedup_exact_modes",
    "dedup_incremental_minhash",
    "dedup_convs_incremental",
    "url_pipeline",
    "conversation_profile",
    # round-4 wave 3: splits, buckets, audits
    "doc_assignments",
    "curation_funnel",
    # round-5: merged + new
    "semdedup",
    "model_scores",
    "simhash_hamming_dedup",
    # round-5 wave 2: transcript repair, DSIR, PII, langid merge
    "conversation_repair",
    "dsir_weights",
    "pii_extended",
    "langid_levels",
    # round-5 wave 3: transcripts SFT prep, snapshots, layout, cleanup
    "chat_template",
    "window_conversations",
    "corpus_diff",
    "global_shuffle",
    "normalize_text",
    "text_extraction",
    "tool_profile",
]


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main(sf_dir: str) -> None:
    from oscar_tools_spark.session import get_spark

    import __spark_entry__ as E
    from bench import QUERIES, load_inputs

    cores = 8
    spark = get_spark("plans", cores=cores, shuffle_partitions=cores)
    qs = E.queries()
    lines = [
        "# Physical plans (generated by scripts/dump_plans.py)",
        "",
        f"`explain(formatted)` for the headline contract queries on {sf_dir}.",
        "What to look for: `WholeStageCodegen` spans around the hot",
        "expressions, `PushedFilters`/pruned `ReadSchema` on scans,",
        "`BroadcastHashJoin` build sides on small dims, `ReusedExchange` on",
        "self-joins, and the absence of `CartesianProduct` /",
        "`BroadcastNestedLoopJoin` anywhere (also pinned by",
        "tests/test_plan_shapes.py).",
    ]
    for name in HEADLINERS:
        df = qs[name](spark, sf_dir)
        lines += ["", f"## {name}", "", "```", formatted_plan(df).rstrip(), "```"]
    lines += [
        "",
        "# bench.py registry queries",
        "",
        "The plan each bench.py query times (`run_noop(build())`), built",
        "from the same `load_inputs` and the same registry loop.",
    ]
    inputs = load_inputs(spark, sf_dir, cores)
    for name, _, prepare in QUERIES:
        df = prepare(inputs)()
        lines += ["", f"## bench: {name}", "", "```", formatted_plan(df).rstrip(), "```"]
    out = REPO / "BENCH" / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"written {out}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
