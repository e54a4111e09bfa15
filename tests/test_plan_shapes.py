"""Physical-plan regression guards for the round-2 structural wins.

Each test pins a plan SHAPE, not a timing: optimizer or refactoring
regressions that silently re-introduce a scale problem (duplicate UDF
evaluation, recomputed LSH signatures, collapsed staging projection,
cartesian joins) fail here long before a benchmark would notice.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oscar_tools_spark.plans.pipeline import CurationConfig, curate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    # parquet scan (UDF-free source) so ArrowEvalPython counts are the
    # pipeline's own, not the synthetic datagen's
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_fused_model_pipeline_has_single_python_eval(spark):
    """langid + perplexity must share ONE Arrow round-trip: two
    ArrowEvalPython nodes would double the text serialization."""
    out = curate(_docs(spark), CurationConfig())  # model + perplexity -> fused
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]


def test_expr_pipeline_is_python_free_and_exchange_free(spark):
    out = curate(
        _docs(spark), CurationConfig(use_model_langid=False, with_perplexity=False)
    )
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # narrow scan->filter->project only


def _nodes(plan):
    """Every node of a JVM plan tree, root first."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


@pytest.mark.parametrize("filtered", ["none", "lang", "lang_and_length"])
def test_identify_staged_keeps_hits_projection_separate(spark, filtered):
    """The hit-count array must be evaluated once per row, not inlined
    into its consumers: inlining re-evaluates the stopword scan per
    conditional reference (measured 4x the regex work). Under the WET
    ingest job's language filter the scan must still appear once in the
    optimized plan (51 copies when the filter was pushed through the
    staged projections), and a conjunct that reads only the input must
    still reach the scan."""
    from oscar_tools_spark.functions.langid import (
        COMBINED_STOPWORD_PATTERN,
        identify_staged,
    )
    from oscar_tools_spark.operators.normalize import normalize_text_expr

    df = _docs(spark).withColumn("text", normalize_text_expr(F.col("text")))
    out = identify_staged(df).withColumns(
        {
            "lang": F.col("identification.label"),
            "lang_prob": F.col("identification.prob"),
        }
    )
    if filtered != "none":
        keep = F.col("lang").isin(["en", "de"]) & (F.col("lang_prob") >= 0.5)
        if filtered == "lang_and_length":
            keep = keep & (F.length("text") > 100)
        out = out.filter(keep)
    qe = out._jdf.queryExecution()
    optimized = qe.optimizedPlan()
    assert optimized.toString().count(COMBINED_STOPWORD_PATTERN[:60]) == 1
    assert "_lid_hits" in qe.executedPlan().toString()  # a real intermediate
    if filtered == "lang_and_length":
        above_scan = [
            n
            for n in _nodes(optimized)
            if n.nodeName() == "Filter"
            and n.child().nodeName() == "LogicalRelation"
        ]
        assert len(above_scan) == 1, optimized.toString()[:3000]
        condition = above_scan[0].condition().toString()
        assert "length(" in condition
        assert COMBINED_STOPWORD_PATTERN[:60] not in condition


def test_sentence_ids_scans_each_line_once(spark):
    """The per-line langid must run exactly ONE combined stopword scan
    per line (r8): the staged inner transform pins the no-CSE HOF
    pitfall (inlining re-ran scans ~5x per line, measured 7.3s vs 1.8s
    on 574k turns at 32 cores), and the combined-alternation +
    membership-count shape replaced the five per-language scans — no
    per-language pattern may appear in the plan at all."""
    from oscar_tools_spark.functions.langid import (
        COMBINED_STOPWORD_PATTERN,
        sentence_identifications_expr,
    )
    from oscar_tools_spark.functions.lexicons import LANGID_ORDER, langid_pattern

    spark.conf.set("spark.sql.maxToStringFields", "2000")
    df = _docs(spark)
    out = df.select(
        F.posexplode(sentence_identifications_expr(F.col("text"))).alias("i", "ident")
    )
    plan = _plan(out)
    assert plan.count(COMBINED_STOPWORD_PATTERN[:60]) == 1, plan[:3000]
    for lang in LANGID_ORDER:
        pat = langid_pattern(lang)[:40]
        assert plan.count(pat) == 0, (lang, plan.count(pat))


def test_minhash_window_single_pipeline_and_simhash_reuses_exchange(spark):
    """dedup_minhash_lsh (r8): the band self-join became a min-window,
    so the shingle-explode + signature pipeline must appear exactly
    ONCE — two Generate nodes total (shingle explode + band explode)
    and one Window; the join formulation evaluated the pipeline twice
    whenever ReusedExchange failed to fire (observed at bench sizes
    under AQE, where one side broadcast). dedup_simhash_hamming keeps
    the self-join (its verification is pairwise), so both sides must
    still share one exchange (ReusedExchange)."""
    from oscar_tools_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash_hamming,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # AQE re-plans exchanges at runtime and reports reuse differently by
    # parallelism; the static rule is the deterministic thing to pin
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        mh = _plan(dedup_minhash_lsh(docs, "doc_id"))
        assert mh.count("Generate") == 2, mh[:3000]
        assert "Window" in mh
        assert "ReusedExchange" in _plan(dedup_simhash_hamming(docs, "doc_id"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_embedding_lsh_band_join_reuses_exchange(spark):
    """The banded-signature self-join must shuffle once: both sides are
    the same (key, band_idx, band_key) frame keyed on (band_idx,
    band_key), so the signature matmul UDF runs ONCE per vector
    (ReusedExchange). The old probe-vs-exact design shuffled its sides
    on different keys and needed a checkpoint to avoid recompute."""
    from oscar_tools_spark.operators.dedup import dedup_embedding_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # pin the at-scale shape: with testdata-sized inputs the planner
    # broadcasts the band join's build side, which re-evaluates the
    # signature UDF (harmless at broadcast sizes); at scale both sides
    # sort-merge over the SAME hash exchange and the matmul runs once
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(dedup_embedding_lsh(emb, "vec_id", dim=64, threshold=0.98))
        assert "ReusedExchange" in plan
        # exactly one Python-UDF evaluation of the signature batch
        assert plan.count("ArrowEvalPython") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_pipeline_counts_chars_with_translate_not_regex(spark):
    """Char-class counts (alpha ratio, punctuation) must be translate()
    based: a char-class strip regexp_replace mixed with ANY other regex
    pattern in the same fused stage deoptimizes the JVM regex hot loop
    (measured 20x on the alpha predicate + scrub pair; pipeline_expr
    went 52.8s -> 5.1s at sf0.1/32 cores when fixed)."""
    for cfg in (
        CurationConfig(use_model_langid=False, with_perplexity=False),
        CurationConfig(),
    ):
        plan = _plan(curate(_docs(spark), cfg))
        assert "[^A-Za-z]" not in plan, plan[:2000]
        assert "translate" in plan


def test_jaccard_pairs_computes_shingles_once(spark):
    """The exploded-shingle frame feeds three consumers shuffling on
    different keys; column pruning breaks exchange reuse, so without
    materialization the explode ran twice. All Generate nodes must sit
    behind the checkpoint — zero in the downstream plan."""
    from oscar_tools_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark)
    plan = _plan(jaccard_pairs(docs, "doc_id", threshold=0.5))
    assert plan.count("Generate explode") == 0, plan[:2000]


def test_substring_dedup_computes_grams_once(spark):
    """The gram frame feeds the winner agg and the flag join; pruned
    canonicalization breaks exchange reuse, so without materialization
    the explode + md5 ran twice."""
    from oscar_tools_spark.operators.dedup import dedup_exact_substring

    plan = _plan(dedup_exact_substring(_docs(spark), "doc_id", gram_k=20))
    assert plan.count("Generate explode") == 0, plan[:2000]


def test_remove_boilerplate_explodes_lines_once(spark):
    """The exploded line frame feeds the DF aggregation AND the
    anti-join/regroup; un-materialized, the split+posexplode (and the
    source scan) ran twice — the executed plan had 2 Generate nodes +
    2 scans. Materialized, the downstream plan has zero Generates."""
    from oscar_tools_spark.operators.dedup import remove_boilerplate_lines

    plan = _plan(remove_boilerplate_lines(_docs(spark), ["doc_id"]))
    assert plan.count("Generate") == 0, plan[:2000]
    assert plan.count("Scan parquet") == 0, plan[:2000]


def test_incremental_minhash_derives_history_once(spark):
    """hist_keys feeds two anti-join consumers; un-materialized, each
    re-evaluated the whole seen_bands side — the history band pipeline
    ran 3x (6 Generate nodes, 4 parquet scans, 12 exchanges in the
    final plan). Both the batch band frame AND the hist key list are
    pinned, so the downstream plan must contain NO Generate and exactly
    one parquet scan (the final anti-join's new_df side)."""
    from oscar_tools_spark.operators.dedup import (
        dedup_incremental_minhash,
        minhash_bands,
    )

    docs = _docs(spark)
    seen = minhash_bands(docs.filter(F.col("doc_id") % 5 == 0), ["doc_id"]).select(
        "band_idx", "band_key"
    )
    batch = docs.filter(F.col("doc_id") % 5 != 0)
    plan = _plan(dedup_incremental_minhash(batch, seen, "doc_id"))
    assert plan.count("Generate explode") == 0, plan[:2000]
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_conversation_profile_single_shuffle(spark):
    """The lag window and the aggregation share the conversation key,
    so Spark reuses the window's hash partitioning — the whole profile
    costs exactly ONE hash exchange."""
    from oscar_tools_spark.operators.transcripts import conversation_profile

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    prof = conversation_profile(
        ev,
        conv_col="user_id",
        order_cols=("ts", "event_id"),
        role_col="event_type",
        roles=("click", "view"),
        text_col=None,
        tool_col=None,
    )
    plan = _plan(prof)
    assert plan.count("hashpartitioning") == 1, plan[:2000]


def test_no_cartesian_in_any_driver_query(spark):
    """Every contract query must plan without CartesianProduct /
    BroadcastNestedLoopJoin — the all-pairs shapes that cannot survive
    a 100x scale-up."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for name, fn in E.queries().items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The corpus side must NOT shuffle: the benchmark shingle set is
    the broadcast build side of a hash join, so the contamination check
    is map-side over the exploded corpus shingles."""
    from oscar_tools_spark.operators.decontaminate import contamination_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corp = docs.filter(F.col("doc_id") % 50 != 0)
    plan = _plan(contamination_counts(corp, bench, "doc_id"))
    assert "BroadcastHashJoin" in plan
    # exactly two hash exchanges, both small: the benchmark-side
    # distinct and the final per-doc count (which must partial-agg
    # map-side). The exploded CORPUS shingles never hash-shuffle.
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan
    assert "hashpartitioning(_s" not in plan.split("BroadcastExchange")[0]


def test_transcript_repair_chain_single_shuffle(spark):
    """merge_consecutive_roles + truncate_to_token_budget must cost ONE
    conversation-keyed shuffle total: the window establishes
    hashpartitioning(conv_id), which satisfies the run-groupBy's
    (conv_id, _run) clustering AND the truncate windows — any second
    hash Exchange means a full extra corpus shuffle at 10^12 turns."""
    from oscar_tools_spark.operators.transcripts import (
        merge_consecutive_roles,
        truncate_to_token_budget,
    )

    t = _docs(spark).select(
        F.col("doc_id").alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
    )
    plan = _plan(truncate_to_token_budget(merge_consecutive_roles(t), budget=64))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_dsir_scoring_broadcasts_lambda_table(spark):
    """score_dsir must join the B-row lambda table via broadcast (never
    shuffle the exploded corpus on bucket id) and aggregate with ONE
    doc-keyed shuffle."""
    from oscar_tools_spark.operators.dsir import fit_dsir_log_ratios, score_dsir

    docs = _docs(spark)
    lam = fit_dsir_log_ratios(
        docs, docs.filter(F.col("source") == "src0"), n_buckets=64
    )
    plan = _plan(score_dsir(docs, lam))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_render_chat_single_shuffle(spark):
    """The offset window and the regrouping share the conversation
    key — the whole SFT render costs exactly ONE hash exchange."""
    from oscar_tools_spark.operators.transcripts import render_chat

    t = _docs(spark).select(
        (F.col("doc_id") % 50).alias("conv_id"),
        (F.col("doc_id") % 7).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.col("text"),
    )
    plan = _plan(render_chat(t))
    assert plan.count("hashpartitioning") == 1, plan[:2000]


def test_corpus_diff_shuffles_digests_not_text(spark):
    """The full-outer join must consume (keys, md5) projections — the
    text column may appear only under the scans' digest projection,
    never in the exchange/join output (state is ~48 B/doc at any
    document size)."""
    from oscar_tools_spark.operators.snapshot import corpus_diff

    docs = _docs(spark)
    out = corpus_diff(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        ["doc_id"],
    )
    plan = _plan(out)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
    # each side's exchange carries exactly (doc_id, digest)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_annotate_robots_no_corpus_shuffle(spark):
    """r8 (closing the r7 verdict finding): the robots verdict is a
    per-row expression over a broadcast per-host rule-array — the
    corpus side must see NO exchange and NO sort-merge join. The only
    hashpartitioning Exchange allowed is the tiny rules-side groupBy
    feeding the broadcast."""
    from oscar_tools_spark.operators.robots import annotate_robots, robots_rules

    hosts = spark.createDataFrame(
        [("example0.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok")],
        "host string, robots_txt string",
    )
    docs = _docs(spark)
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://example0.com/p/"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    plan = _plan(annotate_robots(u, robots_rules(hosts), ["doc_id"]))
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]
    # the one permitted exchange is the rules side: it must not carry url
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "url" not in line, line


def test_dedup_docs_exact_single_scan_no_join(spark):
    """First-occurrence dedup is ONE min_by aggregate over the keyed
    input: the source is scanned once and never joined back."""
    from oscar_tools_spark.operators.dedup import dedup_docs_exact

    plan = _plan(dedup_docs_exact(_docs(spark), ["doc_id"]))
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_dedup_paragraphs_one_generate_no_window(spark):
    """Paragraph dedup explodes once and picks first occurrences with a
    map-side-combinable aggregate, not a digest-partitioned Window (a
    hot boilerplate paragraph would be one unsplittable window
    partition)."""
    from oscar_tools_spark.operators.dedup import dedup_paragraphs

    plan = _plan(dedup_paragraphs(_docs(spark), ["doc_id"]))
    assert plan.count("Generate") == 1, plan[:3000]
    assert "Window" not in plan, plan[:3000]


def test_dedup_builds_over_a_shuffle_start_no_job(spark, jobs_started):
    """Building a dedup operator over a shuffled input starts no Spark
    job: ``_ensure_parallelism`` decides from the plan, so the upstream
    stages run once, in the real query, and not also while the plan is
    built (asking an adaptive plan for its partition count runs them)."""
    from oscar_tools_spark.operators.decontaminate import decontaminate
    from oscar_tools_spark.operators.dedup import (
        dedup_docs_exact,
        dedup_minhash_lsh,
        simhash_table,
    )

    docs = _docs(spark)

    def grouped():  # a new frame each time: PySpark caches df.rdd
        return docs.groupBy("doc_id").agg(F.max("text").alias("text"))

    builds = {
        "minhash_after_exact": lambda: dedup_minhash_lsh(
            dedup_docs_exact(docs, ["doc_id"]), "doc_id"
        ),
        "simhash_table": lambda: simhash_table(grouped(), ["doc_id"]),
        "decontaminate": lambda: decontaminate(
            grouped(), docs.filter(F.col("doc_id") % 50 == 0), "doc_id"
        ),
    }
    started = {}
    for name, build in builds.items():
        before = jobs_started()
        build()
        started[name] = jobs_started() - before
    assert started == dict.fromkeys(builds, 0)


def test_single_split_input_is_lifted_before_the_explode(spark):
    """A narrow single-split input is still repartitioned round-robin to
    ``defaultParallelism`` below the word explode, so the per-word work
    runs on every core instead of one task."""
    from oscar_tools_spark.operators.dedup import simhash_table

    n = spark.sparkContext.defaultParallelism
    plan = _plan(simhash_table(_docs(spark).coalesce(1), ["doc_id"]))
    lift = f"RoundRobinPartitioning({n})"
    assert lift in plan, plan[:3000]
    assert plan.index("Generate") < plan.index(lift), plan[:3000]
