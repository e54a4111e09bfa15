"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship measurement is the north-rule pipeline (langid -> annotate
-> perplexity -> filter -> scrub) over a transcripts table synthesized
once per (sf, seed) into a local cache dir (generation excluded from
timing), reported both as seconds and turns/sec. Remaining queries
cover the operator families: dedup (exact/minhash), budget sampling,
similarity search, and the SQL-oracle flagship on `documents`.

Every query is declared once, in the ordered registry ``QUERIES`` of
``(name, reps, prepare)``: ``prepare(inputs)`` pays the query's fixed
untimed cost (model training, derived inputs) and returns ``build()``,
which returns the query's DataFrame; the timed region is exactly
``run_noop(build())``. ``load_inputs`` builds the shared inputs. The
suite loop here and scripts/dump_plans.py both iterate the registry.
Isolated min-of-N timing of a few queries:

    SPARK_GRAFT_BENCH_ONLY=winnow_fp,bpe_encode SPARK_GRAFT_BENCH_QUIET_WAIT=0 python bench.py

Used by scripts/scaling_bench.py at two parallelism levels (local[8] vs
local[32]) to evidence the >=0.8 scaling-efficiency bar in-sandbox.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from typing import NamedTuple

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402  (module-level: pandas_udf type hints)
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from oscar_tools_spark.datagen import synth_labeled_docs, synth_transcripts  # noqa: E402
from oscar_tools_spark.functions.bpe import tokenize, train_bpe  # noqa: E402
from oscar_tools_spark.functions.langid import (  # noqa: E402
    langid_model_udf,
    sentence_identifications_expr,
)
from oscar_tools_spark.functions.langid_trained import (  # noqa: E402
    fit_langid_classifier,
    make_batch_scorer,
)
from oscar_tools_spark.operators.components import dedup_components  # noqa: E402
from oscar_tools_spark.operators.dedup import (  # noqa: E402
    dedup_embedding_lsh,
    dedup_lines,
    dedup_minhash_lsh,
    dedup_paragraphs,
    dedup_simhash_hamming,
    jaccard_pairs,
    semdedup,
)
from oscar_tools_spark.operators.dsir import (  # noqa: E402
    dsir_select,
    fit_dsir_log_ratios,
    score_dsir,
)
from oscar_tools_spark.operators.extract_html import extract_html  # noqa: E402
from oscar_tools_spark.operators.fingerprint import winnow_fingerprints  # noqa: E402
from oscar_tools_spark.operators.normalize import normalize_corpus  # noqa: E402
from oscar_tools_spark.operators.pii import scrub_pii_extended  # noqa: E402
from oscar_tools_spark.operators.sampling import (  # noqa: E402
    global_shuffle,
    sample_by_budget,
)
from oscar_tools_spark.operators.similarity import topk_cosine  # noqa: E402
from oscar_tools_spark.operators.transcripts import (  # noqa: E402
    merge_consecutive_roles,
    render_chat,
    truncate_to_token_budget,
)
from oscar_tools_spark.oracles import synth_html_expr  # noqa: E402
from oscar_tools_spark.plans.pipeline import CurationConfig, curate  # noqa: E402
from oscar_tools_spark.session import get_spark  # noqa: E402

CONVS_PER_SF = 460_000  # ~13 turns/conv avg -> ~6M turns/sf (600k at sf 0.1)

# --- noise sentinel -------------------------------------------------
# This shared VM has hour-scale noisy-neighbor windows (identical runs
# swing 3-10x; see BENCH/BASELINE.md "Root cause"). A fixed md5 probe
# (compute-bound, per-core-sized so it is comparable across
# parallelism levels) is timed before and after the suite; if either
# side exceeds its pinned quiet envelope the whole suite is re-run
# once and the per-query MIN across attempts is reported, so a loud
# window can no longer set the official numbers by swallowing both
# min-of-N reps of a query.
PROBE_ROWS_PER_CORE = 1_000_000
# linear fit over quiet-window probe MEANS measured on this VM: 0.517s
# at 8 cores, 0.562s at 32 (6 reps each; nearly flat — the probe is
# compute-bound and scales cleanly when the VM is quiet, while the same
# capture minutes earlier showed 0.93..9.0s intermittent spikes at 32
# cores, exactly the signature the sentinel exists to catch). A
# borderline-elevated probe (~1.3s) was observed to coincide with a
# 1.5x-inflated model pipeline, so the envelope is deliberately tight.
PROBE_REF_INTERCEPT = 0.502
PROBE_REF_SLOPE = 0.0019
# 1.5: observed probe means separate cleanly — quiet 0.33-0.44 (py) /
# 0.49-0.73 (md5), elevated 0.72+/1.3+ — and a py probe at 0.721
# (just under the old 1.7 envelope) coincided with a 1.4x-inflated
# model pipeline, so borderline windows must trigger the second pass
PROBE_LOUD_FACTOR = 1.5


def probe_ref_sec(cpus: int) -> float:
    return PROBE_REF_INTERCEPT + PROBE_REF_SLOPE * cpus


def noise_probe(spark, cpus: int, reps: int = 3) -> float:
    """Mean of `reps` timed runs of the fixed probe job (mean, not min:
    the loud windows are INTERMITTENT — one quiet rep does not mean the
    window is quiet, and it is sustained inflation that poisons the
    suite's min-of-N timings)."""

    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0, cpus * PROBE_ROWS_PER_CORE, 1, cpus).select(
            F.md5(F.col("id").cast("string")).alias("h")
        ).agg(F.count(F.when(F.col("h") > "f0", 1)).alias("c")).collect()
        return time.perf_counter() - t0

    run()  # warm: codegen, excluded
    return sum(run() for _ in range(reps)) / reps


# The JVM md5 probe has a blind spot: a full32 capture recorded a 2x
# inflated pipeline_model (13s vs ~6s isolated minutes apart) while
# both md5 probes read quiet — the neighbor noise was hitting the
# PYTHON worker path (Arrow transfer + numpy streaming, DRAM-bound)
# without touching JVM codegen throughput. This second probe streams
# memory through a pandas UDF in every worker, mirroring exactly the
# resource the model pipeline depends on.
# quiet-window means: 0.361s at 8 cores, 0.427s at 32 (6 reps each;
# ~14 GB/s of streamed traffic at 32 cores — squarely bandwidth-bound)
PY_PROBE_REF_INTERCEPT = 0.339
PY_PROBE_REF_SLOPE = 0.00275


def py_probe_ref_sec(cpus: int) -> float:
    return PY_PROBE_REF_INTERCEPT + PY_PROBE_REF_SLOPE * cpus


def py_noise_probe(spark, cpus: int, reps: int = 3) -> float:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _stream(x: pd.Series) -> pd.Series:
        # ~128 MB of memory traffic per task: the same DRAM-bound
        # profile as the Arrow-batched scorers
        a = np.arange(1_000_000, dtype=np.float64)
        s = 0.0
        for _ in range(8):
            s += float((a * 1.0000001).sum())
        return pd.Series(np.full(len(x), s))

    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0, cpus * 8, 1, cpus).select(
            _stream(F.col("id")).alias("w")
        ).agg(F.sum("w")).collect()
        return time.perf_counter() - t0

    run()  # warm: python worker spin-up, excluded
    return sum(run() for _ in range(reps)) / reps


def sf_of(sf_dir: str) -> float:
    name = Path(sf_dir).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def transcripts_cache(spark, sf: float, cache_root: str = "/tmp/oscar_bench") -> str:
    n_convs = max(int(CONVS_PER_SF * sf), 50)
    path = os.path.join(cache_root, f"transcripts_n{n_convs}_seed42.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_transcripts(spark, n_convs, partitions=32).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Inputs(NamedTuple):
    spark: object
    sf_dir: str
    sf: float
    transcripts: object  # persisted, repartitioned transcripts table
    n_turns: int
    docs: object
    emb: object
    qvec: list


def load_inputs(spark, sf_dir: str, cpus: int) -> Inputs:
    # SPARK_GRAFT_SF_FORCE scales the SYNTHESIZED transcripts table
    # independently of the testdata dir (the doc/embedding tables top
    # out at sf0.1) — used by scaling_bench --sf1 for the
    # throughput-vs-input-size evidence
    sf = float(os.environ.get("SPARK_GRAFT_SF_FORCE") or sf_of(sf_dir))
    tpath = transcripts_cache(spark, sf)
    # materialize the input with one partition per 2 cores so the timed
    # runs measure pipeline compute at the session's parallelism, not
    # the accident of cache-file sizes
    transcripts = spark.read.parquet(tpath).repartition(cpus * 2).persist()
    n_turns = transcripts.count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    return Inputs(spark, sf_dir, sf, transcripts, n_turns, docs, emb, qvec)


# --- the query registry ---------------------------------------------
# (name, reps, prepare): prepare(inputs) runs UNTIMED and returns
# build(); the timed region is exactly run_noop(build()), so anything
# build() does eagerly (dsir_select's fit) is part of the measurement.


def _entry(q):
    """A driver-contract query from __spark_entry__."""
    return lambda i: lambda: q(i.spark, i.sf_dir)


def _pipeline(**cfg):
    return lambda i: lambda: curate(
        i.transcripts, CurationConfig(exclude=frozenset({"adult", "noisy"}), **cfg)
    )


def _bpe_encode(i: Inputs):
    # training is driver-side on a capped sample (a fixed cost, excluded)
    model = train_bpe(i.docs, vocab_size=256 + 128, sample_cap=500)
    return lambda: tokenize(i.transcripts, model).select(
        "conv_id", "turn_idx", "n_bpe_tokens"
    )


def _lid_trained(i: Inputs):
    # training is a fixed driver-side cost on the synth labeled corpus
    # (excluded), like bpe_encode
    model = fit_langid_classifier(synth_labeled_docs(i.spark, 2400), per_class_cap=300)
    udf = langid_model_udf(make_batch_scorer(model))
    return lambda: i.transcripts.select(
        "conv_id", "turn_idx", udf(F.col("text")).alias("ident")
    )


def _dedup_paragraphs(i: Inputs):
    conv_docs = i.transcripts.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: F.coalesce(s.getField("text"), F.lit("")),
            ),
            "\n\n",
        ).alias("text")
    )
    return lambda: dedup_paragraphs(conv_docs, ["conv_id"])


def _html_extract(i: Inputs):
    pages = i.transcripts.select(
        "conv_id",
        "turn_idx",
        synth_html_expr(F.col("turn_idx"), F.coalesce("text", F.lit(""))).alias("html"),
    )
    return lambda: extract_html(pages).select(
        "conv_id", "turn_idx", "text", "title", "license", "noindex"
    )


def _dsir_select(i: Inputs):
    def build():  # the fit runs here, eagerly: inside the timed region
        lam = fit_dsir_log_ratios(
            i.docs, target_expr=F.col("source") == "src0", n_buckets=4096
        )
        return dsir_select(score_dsir(i.docs, lam), 10_000)

    return build


QUERIES = [
    # q1: the north-rule pipeline with model UDFs (the F1-bearing path).
    # The two headline pipelines (they set turns/sec) get an extra rep
    # because a loud window has been observed swallowing both of two
    # consecutive runs
    ("pipeline_model", 3, _pipeline()),
    # q2: pure-expression pipeline (no Python anywhere)
    ("pipeline_expr", 3, _pipeline(use_model_langid=False, with_perplexity=False)),
    # q3-q6: operator families over driver testdata
    ("dedup_lines", 2, lambda i: lambda: dedup_lines(i.docs, ["doc_id"])),
    ("minhash_dedup", 2, lambda i: lambda: dedup_minhash_lsh(i.docs, "doc_id")),
    (
        "sample_budget",
        2,
        lambda i: lambda: sample_by_budget(i.docs, ["doc_id"], 50_000, size_col="n_chars"),
    ),
    ("topk_cosine", 2, lambda i: lambda: topk_cosine(i.emb, i.qvec, k=10)),
    # q7: SQL-oracle flagship over documents
    ("curation_docs", 2, _entry(E.q_curation_pipeline)),
    # q8-q11: the round-2 heavy operators (plan guards pin their shapes;
    # these baselines pin their constants)
    (
        "dedup_embedding",
        2,
        lambda i: lambda: dedup_embedding_lsh(i.emb, "vec_id", dim=64, threshold=0.98),
    ),
    # round-5: SemDeDup — k-means cells + within-cell cosine join (the
    # data-adaptive sibling of the hyperplane-LSH path above)
    (
        "semdedup",
        2,
        lambda i: lambda: semdedup(i.emb, "vec_id", dim=64, n_clusters=16, threshold=0.98),
    ),
    (
        "dedup_components",
        2,
        lambda i: lambda: dedup_components(
            i.docs, jaccard_pairs(i.docs, "doc_id", threshold=0.5), "doc_id"
        ),
    ),
    (
        "simhash_hamming_dedup",
        2,
        lambda i: lambda: dedup_simhash_hamming(i.docs, "doc_id", chunks=4),
    ),
    # round-3 additions: decontamination + repetition signals + substring dedup
    ("decontaminate", 2, _entry(E.q_decontaminate)),
    ("repetition_stats", 2, _entry(E.q_repetition_stats)),
    ("dedup_substring", 2, _entry(E.q_dedup_substring)),
    # round-4: span-excision variant (window-lead grams + island merge
    # + per-doc reconstruction — heavier than the drop mode by design)
    ("dedup_substring_excise", 2, _entry(E.q_dedup_substring_excise)),
    # round-4 quality/assembly operators: expression battery, HOF line
    # filter, applyInPandas packing, explode+agg vocab
    ("gopher_quality", 2, _entry(E.q_gopher_quality)),
    ("c4_clean", 2, _entry(E.q_c4_clean)),
    ("pack_sequences", 2, _entry(E.q_pack_sequences)),
    ("vocab_stats", 2, _entry(E.q_vocab_stats)),
    # round-6: winnowing fingerprints (MOSS scheme) over the full
    # transcripts table — posexplode + three Windows on ONE
    # conv-keyed exchange, lag-dedupe instead of a distinct shuffle
    (
        "winnow_fp",
        2,
        lambda i: lambda: winnow_fingerprints(
            i.transcripts.withColumn("_tid", F.concat_ws(":", "conv_id", "turn_idx")),
            "_tid",
        ),
    ),
    # round-4: incremental (batch-vs-history) near-dup — history
    # participates through its band table only; two banded anti-joins
    ("dedup_incremental_minhash", 2, _entry(E.q_dedup_incremental_minhash)),
    # round-4: corpus-frequency boilerplate strip — explode, DF count,
    # anti-join, in-order regroup
    ("remove_boilerplate", 2, _entry(E.q_remove_boilerplate)),
    # round-5: byte-level BPE encode of every turn. The timed path is
    # the Arrow-batched word-cached encode UDF — the real token counts
    # packing/mixture budgeting consume.
    ("bpe_encode", 2, _bpe_encode),
    # round-7: trained hashed-softmax langid over every turn. The timed
    # path is the Arrow batch scorer (numpy window-pack featurize + K
    # bincounts) through the langid_model_udf seam, the
    # fastText-lid-shaped hot path.
    ("lid_trained", 2, _lid_trained),
    # round-7: paragraph-level excise dedup over conversation
    # documents derived from the full transcripts table (one
    # paragraph per turn — repeated turn texts across conversations
    # give real cross-doc duplication). Measured plan: the conv
    # regroup + 574k-paragraph posexplode + digest min(struct)
    # shuffle + winner semi-join + per-doc reassembly.
    ("dedup_paragraphs", 2, _dedup_paragraphs),
    # round-7: HTML -> text extraction over every turn, each wrapped
    # in the shared synthetic page (title/meta/style/script/comment/
    # entities/license markers). One narrow codegen projection —
    # ~10 regexp_replace + entity replace chain per row, no shuffle,
    # no Python worker; this is the raw-crawl ingest hot path.
    ("html_extract", 2, _html_extract),
    # round-5: transcript repair over the REAL transcripts table —
    # merge consecutive same-role runs (one window + one regroup, a
    # single conv-keyed shuffle) then truncate each conversation to a
    # 2048-token prefix (one running-sum window on the same key).
    # reps=3: the regroup's collect_list(struct) ObjectHashAggregate
    # is the most memory-pressure-sensitive operator in the suite —
    # the r5 driver capture recorded 10.8s vs a 2.76s quiet snapshot
    # because a loud window swallowed both of two reps
    (
        "transcript_repair",
        3,
        lambda i: lambda: truncate_to_token_budget(
            merge_consecutive_roles(i.transcripts), budget=2048
        ),
    ),
    # round-5: DSIR importance scoring — fit is ONE B-bounded bucket
    # aggregation with a conditional target count (eager, included in
    # the timing: it is part of the operator's real cost), scoring is
    # one explode -> broadcast join -> doc-keyed sum
    ("dsir_select", 2, _dsir_select),
    # round-5: Luhn-validated credit-card + secrets scrub over the full
    # transcripts table — shuffle-free narrow projection; the HOF Luhn
    # check only touches candidate fragments, never the raw text
    ("pii_scrub", 2, lambda i: lambda: scrub_pii_extended(i.transcripts)),
    # round-5: unicode normalization of every turn — the pre-langid
    # cleanup as ONE narrow codegen projection (translate folds +
    # ASCII collapse), no shuffle
    (
        "normalize",
        2,
        lambda i: lambda: normalize_corpus(i.transcripts).select(
            "conv_id", "turn_idx", "text", "n_chars_removed"
        ),
    ),
    # round-5: SFT chat rendering over the REAL transcripts table —
    # role-delimited text + assistant loss-span offsets from a
    # running-sum window, one conv-keyed shuffle (plan-guarded)
    ("chat_render", 2, lambda i: lambda: render_chat(i.transcripts)),
    # round-5: deterministic global training shuffle of the transcripts
    # table — seeded-md5 rank via the fixed-range prefix partitioner
    # (totals collect + one bucket-keyed window, no global sort)
    (
        "global_shuffle",
        2,
        lambda i: lambda: global_shuffle(i.transcripts, ["conv_id", "turn_idx"]).select(
            "conv_id", "turn_idx", "position"
        ),
    ),
    # per-line langid over the transcripts table — the per-line hot path
    # (staged zip_with shape; the inline-HOF form measured 4x slower)
    (
        "sentence_ids",
        2,
        lambda i: lambda: i.transcripts.select(
            "conv_id",
            "turn_idx",
            F.posexplode(sentence_identifications_expr(F.col("text"))).alias(
                "line_idx", "ident"
            ),
        ),
    ),
]


def run_suite(inputs: Inputs, only: set[str] | None = None) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name, reps, prepare in QUERIES:
        if only is not None and name not in only:
            continue
        build = prepare(inputs)
        run_noop(build())  # warm run: codegen + JIT, excluded from the measurement
        # min of N measured runs: this shared VM shows rare 3-10x
        # noise spikes (neighbor contention, GC alignment) that would
        # otherwise be recorded as the operator's cost forever
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            run_noop(build())
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        f"bench-{cpus}",
        cores=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            # small testdata files otherwise pack into a handful of read
            # tasks, idling most cores and poisoning the scaling signal;
            # at real scale the default 128m is right
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "262144",
        },
    )
    inputs = load_inputs(spark, sf_dir, cpus)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only.split(",")) if only else None

    ref = probe_ref_sec(cpus)
    py_ref = py_probe_ref_sec(cpus)

    def probes_loud(p: float, y: float) -> bool:
        return p > ref * PROBE_LOUD_FACTOR or y > py_ref * PROBE_LOUD_FACTOR

    # Pre-suite wait-for-quiet: the noisy-neighbor windows are
    # minutes-scale, so a bounded wait (probe -> sleep -> re-probe, up
    # to ~3 min) often starts the FIRST attempt inside a quiet window
    # instead of burning a full suite run to discover the noise. The
    # probes cost ~1s each; a wasted suite attempt costs ~50s at sf0.1.
    quiet_wait = 0.0
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "180"))
    while quiet_wait < max_wait:
        if not probes_loud(noise_probe(spark, cpus), py_noise_probe(spark, cpus)):
            break
        time.sleep(30.0)
        quiet_wait += 30.0

    # Up to 4 attempts with growing backoff (r6 verdict: 2 attempts
    # both landed loud and the official number understated the quiet
    # floor by ~20%); per-query MIN across attempts is reported.
    # SPARK_GRAFT_BENCH_ATTEMPTS caps it: the scaling ladder sets 2 —
    # a 1-core pinned suite is ~11 min/attempt, and its min-of-reps
    # already rides out noise, so 4 attempts there is pure cost.
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "4")))
    # The bracketing probes have a blind spot: a noise burst that starts
    # AND ends mid-suite inflates the middle queries while both probes
    # read quiet (observed: a 'quiet' capture 30% over the per-query
    # floors). MIN_ATTEMPTS forces at least N suite runs regardless of
    # probe verdicts; the per-query min across attempts filters
    # mid-suite bursts the way min-of-reps filters per-query ones.
    # default 2: one extra suite run (~1 min at sf0.1) buys mid-suite
    # burst immunity for the official capture; the scaling ladder's
    # pinned low-core levels override to 1 via the env var.
    min_attempts = min(
        max_attempts,
        max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MIN_ATTEMPTS", "2"))),
    )
    attempts: list[dict[str, float]] = []
    probes: list[list[float]] = []
    py_probes: list[list[float]] = []
    loud = False
    for attempt in range(max_attempts):
        p0, y0 = noise_probe(spark, cpus), py_noise_probe(spark, cpus)
        attempts.append(run_suite(inputs, only_set))
        p1, y1 = noise_probe(spark, cpus), py_noise_probe(spark, cpus)
        probes.append([round(p0, 3), round(p1, 3)])
        py_probes.append([round(y0, 3), round(y1, 3)])
        loud = probes_loud(max(p0, p1), max(y0, y1))
        if not loud and attempt + 1 >= min_attempts:
            break
        if loud and attempt + 1 < max_attempts:
            # backoff only waits out LOUD windows; a quiet attempt that
            # continues merely to satisfy min_attempts re-runs at once
            time.sleep(20.0 * (attempt + 1))
    timings = {
        k: min(t[k] for t in attempts if k in t) for k in attempts[0]
    }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": inputs.sf,
        "cpus": cpus,
        "n_turns": inputs.n_turns,
        "noise_probe": {
            "ref_sec": round(ref, 3),
            "loud_threshold_sec": round(ref * PROBE_LOUD_FACTOR, 3),
            "probe_sec": probes,
            "py_ref_sec": round(py_ref, 3),
            "py_loud_threshold_sec": round(py_ref * PROBE_LOUD_FACTOR, 3),
            "py_probe_sec": py_probes,
            "suite_attempts": len(attempts),
            "min_attempts": min_attempts,
            "quiet_wait_sec": quiet_wait,
            "loud_window": loud,
        },
    }
    for key, qname in (
        ("turns_per_sec_model", "pipeline_model"),
        ("turns_per_sec_expr", "pipeline_expr"),
    ):
        if qname in timings:
            result[key] = round(inputs.n_turns / timings[qname], 1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
