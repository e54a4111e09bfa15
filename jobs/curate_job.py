"""spark-submit entry point for the north-rule curation job.

Runs langid -> quality annotation -> tag filter -> scrub over a
transcripts table (Iceberg name or parquet path), resumable via the
bucket manifest, writing per-partition lineage. The SparkSession comes
from spark-submit (master/executors configured there); this script only
declares the plan.

    spark-submit --py-files oscar_tools_spark.zip jobs/curate_job.py \
        --input <table-or-path> --output <path> \
        [--exclude adult noisy] [--include ...] [--clean] \
        [--buckets 256] [--partitions 2048] [--no-model] [--no-resume]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# `spark-submit --py-files oscar_tools_spark.zip` puts the package on
# sys.path; for a bare `python jobs/curate_job.py` run sys.path[0] is
# jobs/ (the script dir), so add the repo root as a fallback
_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.append(_REPO_ROOT)

from pyspark.sql import Observation, SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--include", nargs="*", default=[])
    ap.add_argument("--exclude", nargs="*", default=["adult", "noisy"])
    ap.add_argument("--clean", action="store_true")
    ap.add_argument("--buckets", type=int, default=64,
                    help="resumability granularity (manifest commits)")
    ap.add_argument("--partitions", type=int, default=0,
                    help="conversation-intact repartition width (0 = skip)")
    ap.add_argument("--no-model", action="store_true")
    ap.add_argument("--c4-clean", action="store_true",
                    help="C4 line cleaning before annotation")
    ap.add_argument("--gopher", action="store_true",
                    help="Gopher quality-rule battery as a keep condition")
    ap.add_argument("--no-resume", action="store_true",
                    help="single write, no bucket manifest")
    ap.add_argument("--seen-digests", default=None,
                    help="parquet/table of conversation digests from previous "
                    "batches; whole conversations already present are dropped "
                    "BEFORE curation (incremental crawl dedup — the history "
                    "corpus participates only through this ~32-byte/conv table)")
    ap.add_argument("--emit-digests", default=None,
                    help="write this batch's conversation digests here, to be "
                    "appended to --seen-digests state for the next batch")
    ap.add_argument("--validate", action="store_true",
                    help="fail fast if the input violates the transcripts "
                    "contract (duplicate (conv_id, turn_idx) identities or "
                    "null keys) — one conversation-keyed aggregation before "
                    "any curation work starts")
    ap.add_argument("--fit-perplexity", action="store_true",
                    help="fit the char-bigram perplexity LM on THIS "
                    "batch (distributed: one extra narrow scan, counts-"
                    "only shuffle) and score with it instead of the "
                    "seed-corpus model — in-domain perplexity, the "
                    "KenLM-style train-on-your-corpus path; lineage "
                    "records the corpus-fit version string")
    ap.add_argument("--langid-model", default=None,
                    help=".npz artifact from langid_trained.save_lid_model; "
                    "when set, the trained hashed-softmax lid model scores "
                    "every turn through the pipeline's langid seam instead "
                    "of the built-in trigram profiles (covers non-Latin "
                    "languages the stopword heuristic cannot); lineage "
                    "records the model version + class count")
    ap.add_argument("--quality-model", default=None,
                    help=".npz artifact from quality_classifier.save_model; "
                    "when set, turns are scored post-scrub and those below "
                    "--quality-min are dropped (quality_prob kept as lineage)")
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument("--bpe-model", default=None,
                    help="JSON artifact from bpe.save_bpe; when set, every "
                    "kept turn gets an n_bpe_tokens column (real tokenizer "
                    "token counts for downstream packing / mixture "
                    "budgeting) — one extra Arrow pass, no shuffle")
    ap.add_argument("--merge-roles", action="store_true",
                    help="repair transcripts BEFORE curation: collapse runs "
                    "of consecutive same-role turns into one turn (streamed-"
                    "chunk / retried-tool artifacts) and re-index turn_idx "
                    "contiguously — one conversation-keyed shuffle")
    ap.add_argument("--truncate-tokens", type=int, default=0,
                    help="keep only the longest prefix of each KEPT "
                    "conversation fitting this token budget (turn-boundary "
                    "context-window packing; uses n_bpe_tokens when "
                    "--bpe-model is set, else whitespace counts); 0 = off")
    ap.add_argument("--window-tokens", type=int, default=0,
                    help="replicate kept turns into sliding context "
                    "windows of this many tokens (tail-preserving "
                    "alternative to --truncate-tokens; adds window_idx; "
                    "uses n_bpe_tokens when --bpe-model is set); 0 = off")
    ap.add_argument("--window-stride", type=int, default=0,
                    help="stride between window starts (default: half "
                    "the window)")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="additionally redact credential-shaped tokens "
                    "(AWS/GitHub/long-hex keys) from kept turns with per-kind "
                    "hit lineage; runs before BPE counting so token counts "
                    "see the final text. NOTE: in this job the reference "
                    "scrub's phone rule has already replaced card-shaped "
                    "digit runs (checksum or not), so the Luhn-validated "
                    "credit-card layer only matters when scrub_pii_extended "
                    "is used standalone on raw text — expect pii_cc=0 here")
    ap.add_argument("--structural-filter", action="store_true",
                    help="drop whole malformed conversations before curation "
                    "(< --min-turns turns, missing user/assistant roles); "
                    "adds one conversation-keyed shuffle ahead of the "
                    "narrow pipeline")
    ap.add_argument("--min-turns", type=int, default=2)
    ap.add_argument("--normalize", action="store_true",
                    help="unicode-normalize turn text before langid/"
                    "annotation (typographic quote/dash folds, zero-"
                    "width/control deletion, whitespace collapse) — one "
                    "narrow projection, adds n_chars_removed lineage")
    ap.add_argument("--render-chat", default=None,
                    help="also write the curated conversations as SFT "
                    "training rows here (one row per conversation: "
                    "rendered '<|role|>' text + assistant loss-mask char "
                    "spans). Reads back the COMMITTED main output, so it "
                    "composes with resumable writes and costs one extra "
                    "scan of the curated table")
    ap.add_argument("--shuffle-seed", type=int, default=None,
                    help="with --render-chat: lay the SFT rows out in a "
                    "deterministic seeded-md5 global shuffle order "
                    "(repartitionByRange + sortWithinPartitions on the "
                    "rank — no single-partition sort). Same seed + input "
                    "= same order at any cluster size; vary per epoch")
    ap.add_argument("--assign-split", default=None, metavar="SPEC",
                    help="add a growth-stable split column, e.g. "
                    "'train:98,val:1,test:1' — keyed on conv_id so every "
                    "turn of a conversation lands in the same split "
                    "(leakage-safe at conversation granularity); new "
                    "conversations never move existing ones between splits")
    ap.add_argument("--split-seed", type=int, default=42,
                    help="seed for --assign-split (default 42)")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable-checkpoint directory (HDFS/S3). When set, "
                    "iterative operators (connected components, embedding "
                    "LSH) truncate lineage to REPLICATED storage and survive "
                    "executor loss; without it they fall back to "
                    "localCheckpoint (single-host only — see "
                    "plans/materialize.py)")
    args = ap.parse_args()
    # contradictory flag combinations fail FAST instead of silently
    # no-opping (discovering a missing perplexity column after a
    # multi-hour 100 TB pass is the expensive way to learn this)
    if args.fit_perplexity and args.no_model:
        ap.error("--fit-perplexity needs model scoring; drop --no-model")
    if args.shuffle_seed is not None and not args.render_chat:
        ap.error("--shuffle-seed only lays out the --render-chat output; "
                 "add --render-chat (or use operators.sampling."
                 "global_shuffle directly)")
    if args.window_stride and not args.window_tokens:
        ap.error("--window-stride does nothing without --window-tokens")
    split_spec: tuple[tuple[str, int], ...] = ()
    if args.assign_split:
        try:
            split_spec = tuple(
                (name, int(w))
                for name, w in (
                    part.split(":") for part in args.assign_split.split(",")
                )
            )
        except ValueError:
            ap.error("--assign-split wants 'name:weight,name:weight,...'")
        from oscar_tools_spark.operators.sampling import validate_splits

        try:
            # the real guards live in the operator (duplicate names,
            # positive weights, 2^20 overflow bound) — surface them as
            # arg errors before a Spark session spins up
            validate_splits(split_spec)
        except ValueError as e:
            ap.error(f"--assign-split: {e}")
    if args.window_tokens and not (
        0 < (args.window_stride or args.window_tokens // 2) <= args.window_tokens
    ):
        ap.error("need 0 < stride <= window (a 1-token window has no "
                 "valid default stride — pass --window-stride 1)")

    from oscar_tools_spark.plans.pipeline import (
        CurationConfig,
        curate,
        prefilter_stage,
        repartition_conversations,
    )

    try:
        # the tag sets are checked here, before a session, a digest
        # write or the LM fit's scan
        cfg = CurationConfig(
            include=frozenset(args.include),
            exclude=frozenset(args.exclude),
            clean=args.clean,
            use_model_langid=not args.no_model,
            with_perplexity=not args.no_model,
            c4_line_clean=args.c4_clean,
            gopher_filter=args.gopher,
        )
    except ValueError as e:
        ap.error(str(e))

    builder = SparkSession.builder
    if args.checkpoint_dir:
        # let the ContextCleaner delete reliable-checkpoint data once the
        # DataFrame is GC'd (default false -> per-round checkpoints from
        # connected components / jaccard / substring dedup would
        # accumulate unbounded on the checkpoint FS for a long job).
        # Must be on the SparkConf BEFORE the context exists; if
        # spark-submit already created it, set the same key with --conf.
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)

    from oscar_tools_spark.plans.checkpoint import observation_row, run_resumable
    from oscar_tools_spark.sources.tables import TableIO

    if args.langid_model:
        import dataclasses as _dc

        from oscar_tools_spark.functions.langid_trained import (
            load_lid_model,
            make_batch_scorer as make_lid_scorer,
        )

        lid = load_lid_model(args.langid_model)
        cfg = _dc.replace(
            cfg,
            langid_score_batch=make_lid_scorer(lid),
            langid_model_version=f"{lid['version']};k={len(lid['labels'])}",
        )
    io = TableIO(spark)
    df = io.read(args.input)

    if args.validate:
        from oscar_tools_spark.operators.transcripts import validate_transcripts

        rep = validate_transcripts(df).first().asDict()
        bad = {
            k: v
            for k, v in rep.items()
            if k in ("n_null_conv_groups", "n_null_turn_idx", "n_dup_turn_keys")
            and v
        }
        if bad:
            raise SystemExit(
                f"input violates the transcripts contract: {bad} "
                f"(full report: {rep})"
            )
        print(json.dumps({"validated": rep}))

    if args.seen_digests or args.structural_filter or args.merge_roles:
        from pyspark.sql import functions as F

        # all three pre-stages make the plan multi-source (joins) or
        # shuffled (the merge's window+groupBy) — both places where
        # input_file_name() is illegal or empty — so capture lineage
        # at read time (lineage_stage keeps a pre-existing source_part)
        df = df.withColumn(
            "source_part", F.coalesce(F.input_file_name(), F.lit(""))
        )
    if args.merge_roles:
        from oscar_tools_spark.operators.transcripts import merge_consecutive_roles

        # repair FIRST, before digesting/structural checks/curation:
        # digests must fingerprint the repaired representation in BOTH
        # the --emit-digests and --seen-digests batches (digesting raw
        # turns on one side and merged blocks on the other would never
        # match, silently re-admitting every duplicate conversation
        # containing a same-role run), structural filtering should
        # judge the repaired conversation, and per-turn annotations/
        # scrubs should see the final turn boundaries. The merge
        # regroups to (conv_id, turn_idx, role, text); source_part
        # lineage rides through via carry_cols, other input columns
        # don't survive a row merge
        keep = [c for c in ("conv_id", "turn_idx", "role", "text") if c in df.columns]
        carry = ("source_part",) if "source_part" in df.columns else ()
        df = merge_consecutive_roles(
            df.select(*keep, *carry), carry_cols=carry
        ).drop("n_merged")
    if args.seen_digests:
        from oscar_tools_spark.operators.dedup import dedup_conversations_incremental

        df = dedup_conversations_incremental(df, io.read(args.seen_digests))
    if args.structural_filter:
        from oscar_tools_spark.operators.transcripts import filter_conversations

        df = filter_conversations(
            df, min_turns=args.min_turns, require_roles=("user", "assistant")
        )
    prestaged = bool(args.seen_digests or args.structural_filter or args.merge_roles)
    if (args.emit_digests or args.fit_perplexity) and prestaged:
        # the digest write and the LM fit are SEPARATE actions; without
        # pinning, each of them AND the main output write would
        # re-execute the anti-join/structural/merge pre-stages (extra
        # full input scans — for the merge, extra conversation shuffles)
        from oscar_tools_spark.plans.materialize import materialize

        df = materialize(df)
    if args.emit_digests:
        from oscar_tools_spark.operators.dedup import conversation_digests

        io.write(conversation_digests(df), args.emit_digests)

    def normalized(part):
        if not args.normalize:
            return part
        from oscar_tools_spark.operators.normalize import normalize_corpus

        # before langid/annotation so curly-quoted stopwords and
        # zero-width-split words identify correctly; narrow, fuses
        # into the same codegen stage as the annotations
        return normalize_corpus(part)

    def _resume_is_complete() -> bool:
        """True when every bucket is already committed — a resume
        no-op must not pay the LM fit's full corpus scan."""
        if args.no_resume:
            return False
        import os

        from oscar_tools_spark.plans.checkpoint import load_manifest

        done = load_manifest(os.path.join(args.output, "_manifest.jsonl"))
        return len(done) >= args.buckets

    if args.fit_perplexity and not _resume_is_complete():
        import dataclasses

        from oscar_tools_spark.functions.perplexity import (
            fit_char_bigram_lm,
            make_batch_scorer,
        )

        # fit AFTER the repair/dedup pre-stages, and on the SAME text
        # the scorer will see: transform() normalizes and runs curate's
        # pre-annotation stage before scoring, so the fit runs the same
        # two (always on the FULL batch, never the todo buckets — a
        # resume must score with the identical LM the first pass used)
        lm = fit_char_bigram_lm(prefilter_stage(normalized(df), cfg))
        cfg = dataclasses.replace(
            cfg,
            ppl_score_batch=make_batch_scorer(lm),
            ppl_model_version="char-bigram-lm-corpusfit-v1",
        )

    qmodel = None
    if args.quality_model:
        from oscar_tools_spark.functions.quality_classifier import load_model

        qmodel = load_model(args.quality_model)

    bmodel = None
    if args.bpe_model:
        from oscar_tools_spark.functions.bpe import load_bpe

        bmodel = load_bpe(args.bpe_model)

    def transform(part):
        out = curate(normalized(part), cfg)
        if split_spec:
            from oscar_tools_spark.operators.sampling import assign_split

            # conv-keyed: every turn of a conversation shares the split,
            # and the hash is a pure function of (seed, conv_id) —
            # bucket-safe under resumable writes and growth-stable
            out = assign_split(
                out, ["conv_id"], splits=split_spec, seed=args.split_seed
            )
        if args.scrub_pii:
            from oscar_tools_spark.operators.pii import scrub_pii_extended

            out = scrub_pii_extended(out)
        if qmodel is not None:
            from pyspark.sql import functions as F

            from oscar_tools_spark.functions.quality_classifier import score_quality

            out = score_quality(out, qmodel).filter(
                F.col("quality_prob") >= args.quality_min
            )
        if bmodel is not None:
            from oscar_tools_spark.functions.bpe import tokenize

            # counts only: the ids array would multiply the output
            # volume; column pruning drops it before the write
            out = tokenize(out, bmodel).drop("token_ids")
        if args.truncate_tokens > 0:
            from oscar_tools_spark.operators.transcripts import (
                truncate_to_token_budget,
            )

            # after curation/BPE so the budget sees the turns that will
            # actually ship; conversation-local, so bucket-safe
            out = truncate_to_token_budget(
                out,
                budget=args.truncate_tokens,
                tokens_col="n_bpe_tokens" if bmodel is not None else None,
            )
        if args.window_tokens > 0:
            from oscar_tools_spark.operators.transcripts import (
                window_conversations,
            )

            out = window_conversations(
                out,
                window_tokens=args.window_tokens,
                stride_tokens=args.window_stride or args.window_tokens // 2,
                tokens_col="n_bpe_tokens" if bmodel is not None else None,
            )
        if args.partitions:
            out = repartition_conversations(out, args.partitions)
        return out

    if args.no_resume:
        io.write(transform(df), args.output)
        print(json.dumps({"output": args.output, "resume": False}))
    else:
        from pyspark.sql import functions as F

        # collected as side-observers of the write job itself (zero
        # extra scans) and recorded per manifest line — the north-rule
        # per-partition metrics next to the lineage columns. With
        # --window-tokens the written rows are (turn, window) PAIRS
        # (up to W/S copies per turn), so the metric names say so —
        # 'kept_turns' would silently overcount by the overlap factor
        unit = "rows" if args.window_tokens > 0 else "turns"
        metrics = {
            f"kept_{unit}": F.count(F.lit(1)),
            # coalesce: sum over an empty pass is null, which would
            # serialize as a JSON null in the manifest
            f"scrubbed_{unit}": F.coalesce(
                F.sum((F.size(F.col("rule_hits")) > 0).cast("bigint")),
                F.lit(0),
            ),
        }
        from oscar_tools_spark.plans.pipeline import model_versions_for

        manifest = run_resumable(
            df, transform, args.output, n_buckets=args.buckets,
            observe_metrics=metrics,
            # manifest lines must attribute scores to the model that
            # actually produced them (corpus-fit vs seed), same as the
            # per-row lineage column
            model_versions=model_versions_for(cfg),
        )
        total = sum(rec["rows"] for rec in manifest.values())
        print(json.dumps({"output": args.output, "buckets": len(manifest), "rows": total}))

    if args.render_chat:
        from pyspark.sql import functions as F
        from pyspark.errors import AnalysisException

        from oscar_tools_spark.operators.sampling import global_shuffle
        from oscar_tools_spark.operators.transcripts import render_chat

        try:
            chat_src = io.read(args.output)
        except AnalysisException:
            # a resumable run whose every bucket committed ZERO rows
            # (e.g. an incremental rerun fully drained by
            # --seen-digests) leaves no parquet footers to infer a
            # schema from — nothing to render is a NORMAL outcome of
            # incremental curation, not a failure. AnalysisException
            # only: anything else (permissions, corrupt files) must
            # still fail the job.
            print(json.dumps({
                "render_chat": args.render_chat,
                "conversations": 0,
                "shuffled": args.shuffle_seed is not None,
            }))
            return
        if "window_idx" in chat_src.columns:
            # windowed output repeats (conv, turn) across overlapping
            # windows — each (conv, window) pair is its own training
            # example, so it gets its own rendered row
            chat_src = chat_src.withColumn(
                "conv_id", F.concat_ws("#", "conv_id", "window_idx")
            )
        sft = render_chat(chat_src)
        if args.shuffle_seed is not None:
            sft = (
                global_shuffle(sft, ["conv_id"], seed=args.shuffle_seed)
                .repartitionByRange(F.col("position"))
                .sortWithinPartitions("position")
            )
        # counted on the render write itself; observed after the sort,
        # above the range exchange, so its sampling job does not run it
        rendered = Observation("render_chat")
        io.write(
            sft.observe(rendered, F.count(F.lit(1)).alias("conversations")),
            args.render_chat,
        )
        # None: a provably empty render was pruned from the plan
        n_sft = (observation_row(rendered) or {"conversations": 0})["conversations"]
        print(json.dumps({
            "render_chat": args.render_chat,
            "conversations": n_sft,
            "shuffled": args.shuffle_seed is not None,
        }))


if __name__ == "__main__":
    main()
