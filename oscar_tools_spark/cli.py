"""CLI parity layer: every reference subcommand, Spark-backed.

Mirrors the reference's command surface (version dispatch then
subcommand — /root/reference/src/cli.rs:24-49; v2 registration
oscar_doc.rs:35-57, v1 oscar_txt.rs:27-44) so a user of the reference
can switch binaries and run the same commands:

    python -m oscar_tools_spark v2 extract-tags SRC DST -i tiny -e header [--clean]
    python -m oscar_tools_spark v2 extract-text SRC DST
    python -m oscar_tools_spark v2 split SRC DST -s 500
    python -m oscar_tools_spark v2 compress SRC DST [--codec zstd|gzip]
    python -m oscar_tools_spark v2 checksum SRC
    python -m oscar_tools_spark v1 dedup SRC DST
    python -m oscar_tools_spark v1 sample SRC DST -s SIZE_MB [--seed N]
    python -m oscar_tools_spark update-lang-codes SRC DST [--dry]
    python -m oscar_tools_spark curate SRC DST [-e TAG ...] [-i TAG ...] [--clean]

JSONL corpora flow through as verbatim lines for survivors (parse for
the decision, emit the original line), so output bytes match the input
documents exactly — stronger than the reference's re-serialization.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession, functions as F

from .operators.filter_tags import keep_expr, validate_tag_sets
from .session import get_spark

V2_DECISION_SCHEMA = "metadata struct<annotation: array<string>>"


def _read_jsonl_lines(spark: SparkSession, src: str):
    return spark.read.text(src).withColumnRenamed("value", "line")


def cmd_extract_tags(spark, args):
    validate_tag_sets(args.include or [], args.exclude or [])
    lines = _read_jsonl_lines(spark, args.src)
    parsed = lines.withColumn(
        "_doc", F.from_json(F.col("line"), V2_DECISION_SCHEMA)
    ).withColumn("annotations", F.col("_doc.metadata.annotation"))
    # malformed lines (unparseable, or missing content — the reference's
    # MalformedContent/MissingContent) are dropped, not fatal
    # (reference filter_tags.rs:160-169, oscar_doc.rs:238-252)
    ok = parsed.filter(
        F.col("_doc").isNotNull()
        & F.get_json_object(F.col("line"), "$.content").isNotNull()
    )
    kept = ok.filter(
        keep_expr(
            F.col("annotations"), args.include or [], args.exclude or [], args.clean
        )
    )
    kept.select("line").write.mode("overwrite").text(args.dst)


def cmd_extract_text(spark, args):
    lines = _read_jsonl_lines(spark, args.src)
    parsed = lines.withColumn(
        "_c", F.get_json_object(F.col("line"), "$.content")
    ).filter(F.col("_c").isNotNull())
    parsed.select(
        F.concat(F.col("_c"), F.lit("\n")).alias("value")
    ).write.mode("overwrite").text(args.dst)


def cmd_split(spark, args):
    from .sinks.writer import write_corpus

    write_corpus(
        _read_jsonl_lines(spark, args.src),
        args.dst,
        fmt="text",
        split_mb=args.size,
        compression="none",
        text_col="line",
    )


def cmd_compress(spark, args):
    from .sinks.writer import write_corpus

    write_corpus(
        _read_jsonl_lines(spark, args.src),
        args.dst,
        fmt="text",
        split_mb=None,
        compression=args.codec,
    )


def cmd_checksum(spark, args):
    from .sinks.checksum import write_checksum_manifests

    manifests = write_checksum_manifests(spark, args.src)
    for m in manifests:
        print(m)


def cmd_dedup(spark, args):
    from .operators.dedup import dedup_lines

    # v1 corpus: the whole stream of lines (documents separated by
    # blanks) deduped first-occurrence-wins; reassemble the v1 layout.
    files = spark.read.text(args.src, wholetext=True).select(
        F.input_file_name().alias("source_part"), F.col("value").alias("text")
    )
    out = dedup_lines(files, ["source_part"])
    out.select(F.col("line").alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(args.dst)


def cmd_sample(spark, args):
    from .operators.sampling import sample_by_budget
    from .sources.oscar_text import read_oscar_text

    docs = read_oscar_text(spark, args.src)
    sampled = sample_by_budget(
        docs,
        ["source_part", "doc_idx"],
        args.size * 1_000_000,
        seed=args.seed,
    )
    sampled.select(
        F.concat(F.col("text"), F.lit("\n")).alias("value")
    ).coalesce(1).write.mode("overwrite").text(args.dst)


def cmd_update_lang_codes(spark, args):
    from .operators.lang_codes import update_lang_codes

    df = spark.read.parquet(args.src)
    out = update_lang_codes(df, dry=args.dry)
    if args.dry:
        for r in out.select("lang").distinct().collect():
            print(f"would fix: {r.lang}")
        return
    out.write.mode("overwrite").parquet(args.dst)


def cmd_curate(spark, args):
    from .plans.pipeline import CurationConfig, curate

    cfg = CurationConfig(
        include=frozenset(args.include or []),
        exclude=frozenset(args.exclude or []),
        clean=args.clean,
        use_model_langid=not args.no_model,
        with_perplexity=not args.no_model,
    )
    df = spark.read.parquet(args.src)
    curate(df, cfg).write.mode("overwrite").parquet(args.dst)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="oscar_tools_spark")
    p.add_argument("-J", "--num-threads", type=int, default=0,
                   help="cores (0 = all), mirrors the reference's -J")
    sub = p.add_subparsers(dest="version", required=True)

    v2 = sub.add_parser("v2").add_subparsers(dest="cmd", required=True)
    et = v2.add_parser("extract-tags")
    et.add_argument("src"); et.add_argument("dst")
    et.add_argument("-i", "--include", action="append", default=[])
    et.add_argument("-e", "--exclude", action="append", default=[])
    et.add_argument("--clean", action="store_true")
    et.set_defaults(fn=cmd_extract_tags)
    ex = v2.add_parser("extract-text")
    ex.add_argument("src"); ex.add_argument("dst")
    ex.set_defaults(fn=cmd_extract_text)
    sp = v2.add_parser("split")
    sp.add_argument("src"); sp.add_argument("dst")
    sp.add_argument("-s", "--size", type=int, default=500, help="part size MB")
    sp.set_defaults(fn=cmd_split)
    co = v2.add_parser("compress")
    co.add_argument("src"); co.add_argument("dst")
    co.add_argument("--codec", default="zstd", choices=["zstd", "gzip"])
    co.set_defaults(fn=cmd_compress)
    ck = v2.add_parser("checksum")
    ck.add_argument("src")
    ck.set_defaults(fn=cmd_checksum)

    v1 = sub.add_parser("v1").add_subparsers(dest="cmd", required=True)
    dd = v1.add_parser("dedup")
    dd.add_argument("src"); dd.add_argument("dst")
    dd.set_defaults(fn=cmd_dedup)
    sa = v1.add_parser("sample")
    sa.add_argument("src"); sa.add_argument("dst")
    sa.add_argument("-s", "--size", type=int, required=True, help="sample size MB")
    sa.add_argument("--seed", type=int, default=42)
    sa.set_defaults(fn=cmd_sample)

    ul = sub.add_parser("update-lang-codes")
    ul.add_argument("src"); ul.add_argument("dst", nargs="?")
    ul.add_argument("--dry", action="store_true")
    ul.set_defaults(fn=cmd_update_lang_codes)

    cu = sub.add_parser("curate")
    cu.add_argument("src"); cu.add_argument("dst")
    cu.add_argument("-i", "--include", action="append", default=[])
    cu.add_argument("-e", "--exclude", action="append", default=[])
    cu.add_argument("--clean", action="store_true")
    cu.add_argument("--no-model", action="store_true",
                    help="expression-only langid, skip perplexity")
    cu.set_defaults(fn=cmd_curate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cores = args.num_threads if args.num_threads > 0 else "*"
    spark = get_spark("oscar-tools-spark-cli", cores=cores)
    try:
        args.fn(spark, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
