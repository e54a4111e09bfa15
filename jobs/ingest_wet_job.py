"""spark-submit entry point for web-corpus ingestion: CommonCrawl WET
shards (or raw HTML pages) -> curated parquet documents.

The docs-side sibling of jobs/curate_job.py (which owns the
transcript north rule): this one composes the document operators over
the WET source into the standard web-curation recipe, in the fixed
stage order the operators' contracts require:

    read WET -> per-host cap -> normalize -> langid filter
    -> paragraph excise dedup -> C4 line cleanup -> Gopher quality
    gate -> exact doc dedup -> MinHash near-dup -> parquet

``--input-format html`` swaps the source for raw HTML pages (one file
per page via ``binaryFile`` — a real ``path`` data column, NOT
input_file_name(), which raises MULTI_SOURCES once the plan self-joins
in the dedup stages) and prepends the extraction tier:

    read pages -> extract_html (text + title/license/noindex)
    -> [--drop-noindex] -> [--licensed-only] -> same recipe as WET

The html-mode extras run BEFORE the heavy stages for the same
cheap-skim-first reason as the host cap: a robots/license gate is one
codegen filter over already-computed signal columns.

Order rationale: the host cap runs FIRST (cheap skim before any heavy
work — one mega-domain must not dominate the explode stages);
normalize precedes langid/quality so their counters see canonical
text (the r5 fit-vs-normalize lesson, and it preserves blank-line
paragraph boundaries — 3+ newlines collapse to exactly 2); paragraph
dedup must precede C4 because c4_clean drops blank lines and rejoins
with single newlines, destroying the boundaries paragraphs are keyed
on — and this way the quality gates judge the post-excision text that
actually ships; exact doc dedup follows excision because excision
rewrites text and therefore doc digests; MinHash runs last, over the
smallest surviving set.

    spark-submit --py-files oscar_tools_spark.zip jobs/ingest_wet_job.py \
        --input 's3://.../segments/*/wet/*.warc.wet.gz' --output <path> \
        [--cap-per-host 1000] [--normalize] [--langs en de] \
        [--langid-threshold 0.5] [--c4-clean] [--gopher]
        [--dedup-paragraphs] [--dedup-exact] [--minhash-dedup]

The summary's row counts — rows in, rows after every enabled stage,
rows out — are observed on the one write job; nothing is counted by a
separate action or read back from the output. Rows out is observed in
the write's result stage and is exact; a stage count below a shuffle
runs in a map stage, and a map stage Spark re-runs after a fetch
failure counts its rows again.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.append(_REPO_ROOT)

from pyspark.sql import Observation, SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="WET path/glob (.gz ok), or HTML page glob "
                    "with --input-format html")
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-format", choices=["wet", "html", "warc"],
                    default="wet",
                    help="wet: pre-extracted text shards; html: one raw "
                    "page per file; warc: raw crawl archives (2xx "
                    "text/html response records -> extract_html)")
    ap.add_argument("--drop-noindex", action="store_true",
                    help="(html/warc) drop pages carrying a robots noindex meta")
    ap.add_argument("--licensed-only", action="store_true",
                    help="(html/warc) keep only pages with a Creative Commons "
                    "license marker (license column stays as lineage)")
    ap.add_argument("--cap-per-host", type=int, default=0,
                    help="keep at most N docs per URL host (0 = off)")
    ap.add_argument("--normalize", action="store_true")
    ap.add_argument("--langs", nargs="*", default=[],
                    help="keep only these langid labels (empty = annotate only)")
    ap.add_argument("--langid-threshold", type=float, default=0.0,
                    help="min langid prob for --langs survival")
    ap.add_argument("--c4-clean", action="store_true")
    ap.add_argument("--gopher", action="store_true")
    ap.add_argument("--dedup-paragraphs", action="store_true")
    ap.add_argument("--dedup-exact", action="store_true")
    ap.add_argument("--minhash-dedup", action="store_true")
    args = ap.parse_args()
    if args.langid_threshold and not args.langs:
        ap.error("--langid-threshold does nothing without --langs")
    if args.input_format == "wet" and (args.drop_noindex or args.licensed_only):
        ap.error("--drop-noindex/--licensed-only need --input-format html/warc")
    if args.input_format == "html" and args.cap_per_host > 0:
        # file paths carry no URL host: HOST_REGEX extracts '' for every
        # page, so the cap would silently collapse the WHOLE corpus into
        # one host group and keep N docs total
        ap.error("--cap-per-host needs real crawl URLs (wet/warc input)")

    from pyspark.sql import functions as F

    from oscar_tools_spark.functions.gopher import gopher_keep_expr
    from oscar_tools_spark.functions.langid import identify_staged
    from oscar_tools_spark.operators.c4_clean import c4_clean
    from oscar_tools_spark.operators.dedup import (
        dedup_docs_exact,
        dedup_minhash_lsh,
        dedup_paragraphs,
    )
    from oscar_tools_spark.operators.normalize import normalize_text_expr
    from oscar_tools_spark.operators.urlblock import cap_per_host
    from oscar_tools_spark.plans.checkpoint import observation_row
    from oscar_tools_spark.sources.wet import read_wet

    spark = SparkSession.builder.appName("ingest-wet").getOrCreate()

    if args.input_format in ("html", "warc"):
        from oscar_tools_spark.operators.extract_html import extract_html

        if args.input_format == "warc":
            from oscar_tools_spark.sources.warc import read_warc

            pages = read_warc(spark, args.input).select(
                F.concat_ws(":", "source_part", "record_idx").alias("doc_uid"),
                F.col("target_uri").alias("url"),
                "warc_date",
                "html",
            )
        else:
            pages = (
                spark.read.format("binaryFile")
                .load(args.input)
                .select(
                    F.col("path").alias("doc_uid"),
                    # file corpora carry no crawl URL; the path stands
                    # in so the downstream schema is shared (host-keyed
                    # stages like --cap-per-host are only meaningful on
                    # real URLs)
                    F.col("path").alias("url"),
                    F.lit(None).cast("string").alias("warc_date"),
                    F.col("content").cast("string").alias("html"),
                )
            )
        df = extract_html(pages).select(
            "doc_uid", "url", "warc_date",
            "text", "title", "license", "noindex",
        )
    else:
        df = read_wet(spark, args.input).select(
            F.concat_ws(":", "source_part", "record_idx").alias("doc_uid"),
            F.col("target_uri").alias("url"),
            "warc_date",
            "text",
        )
    observed: dict[str, Observation] = {}

    def stage(name: str, out):
        observed[name] = Observation(f"ingest_wet_{name}")
        return out.observe(observed[name], F.count(F.lit(1)).alias("rows"))

    df = stage("rows_in", df)
    if args.drop_noindex:
        df = stage("drop_noindex", df.filter(~F.col("noindex")))
    if args.licensed_only:
        df = stage("licensed_only", df.filter(F.col("license") != ""))
    if args.cap_per_host > 0:
        df = stage("cap_per_host",
                   cap_per_host(df, args.cap_per_host, ["doc_uid"]))
    if args.normalize:
        df = stage("normalize",
                   df.withColumn("text", normalize_text_expr(F.col("text"))))
    df = identify_staged(df)
    # column-preserving: html mode carries title/license/noindex lineage
    df = df.withColumns(
        {
            "lang": F.col("identification.label"),
            "lang_prob": F.col("identification.prob"),
        }
    ).drop("identification")
    if args.langs:
        df = stage(
            "langid_filter",
            df.filter(
                F.col("lang").isin(args.langs)
                & (F.col("lang_prob") >= args.langid_threshold)
            ),
        )
    if args.dedup_paragraphs:
        # operator returns (keys, text, accounting); re-join the
        # annotation columns on the key — a digest-width equi-join
        deduped = dedup_paragraphs(df, ["doc_uid"])
        df = stage(
            "dedup_paragraphs",
            deduped.join(df.drop("text"), "doc_uid"),
        )
    if args.c4_clean:
        df = stage("c4_clean", c4_clean(df))
    if args.gopher:
        df = stage("gopher", df.filter(gopher_keep_expr(F.col("text"))))
    if args.dedup_exact:
        df = stage("dedup_exact", dedup_docs_exact(df, ["doc_uid"]))
    if args.minhash_dedup:
        df = stage("minhash_dedup", dedup_minhash_lsh(df, "doc_uid"))

    stage("rows_out", df).write.mode("overwrite").parquet(args.output)
    # None: the observed subtree was provably empty and pruned
    funnel = {
        name: (observation_row(obs) or {"rows": 0})["rows"]
        for name, obs in observed.items()
    }
    print(json.dumps({
        "job": "ingest_wet",
        "rows_in": funnel.pop("rows_in"),
        "rows_out": funnel.pop("rows_out"),
        "funnel": funnel,
        "stages": {
            "input_format": args.input_format,
            "drop_noindex": args.drop_noindex,
            "licensed_only": args.licensed_only,
            "cap_per_host": args.cap_per_host,
            "normalize": args.normalize,
            "langs": args.langs,
            "c4_clean": args.c4_clean,
            "gopher": args.gopher,
            "dedup_paragraphs": args.dedup_paragraphs,
            "dedup_exact": args.dedup_exact,
            "minhash_dedup": args.minhash_dedup,
        },
    }))


if __name__ == "__main__":
    main()
