"""Structured Streaming front-end for the curation pipeline.

The reference is purely batch (SURVEY.md §1.3); this is the forward-
looking continuous-ingest path: ``plans.pipeline.curate`` applies to a
``readStream`` unchanged (annotate, filter, scrub are all narrow,
stateless column expressions; ``source_part`` lineage is empty where
the stream source has no file name), so a curation job can run
incrementally over an arriving corpus with exactly-once parquet sinks and checkpointed
progress.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    text_col: str = "text",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop turns whose normalized-text
    fingerprint was already seen within the watermark horizon.

    The streaming analog of the batch ``dedup_docs_exact``/v1 dedup:
    ``dropDuplicatesWithinWatermark`` keeps per-key state and EVICTS
    keys older than the watermark horizon — plain ``dropDuplicates``
    without the event-time column among its keys would grow state
    forever, which no infinite stream survives. Fingerprint = the same
    md5-based ``fingerprint_expr`` used batch-side, so batch and
    streaming agree on what "duplicate" means. Pass explicit ``keys``
    (e.g. ["conv_id"]) to scope dedup to a grouping instead of the
    global corpus.
    """
    from ..functions.textstats import fingerprint_expr

    fp_col = "_fp"
    while fp_col in stream.columns:  # collision guard
        fp_col += "_"
    keyed = stream.withColumn(fp_col, fingerprint_expr(F.col(text_col)))
    dedup_keys = (keys or []) + [fp_col]
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(dedup_keys)
        .drop(fp_col)
    )


def run_to_parquet(
    curated: DataFrame, out_path: str, checkpoint: str, once: bool = True
):
    """Exactly-once parquet sink with checkpointed progress (the
    streaming analog of plans/checkpoint.py)."""
    writer = (
        curated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_html_pages(spark: SparkSession, path: str) -> DataFrame:
    """Continuous raw-page ingest: a binaryFile file-source stream (one
    row per arriving page, real `path` data column — the same
    input_file_name()-free contract as the batch html ingest job).
    ``pathGlobFilter`` keeps non-page droppings (sidecars, partial
    uploads named differently) out of the stream."""
    # streaming file sources require an explicit schema; binaryFile's
    # is fixed by the format
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.html")
        .load(path)
        .select(
            F.col("path").alias("doc_uid"),
            F.col("content").cast("string").alias("html"),
        )
    )


def extract_html_stream(stream: DataFrame) -> DataFrame:
    """extract_html over a page stream — every rule is a stateless
    narrow column expression, so the batch operator applies to a
    streaming frame UNCHANGED (no watermark, no state store): the
    whole extraction tier rides inside the source's codegen stage."""
    from ..operators.extract_html import extract_html

    return extract_html(stream).drop("html")
