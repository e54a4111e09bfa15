"""Structured Streaming front-end for the curation pipeline.

The reference is purely batch (SURVEY.md §1.3); this is the forward-
looking continuous-ingest path: ``plans.pipeline.curate`` applies to a
``readStream`` unchanged (annotate, filter, scrub are all narrow,
stateless column expressions; ``source_part`` lineage is empty where
the stream source has no file name), so a curation job can run
incrementally over an arriving corpus with exactly-once parquet sinks and checkpointed
progress. Aggregation examples (per-language rates) use watermarked
event-time windows.
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


def tag_rates(stream: DataFrame, window: str = "10 minutes", slide: str | None = None) -> DataFrame:
    """Windowed per-tag counts with a watermark for late turns."""
    from ..functions.annotations import annotations_expr

    tagged = stream.withColumn("annotations", annotations_expr(F.col("text")))
    exploded = tagged.select(
        "ts", F.explode_outer(F.col("annotations")).alias("tag")
    ).withColumn("tag", F.coalesce(F.col("tag"), F.lit("__untagged__")))
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        exploded.withWatermark("ts", "1 hour")
        .groupBy(win.alias("win"), "tag")
        .agg(F.count("*").alias("n"))
        .select("win.start", "win.end", "tag", "n")
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


def _committed_state_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """Committed (``_SUCCESS``-marked) ``v=N`` state versions under
    ``state_dir``, via the Hadoop FileSystem API so hdfs:// and s3a://
    work (os.* checks silently fail there — the r4 sidecar lesson)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                v = int(name[2:])
            except ValueError:
                continue
            if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                out.append(v)
    return sorted(out)


def run_dedup_stream_with_history(
    stream: DataFrame,
    out_path: str,
    state_dir: str,
    checkpoint: str,
    key_cols: list[str],
    n_bits: int,
    text_col: str = "text",
    keep_versions: int = 3,
    once: bool = True,
):
    """Continuous-ingest exact dedup against a PERSISTENT bloom history
    — the streaming twin of :func:`..operators.dedup.
    dedup_incremental_bloom`, for the case :func:`dedup_stream` cannot
    cover: duplicates arriving ARBITRARILY far apart (a re-crawl weeks
    later), where watermark-evicted per-key state forgets and bounded
    state is only possible because the bloom is lossy-compact.

    Each micro-batch (``foreachBatch``): dedup the batch against the
    latest committed state version -> write survivors -> write the
    OR-merged state as ``state_dir/v=<batch_id>``. Failure/replay
    safety, in order of the three writes: survivors land under a
    ``_batch=<id>`` partition with dynamic overwrite and the state
    version dir is keyed by ``batch_id``, so a replayed batch
    overwrites its own outputs instead of duplicating them, and a
    replayed batch reads only versions ``< batch_id`` — never its own
    possibly-partial state from the failed attempt. Versions older
    than ``keep_versions`` are pruned.

    ``n_bits`` is REQUIRED and must be sized for the expected total
    corpus (a bloom cannot grow; geometry is validated on every use).
    ``state_dir`` belongs to this job+checkpoint pair: batch ids only
    stay monotonic while the checkpoint lives."""
    from ..operators.dedup import (
        dedup_incremental_bloom,
        digest_bloom_state,
        merge_bloom_state,
    )
    from ..plans.materialize import materialize

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        versions = [
            v for v in _committed_state_versions(sp, state_dir) if v < batch_id
        ]
        state = (
            sp.read.parquet(f"{state_dir}/v={versions[-1]}") if versions else None
        )
        if state is None:
            # empty-history degenerate: within-batch winners only (the
            # operator's own empty-state path, via a 0-row state frame)
            state = sp.createDataFrame(
                [],
                "word_idx long, word long, n_bits long, n_hashes int,"
                " bloom_version string",
            )
        fresh = materialize(
            dedup_incremental_bloom(batch_df, state, key_cols, text_col)
        )
        (
            fresh.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_path)
        )
        new_digests = digest_bloom_state(fresh, text_col, n_bits=n_bits)
        merged = (
            merge_bloom_state(state, new_digests)
            if versions
            else new_digests
        )
        merged.write.mode("overwrite").parquet(f"{state_dir}/v={batch_id}")
        for v in versions[:-keep_versions] if keep_versions > 0 else []:
            jvm = sp.sparkContext._jvm
            p = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/v={v}")
            p.getFileSystem(sp.sparkContext._jsc.hadoopConfiguration()).delete(
                p, True
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
