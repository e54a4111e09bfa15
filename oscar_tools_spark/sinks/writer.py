"""Corpus sinks: the reference's split/compress operators as writer
concerns.

`v2 split` (re-chunk into <=500 MB parts, never splitting a document —
/root/reference/src/ops/split.rs:16-296) maps to writer options: a
document is a row, and rows are never split across files, so
``maxRecordsPerFile`` (records estimated from a sampled bytes/row) or
Iceberg's ``write.target-file-size-bytes`` reproduce the semantics with
rotate-before-overflow behavior built into the Parquet writer.

`v2 compress` (per-file gzip/zstd, default zstd —
/root/reference/src/ops/compress.rs:17-196, default at
src/impls/oscar_doc/compress.rs:31) maps to the ``compression`` codec
option: the files come out compressed instead of being rewritten
after the fact — one pass instead of the reference's two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def estimate_bytes_per_row(df: DataFrame, text_col: str = "text", sample_rows: int = 2000) -> float:
    """Cheap bytes/row estimate from a bounded sample (never a full scan)."""
    sample = df.select(
        (F.octet_length(F.col(text_col)) + F.lit(64)).alias("b")
    ).limit(sample_rows)
    row = sample.agg(F.avg("b").alias("avg")).first()
    return float(row.avg or 1024.0)


def split_records_for(
    df: DataFrame, split_mb: int = 500, text_col: str = "text"
) -> int:
    """`v2 split` sizing: MB -> bytes uses x1e6, matching the reference
    (oscar_doc.rs:206-211), then records-per-file from sampled row size."""
    target_bytes = split_mb * 1_000_000
    per_row = estimate_bytes_per_row(df, text_col)
    return max(int(target_bytes / per_row), 1)


def write_corpus(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    split_mb: int | None = 500,
    compression: str = "zstd",
    partition_by: list[str] | None = None,
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """split+compress in one pass: size-capped, codec'd files, optionally
    hive-partitioned (the table analog of per-language directories)."""
    w = df.write.mode(mode).option("compression", compression)
    if split_mb:
        w = w.option("maxRecordsPerFile", split_records_for(df, split_mb, text_col))
    if partition_by:
        w = w.partitionBy(*partition_by)
    getattr(w, fmt)(path)
