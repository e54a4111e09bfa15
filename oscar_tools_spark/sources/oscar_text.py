"""OSCAR v1 (2019) plain-text source.

Corpus format: newline-separated sentences, blank-line-separated
documents, one file set per language
(/root/reference/src/impls/oscar_txt/oscar_txt.rs:13-19). A line-based
``spark.read.text`` cannot reassemble documents (row order across
partitions is not the file order), so the reader ingests whole files
(``wholetext``) and splits on blank lines — one task per file, the same
unit of parallelism the reference uses (rayon one-task-per-file,
split.rs:197-212).

Scale note: per-file tasks cap parallelism at the file count and
memory at the largest file — exactly why `v2 split` exists (files are
pre-chunked to ~500 MB). For pathological single-huge-file inputs the
fallback is a two-pass line reader with a document-boundary running
count (monotonic per file via a window over (file, line offset)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_oscar_text(spark: SparkSession, path: str) -> DataFrame:
    """Read a v1 corpus into (source_part, doc_idx, text): one row per
    document, doc_idx = position within its file."""
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("source_part"), F.col("value")
    )
    docs = files.select(
        "source_part",
        F.posexplode(F.split(F.col("value"), r"\n\n+")).alias("doc_idx", "text"),
    )
    # trailing separator yields one empty trailing document; the
    # reference's reader never yields empty docs — drop pure-empty texts
    return docs.filter(F.trim(F.col("text")) != "").withColumn(
        "text", F.regexp_replace(F.col("text"), r"\n$", "")
    )
