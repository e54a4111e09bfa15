"""`v2 checksum`: SHA-384 manifests over corpus files.

The reference writes one ``checksum.sha384`` per language directory
with ``"<hex> <filename>"`` lines, hashing files in parallel
(/root/reference/src/ops/checksum.rs:37-128, manifest format :109).

Spark-first shape: the file tree is itself a DataFrame via the
``binaryFile`` source, the digest is an Arrow-batched pandas UDF over
the file bytes (one task per file — the reference's parallelism unit),
and manifests are a tiny groupBy over parent directory. Row-level
integrity for tables is a plain ``sha2(text, 384)`` column.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sha384_udf():
    @F.pandas_udf("string")
    def _udf(content: pd.Series) -> pd.Series:
        return content.map(lambda b: hashlib.sha384(b).hexdigest())

    return _udf


def file_checksums(spark: SparkSession, root: str, glob: str = "*") -> DataFrame:
    """(dir, filename, sha384) for every file under root."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"^(?:file:)?(.*)/[^/]+$", 1).alias("dir"),
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("filename"),
        sha384_udf()(F.col("content")).alias("sha384"),
    )


def write_checksum_manifests(spark: SparkSession, root: str, glob: str = "*") -> list[str]:
    """One ``checksum.sha384`` per directory, reference line format
    ``"<hex> <filename>"`` sorted by filename (checksum.rs:93-115)."""
    rows = file_checksums(spark, root, glob).collect()
    by_dir: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        by_dir.setdefault(r.dir, []).append((r.filename, r.sha384))
    written = []
    for d, entries in sorted(by_dir.items()):
        manifest = os.path.join(d, "checksum.sha384")
        with open(manifest, "w") as f:
            for filename, digest in sorted(entries):
                f.write(f"{digest} {filename}\n")
        written.append(manifest)
    return written
