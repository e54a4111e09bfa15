"""OSCAR v2 (22.01) JSONL source.

One JSON document per line with ``content``, ``warc_headers``,
``metadata.identification``, ``metadata.annotation``,
``metadata.sentence_identifications``
(/root/reference/src/impls/oscar_doc/oscar_doc.rs:23-27, full shape in
the test fixture at :342-382). The reference parses each line with
serde and DROPS malformed documents with a logged error, not a fatal
(filter_tags.rs:160-169); here PERMISSIVE mode + ``_corrupt_record``
reproduces that: corrupt rows are flagged in ``_corrupt_record`` and
filtered out (``drop_corrupt=False`` keeps them for inspection).

The explicit schema matters doubly at scale: no inference pass over
100 TB, and Catalyst can prune unneeded nested fields from the parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

IDENTIFICATION = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("prob", T.FloatType()),
    ]
)

OSCAR_DOC_SCHEMA = T.StructType(
    [
        T.StructField("content", T.StringType()),
        T.StructField("warc_headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("identification", IDENTIFICATION),
                    T.StructField("annotation", T.ArrayType(T.StringType()), True),
                    T.StructField(
                        "sentence_identifications",
                        T.ArrayType(IDENTIFICATION, containsNull=True),
                        True,
                    ),
                ]
            ),
        ),
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)


def read_oscar_jsonl(
    spark: SparkSession, path: str, drop_corrupt: bool = True
) -> DataFrame:
    """Read a v2 corpus into the engine's flat document shape:
    (text, warc_headers, identification, annotations,
    sentence_identifications, source_part)."""
    raw = (
        spark.read.schema(OSCAR_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    out = raw.select(
        F.col("content").alias("text"),
        "warc_headers",
        F.col("metadata.identification").alias("identification"),
        F.col("metadata.annotation").alias("annotations"),
        F.col("metadata.sentence_identifications").alias("sentence_identifications"),
        F.input_file_name().alias("source_part"),
        "_corrupt_record",
    )
    if drop_corrupt:
        # a row is malformed if json parsing failed OR content is missing
        # (the reference's MissingContent/MalformedContent errors,
        # oscar_doc.rs:238-252)
        out = out.filter(
            F.col("_corrupt_record").isNull() & F.col("text").isNotNull()
        ).drop("_corrupt_record")
    return out
