"""Sources (OSCAR v1/v2 readers), sinks (split/compress/checksum), TableIO."""

from __future__ import annotations

import glob
import hashlib
import json
import os

from pyspark.sql import functions as F

from oscar_tools_spark.sinks.checksum import (
    file_checksums,
    write_checksum_manifests,
)
from oscar_tools_spark.sinks.writer import split_records_for, write_corpus
from oscar_tools_spark.sources.oscar_doc import read_oscar_jsonl
from oscar_tools_spark.sources.oscar_text import read_oscar_text
from oscar_tools_spark.sources.tables import TableIO, iceberg_available

V2_DOC = {
    "content": "words like words\nsecond line",
    "warc_headers": {"warc-record-id": "<urn:uuid:1>", "content-type": "text/plain"},
    "metadata": {
        "identification": {"label": "en", "prob": 0.99},
        "annotation": ["tiny", "header"],
        "sentence_identifications": [{"label": "en", "prob": 0.9}, None],
    },
}


def test_read_oscar_jsonl(spark, tmp_path):
    p = tmp_path / "corpus"
    p.mkdir()
    lines = [
        json.dumps(V2_DOC),
        json.dumps({**V2_DOC, "metadata": {**V2_DOC["metadata"], "annotation": None}}),
        "THIS IS NOT JSON {",
        json.dumps({"metadata": V2_DOC["metadata"]}),  # missing content
    ]
    (p / "en_part_1.jsonl").write_text("\n".join(lines) + "\n")

    df = read_oscar_jsonl(spark, str(p))
    rows = df.collect()
    assert len(rows) == 2  # corrupt + missing-content dropped, not fatal
    r = rows[0]
    assert r.text.startswith("words like words")
    assert r.identification.label == "en"
    assert list(r.annotations) == ["tiny", "header"]
    assert r.sentence_identifications[1] is None
    assert r.warc_headers["content-type"] == "text/plain"
    assert "en_part_1.jsonl" in r.source_part
    flagged = read_oscar_jsonl(spark, str(p), drop_corrupt=False).filter(
        F.col("_corrupt_record").isNotNull() | F.col("text").isNull()
    )
    assert flagged.count() == 2


def test_read_oscar_text(spark, tmp_path):
    p = tmp_path / "v1"
    (p / "en").mkdir(parents=True)
    docs = ["doc one line a\ndoc one line b", "doc two", "doc three\nlast"]
    (p / "en" / "en_part_1.txt").write_text("\n\n".join(docs) + "\n\n")
    df = read_oscar_text(spark, str(p / "en"))
    rows = df.orderBy("doc_idx").collect()
    assert [r.text for r in rows] == docs


def test_write_corpus_split_and_compress(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.repeat(F.lit("x"), 100).alias("text")
    )
    out = str(tmp_path / "out")
    # tiny split target -> many files; zstd codec in the filenames
    write_corpus(df.repartition(2), out, split_mb=1, compression="zstd")
    files = glob.glob(f"{out}/*.parquet")
    assert files
    assert all(".zstd." in f or f.endswith(".parquet") for f in files)
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # records-per-file estimate is sane
    assert split_records_for(df, 1) > 0


def test_checksum_manifests(spark, tmp_path):
    d = tmp_path / "corpus" / "en"
    d.mkdir(parents=True)
    (d / "en_part_1.txt").write_text("hello corpus\n")
    (d / "en_part_2.txt").write_text("more corpus\n")
    manifests = write_checksum_manifests(spark, str(tmp_path / "corpus"), glob="*.txt")
    assert len(manifests) == 1
    content = open(manifests[0]).read().strip().splitlines()
    assert len(content) == 2
    digest, name = content[0].split(" ")
    assert name == "en_part_1.txt"
    assert digest == hashlib.sha384(b"hello corpus\n").hexdigest()


def test_tableio_parquet_roundtrip(spark, tmp_path):
    io = TableIO(spark, max_records_per_file=100)
    df = spark.range(250).select(F.col("id"), F.lit("t").alias("text"))
    target = str(tmp_path / "t")
    io.write(df, target)
    assert io.read(target).count() == 250
    # iceberg not present in the sandbox: the seam must report that
    assert iceberg_available(spark) is False


def test_tableio_iceberg_roundtrip(spark, tmp_path):
    """Env-gated smoke for the TableIO Iceberg branch: skipped while the
    runtime jar is absent from the container (SURVEY.md §7 risk 5);
    activates automatically in any environment that carries it."""
    import pytest

    from oscar_tools_spark.sources.tables import TableIO, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the classpath in this container")
    spark.conf.set("spark.sql.catalog.smoke", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.smoke.type", "hadoop")
    spark.conf.set("spark.sql.catalog.smoke.warehouse", str(tmp_path / "wh"))
    io = TableIO(spark)
    df = spark.range(10).withColumnRenamed("id", "x")
    io.write(df, "smoke.db.t")
    assert io.read("smoke.db.t").count() == 10


# ----------------------------------------------------------------- WET


WET_DOCS = [
    ("https://a.example/page1", "2024-01-01T00:00:00Z", "plain text body one"),
    # adversarial body: contains a full fake WARC header block AND
    # blank lines — only Content-Length-driven parsing survives this
    (
        "https://a.example/page2",
        "2024-01-02T00:00:00Z",
        "before\r\n\r\nWARC/1.0\r\nWARC-Type: conversion\r\n"
        "Content-Length: 3\r\n\r\nxyz\r\n\r\nafter",
    ),
    ("https://b.example/p", "2024-01-03T00:00:00Z", "unicode: café — ok"),
    ("https://b.example/q", "2024-01-04T00:00:00Z", ""),  # empty extraction
]


def test_wet_roundtrip_plain_and_gz(spark, tmp_path):
    """synth -> file(.gz) -> read_wet round-trips every conversion
    record byte-exactly (incl. the embedded-fake-record body), skips
    warcinfo, and keys records by (source_part, record_idx)."""
    import gzip

    from oscar_tools_spark.sources.wet import read_wet, synth_wet

    raw = synth_wet(WET_DOCS)
    (tmp_path / "a.wet").write_bytes(raw)
    (tmp_path / "b.wet.gz").write_bytes(gzip.compress(raw))
    out = read_wet(spark, str(tmp_path)).collect()
    assert len(out) == 2 * len(WET_DOCS)
    for r in out:
        uri, date, text = WET_DOCS[r.record_idx]
        assert (r.target_uri, r.warc_date, r.text) == (uri, date, text)
        assert r.content_length == len(text.encode())
        assert r.record_id.startswith("<urn:uuid:")


def test_wet_lf_only_and_truncated_tail(spark, tmp_path):
    """LF-only header blocks parse identically; a shard cut mid-record
    drops ONLY the truncated tail record."""
    from oscar_tools_spark.sources.wet import read_wet, synth_wet

    raw = synth_wet(WET_DOCS, crlf=False)
    (tmp_path / "lf.wet").write_bytes(raw)
    assert read_wet(spark, str(tmp_path / "lf.wet")).count() == len(WET_DOCS)

    cut = synth_wet(WET_DOCS)[:-12]  # slice into the final record's body
    (tmp_path / "cut.wet").write_bytes(cut)
    got = read_wet(spark, str(tmp_path / "cut.wet")).collect()
    assert [r.target_uri for r in got] == [u for u, _, _ in WET_DOCS[:-1]]


def test_wet_record_walker_contract():
    """iter_wet_records: non-WARC data raises; trailing garbage after
    valid records stops cleanly; missing Content-Length stops (cannot
    find the next boundary)."""
    import pytest

    from oscar_tools_spark.sources.wet import iter_wet_records, synth_wet

    with pytest.raises(ValueError, match="WARC"):
        list(iter_wet_records(b"HTTP/1.1 200 OK\r\n\r\nnope"))

    ok = synth_wet(WET_DOCS[:1])
    recs = list(iter_wet_records(ok + b"garbage that is not a record"))
    assert len(recs) == 2  # warcinfo + 1 conversion, garbage ignored
    bad = b"WARC/1.0\r\nWARC-Type: conversion\r\n\r\nbody"
    assert list(iter_wet_records(bad)) == []


WARC_PAGES = [
    ("https://a.example/1", "2024-01-01T00:00:00Z",
     "<html><head><title>One</title></head><body><p>first page body</p></body></html>"),
    ("https://b.example/2", "2024-01-02T00:00:00Z",
     "<html><body><script>x()</script><p>second page body</p></body></html>"),
    ("https://c.example/404", "2024-01-03T00:00:00Z",
     "<html><body><p>not found page</p></body></html>"),
]


def test_read_warc_round_trip_and_filters(spark, tmp_path):
    """synth -> .gz -> read_warc keeps only 2xx text/html responses
    (request/warcinfo records and the 404 skipped), payload intact."""
    import gzip as _gzip

    from oscar_tools_spark.sources.warc import read_warc, synth_warc

    raw = synth_warc(WARC_PAGES, statuses=[200, 206, 404])
    (tmp_path / "part0.warc.gz").write_bytes(_gzip.compress(raw))
    out = {r.target_uri: r for r in read_warc(spark, str(tmp_path)).collect()}
    assert set(out) == {"https://a.example/1", "https://b.example/2"}
    a = out["https://a.example/1"]
    assert a.http_status == 200 and a.content_type.startswith("text/html")
    assert a.html == WARC_PAGES[0][2]
    assert a.record_idx == 0 and out["https://b.example/2"].record_idx == 1
    # ok_only=False keeps the 404 too
    assert read_warc(spark, str(tmp_path), ok_only=False).count() == 3


def test_split_http_response_contract():
    from oscar_tools_spark.sources.warc import split_http_response

    s, h, p = split_http_response(
        b"HTTP/1.1 301 Moved\r\nLocation: /x\r\ncontent-type: text/html\r\n\r\nBODY"
    )
    assert (s, h["location"], h["content-type"], p) == (301, "/x", "text/html", b"BODY")
    # LF-only block; payload may contain blank lines and HTTP/ text
    s, _, p = split_http_response(b"HTTP/1.0 200 OK\n\nA\n\nHTTP/9 fake")
    assert s == 200 and p == b"A\n\nHTTP/9 fake"
    import pytest as _pytest

    for bad in (b"NOTHTTP", b"HTTP/1.1 200 OK\r\nno-terminator",
                b"HTTP/1.1 abc\r\n\r\nx"):
        with _pytest.raises(ValueError):
            split_http_response(bad)
