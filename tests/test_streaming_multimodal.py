"""Streaming pipeline smoke + multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_tools_spark.datagen import synth_transcripts
from oscar_tools_spark.operators.multimodal import (
    RAISE,
    extract_features,
    synth_media,
)
from oscar_tools_spark.plans.pipeline import CurationConfig, curate
from oscar_tools_spark.streaming.pipeline import (
    run_to_parquet,
    stream_transcripts,
    tag_rates,
)

CFG = CurationConfig(
    exclude=frozenset({"adult", "noisy"}),
    use_model_langid=False,
    with_perplexity=False,
)


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    synth_transcripts(spark, 80).write.mode("overwrite").parquet(str(d / "t"))
    return str(d / "t")


def test_streaming_curation_matches_batch(spark, transcript_dir, tmp_path):
    stream = stream_transcripts(spark, transcript_dir)
    assert stream.isStreaming
    curated = curate(stream, CFG)
    q = run_to_parquet(
        curated, str(tmp_path / "out"), str(tmp_path / "ckpt"), once=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))

    batch = curate(spark.read.parquet(transcript_dir), CFG)
    assert got.count() == batch.count()
    a = {(r.conv_id, r.turn_idx): r.text for r in got.collect()}
    b = {(r.conv_id, r.turn_idx): r.text for r in batch.collect()}
    assert a == b


def test_streaming_tag_rates(spark, transcript_dir):
    stream = stream_transcripts(spark, transcript_dir)
    agg = tag_rates(stream, "30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; with a 1h watermark over a
    # bounded input the final windows stay open, so just assert the
    # query ran and the schema is right
    out = spark.sql("select * from rates")
    assert out.columns == ["start", "end", "tag", "n"]


def test_multimodal_features_deterministic(spark):
    media = synth_media(spark, 30)
    feats = extract_features(media)
    rows = feats.orderBy("media_id").collect()
    assert len(rows) == 30
    assert all(len(r.features) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)
    # deterministic across partitionings
    rows2 = extract_features(media.repartition(5)).orderBy("media_id").collect()
    assert [r.features for r in rows] == [r.features for r in rows2]
    # digest is the real sha256 of the payload
    import hashlib

    payload0 = media.filter(F.col("media_id") == 0).first().payload
    assert rows[0].digest == hashlib.sha256(bytes(payload0)).hexdigest()


def test_multimodal_raise_contract(spark):
    media = synth_media(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|decoding"):
        extract_features(media, decode_fn=RAISE).collect()


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per normalized-text
    fingerprint inside the horizon; batch fingerprint semantics apply
    (whitespace/punctuation-insensitive exact dedup)."""
    from datetime import datetime

    from oscar_tools_spark.streaming.pipeline import dedup_stream, stream_transcripts

    rows = [
        ("c1", 0, "user", "Hello   world!", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "user", "hello world", None, datetime(2024, 1, 1, 0, 0, 5)),
        ("c2", 0, "user", "something else", None, datetime(2024, 1, 1, 0, 0, 7)),
        ("c2", 1, "user", "HELLO WORLD", None, datetime(2024, 1, 1, 0, 0, 9)),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("overwrite").parquet(src)
    q = (
        dedup_stream(stream_transcripts(spark, src))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_smoke")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    out = spark.sql("select text from dedup_smoke").collect()
    texts = sorted(r.text for r in out)
    # one survivor for the hello-world fingerprint + the distinct row
    assert len(texts) == 2
    assert "something else" in texts


def test_streaming_dedup_with_bloom_history(spark, tmp_path):
    """foreachBatch dedup against the persistent bloom history: cross-
    batch duplicates drop no matter how far apart they arrive (the case
    watermark-evicted state forgets), survivors land under replay-safe
    _batch partitions, state versions commit per batch, and a restart
    on the same checkpoint with NEW files continues from the history
    instead of re-admitting old texts."""
    import time

    from oscar_tools_spark.streaming.pipeline import (
        _committed_state_versions,
        run_dedup_stream_with_history,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # distinct mod-times pin the batch order

    def run():
        q = run_dedup_stream_with_history(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            state,
            ckpt,
            ["doc_id"],
            n_bits=4096,
        )
        q.awaitTermination(180)
        assert q.exception() is None

    put([(1, "x"), (2, "x"), (3, "y")])  # batch 0: within-batch dup
    put([(4, "x"), (5, "z"), (6, "z")])  # batch 1: x only in HISTORY
    run()
    got = {
        (r.doc_id, int(r._batch))
        for r in spark.read.parquet(out).select("doc_id", "_batch").collect()
    }
    assert got == {(1, 0), (3, 0), (5, 1)}
    assert _committed_state_versions(spark, state) == [0, 1]

    # restart on the same checkpoint with a new file: history holds
    put([(7, "z"), (8, "w")])  # z seen two batches ago -> dropped
    run()
    got2 = {
        (r.doc_id, int(r._batch))
        for r in spark.read.parquet(out).select("doc_id", "_batch").collect()
    }
    assert got2 == got | {(8, 2)}
    assert _committed_state_versions(spark, state)[-1] == 2


def test_streaming_html_extraction_matches_batch(spark, tmp_path):
    """Raw pages arriving as files -> extract_html over the stream ==
    the batch operator on the same pages (stateless narrow tier)."""
    from oscar_tools_spark.operators.extract_html import extract_html
    from oscar_tools_spark.streaming.pipeline import (
        extract_html_stream,
        run_to_parquet,
        stream_html_pages,
    )

    src = tmp_path / "pages"
    src.mkdir()
    for i in range(6):
        lic = (
            '<a href="https://creativecommons.org/licenses/by/4.0/">c</a>'
            if i % 2 == 0 else ""
        )
        (src / f"p{i}.html").write_text(
            f"<html><head><title>T{i}</title></head><body>"
            f"<script>var j = {i};</script><p>page {i} body text</p>{lic}"
            "</body></html>"
        )
    (src / "ignore.tmp").write_text("<p>not a page</p>")

    stream = stream_html_pages(spark, str(src))
    assert stream.isStreaming
    q = run_to_parquet(
        extract_html_stream(stream),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), once=True,
    )
    q.awaitTermination(120)
    got = {r.doc_uid: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert len(got) == 6  # the .tmp file never entered the stream

    pages = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.html"
    ).load(str(src)).selectExpr(
        "path as doc_uid", "cast(content as string) as html"
    )
    want = {r.doc_uid: r for r in extract_html(pages).collect()}
    assert set(got) == set(want)
    for k in want:
        assert (got[k].text, got[k].title, got[k].license, got[k].noindex) == (
            want[k].text, want[k].title, want[k].license, want[k].noindex,
        )
        assert "var j" not in got[k].text
