"""End-to-end test of jobs/ingest_wet_job.py: WET shards through the
full document-curation stack, pinning the stage-order contracts
(paragraph dedup BEFORE c4 destroys blank-line boundaries; quality
gates judge post-excision text)."""

from __future__ import annotations

import json
import sys
from pathlib import Path


def _line(seed: str) -> str:
    # 20 natural-looking English words ending in a period: passes the
    # C4 line rule (>=5 words, terminal punct) and feeds Gopher healthy
    # stopword/alpha/word-length ratios
    return (
        f"the quick brown fox named {seed} jumps over the lazy dog and "
        "then walks along the quiet river bank today."
    )


def _para(seed: str) -> str:
    return "\n".join(_line(f"{seed}{i}") for i in range(3))


P_SHARED = _para("boiler")
P_A = _para("alpha")
P_B = _para("bravo")


def _run_job(capsys, argv: list[str]) -> dict:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import ingest_wet_job

    old = sys.argv
    sys.argv = ["ingest_wet_job.py", *argv]
    try:
        ingest_wet_job.main()
    finally:
        sys.argv = old
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    return json.loads(out[-1])


def test_ingest_wet_job_full_stack(spark, tmp_path, capsys, monkeypatch, jobs_started):
    from pyspark.sql import DataFrameWriter

    from oscar_tools_spark.sources.wet import synth_wet

    date = "2024-01-01T00:00:00Z"
    junk = "kurz und nicht genug wörter hier"  # fails --langs en
    records = [
        # idx 0-3: one host with 4 docs; --cap-per-host 3 evicts one
        *[(f"https://junkhost.example/p{i}", date, junk) for i in range(4)],
        # idx 4: own paragraph + shared boilerplate (keeps both: first)
        ("https://a.example/1", date, P_A + "\n\n" + P_SHARED),
        # idx 5: own paragraph + shared boilerplate (boilerplate excised)
        ("https://b.example/1", date, P_B + "\n\n" + P_SHARED),
        # idx 6: near-dup of idx 5's surviving text (one word differs)
        ("https://c.example/1", date, P_B.replace("today", "tonight")),
        # idx 7: non-English doc, dropped by the langid filter
        ("https://fr.example/1", date,
         "le renard brun rapide saute par dessus le chien paresseux "
         "près de la rivière tranquille aujourd'hui et encore une fois "
         "chaque matin avec ses amis pendant que le soleil brille "
         "doucement sur les collines vertes et les champs dorés."),
    ]
    src = tmp_path / "shard.wet"
    src.write_bytes(synth_wet(records))
    out = str(tmp_path / "out")

    # building the stage chain must run nothing: every job is the
    # write's, so no stage's upstream is computed twice
    jobs_at_write = []
    write_parquet = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        jobs_at_write.append(jobs_started() - before)
        return write_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    before = jobs_started()
    summary = _run_job(
        capsys,
        ["--input", str(src), "--output", out,
         "--cap-per-host", "3", "--normalize", "--langs", "en",
         "--langid-threshold", "0.3", "--c4-clean", "--gopher",
         "--dedup-paragraphs", "--dedup-exact", "--minhash-dedup"],
    )
    assert jobs_at_write == [0]
    assert summary["rows_in"] == 8
    f = summary["funnel"]
    assert f["cap_per_host"] == 7  # one junkhost doc evicted
    assert f["langid_filter"] == 3  # junk + french gone
    assert f["dedup_paragraphs"] == 3  # excision rewrites, drops none here
    assert f["c4_clean"] == 3
    assert f["gopher"] == 3
    assert f["dedup_exact"] == 3
    assert f["minhash_dedup"] == 2  # near-dup c.example dropped
    assert summary["rows_out"] == 2

    rows = {r.url: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"https://a.example/1", "https://b.example/1"}
    # doc A (smaller uid) kept the shared paragraph; B had it excised
    # and c4 re-joined B's surviving lines with single newlines
    assert "boiler" in rows["https://a.example/1"].text
    assert "boiler" not in rows["https://b.example/1"].text
    assert rows["https://b.example/1"].n_paras_kept == 1
    assert rows["https://a.example/1"].n_paras_kept == 2
    assert rows["https://a.example/1"].lang == "en"


def test_ingest_wet_job_flag_validation(tmp_path, capsys):
    import pytest

    with pytest.raises(SystemExit):
        _run_job(
            capsys,
            ["--input", "x", "--output", str(tmp_path / "o"),
             "--langid-threshold", "0.5"],  # without --langs
        )


def test_ingest_html_mode(spark, tmp_path, capsys):
    """--input-format html: raw pages -> extract_html -> robots/license
    gates -> the shared curation recipe; signal columns land in the
    parquet as lineage."""
    pages = {
        # licensed, indexable: survives everything
        "keep.html": (
            "<html><head><title>Keep</title></head><body>"
            f"<p>{_para('alpha')}</p>"
            '<a href="https://creativecommons.org/licenses/by/4.0/">CC</a>'
            "</body></html>"
        ),
        # noindex: dropped by --drop-noindex
        "noidx.html": (
            '<html><head><meta name="robots" content="noindex"></head>'
            f"<body><p>{_para('bravo')}</p>"
            '<a href="https://creativecommons.org/licenses/by/4.0/">CC</a>'
            "</body></html>"
        ),
        # no license marker: dropped by --licensed-only
        "nolic.html": f"<html><body><p>{_para('carol')}</p></body></html>",
        # script/style junk page, licensed: extraction strips to prose
        "script.html": (
            "<html><body><script>var x = '<p>fake</p>';</script>"
            f"<div>{_para('delta')}</div>"
            '<a href="https://creativecommons.org/publicdomain/zero/1.0/">z</a>'
            "</body></html>"
        ),
    }
    src = tmp_path / "pages"
    src.mkdir()
    for name, html in pages.items():
        (src / name).write_text(html)
    out_path = str(tmp_path / "out_html")
    rep = _run_job(
        capsys,
        ["--input", str(src), "--output", out_path,
         "--input-format", "html", "--drop-noindex", "--licensed-only",
         "--c4-clean", "--gopher", "--dedup-exact"],
    )
    assert rep["rows_in"] == 4
    assert rep["funnel"]["drop_noindex"] == 3
    assert rep["funnel"]["licensed_only"] == 2
    got = {r.title: r for r in spark.read.parquet(out_path).collect()}
    assert rep["rows_out"] == 2 and len(got) == 2
    keep = got["Keep"]
    assert keep.license == "cc-by" and keep.noindex is False
    assert "alpha0" in keep.text and "<" not in keep.text
    script = got[""]  # script.html has no title
    assert script.license == "cc0"
    assert "fake" not in script.text and "delta0" in script.text


def test_ingest_html_flags_require_html_mode(capsys, tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        _run_job(
            capsys,
            ["--input", "x", "--output", str(tmp_path / "o"),
             "--drop-noindex"],
        )


def test_ingest_warc_mode(spark, tmp_path, capsys):
    """--input-format warc: raw crawl -> 2xx text/html responses ->
    extract_html -> the shared recipe, with real crawl URLs feeding
    --cap-per-host."""
    import gzip as _gzip

    from oscar_tools_spark.sources.warc import synth_warc

    date = "2024-01-01T00:00:00Z"
    pages = [
        *[(f"https://bighost.example/p{i}", date,
           f"<html><body><p>{_para(f'big{i}')}</p></body></html>")
          for i in range(3)],
        ("https://ok.example/1", date,
         "<html><head><title>Ok</title>"
         '<meta name="robots" content="noindex"></head>'
         f"<body><p>{_para('ok')}</p></body></html>"),
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    (src / "shard0.warc.gz").write_bytes(_gzip.compress(synth_warc(pages)))
    out_path = str(tmp_path / "out_warc")
    rep = _run_job(
        capsys,
        ["--input", str(src), "--output", out_path,
         "--input-format", "warc", "--cap-per-host", "2"],
    )
    assert rep["rows_in"] == 4
    assert rep["funnel"]["cap_per_host"] == 3  # bighost capped 3 -> 2
    got = spark.read.parquet(out_path)
    assert rep["rows_out"] == 3
    ok = got.filter("url = 'https://ok.example/1'").first()
    assert ok.title == "Ok" and ok.noindex is True
    assert "ok0" in ok.text and "<" not in ok.text
