"""CommonCrawl WARC (``response`` record) source — the RAW crawl.

WET sidecars (sources/wet.py) carry pre-extracted text; the primary
WARC files (public WARC 1.0 spec, ISO 28500) carry the original HTTP
exchanges. A ``response`` record's body is a full HTTP/1.x response —
status line, headers, blank line, payload — so this reader adds one
layer on top of the WET module's Content-Length-driven record walker
(reused verbatim: record framing is identical): split the HTTP block,
keep 2xx text/html responses, and hand the raw page to
``operators/extract_html`` for the text tier.

Contract notes (kept deliberately narrow):
* payloads are taken as-is (CommonCrawl stores identity-encoded
  bodies; Transfer-Encoding reassembly happens crawl-side);
* pages decode as UTF-8 with replacement — charset sniffing is out of
  scope for the regex extraction tier (mojibake folds are
  operators/normalize.py's job downstream);
* same scale shape as WET: gzip members are not splittable, ONE TASK
  PER FILE is the parallelism unit and a crawl's file count dwarfs any
  cluster's task slots.
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame, SparkSession

from .wet import find_blank_line, iter_wet_records

WARC_SCHEMA = (
    "source_part string, record_idx int, record_id string, "
    "target_uri string, warc_date string, http_status int, "
    "content_type string, html string"
)

_RESPONSE = "response"


def split_http_response(body: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, lowercased headers, payload) from a raw HTTP/1.x
    response block. Raises ``ValueError`` when the block is not an
    HTTP response (no HTTP/ status line, no header terminator, or an
    unparseable status code)."""
    if not body.startswith(b"HTTP/"):
        raise ValueError("not an HTTP response block")
    he, sep = find_blank_line(body)
    if he == -1:
        raise ValueError("no header terminator in HTTP block")
    lines = body[:he].decode("utf-8", "replace").splitlines()
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise ValueError(f"unparseable status line: {lines[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, mid, value = line.partition(":")
        if mid:
            headers[name.strip().lower()] = value.strip()
    return status, headers, body[he + sep :]


def synth_warc(
    pages: list[tuple[str, str, str]],
    crlf: bool = True,
    statuses: list[int] | None = None,
) -> bytes:
    """Deterministic WARC bytes for tests: warcinfo + one
    request/response pair per ``(target_uri, warc_date, html)``
    (request records exercise the type filter). ``statuses`` overrides
    the per-page HTTP status (default all 200)."""
    nl = "\r\n" if crlf else "\n"

    def record(rtype: str, extra: list[str], body: bytes) -> bytes:
        head = [
            "WARC/1.0",
            f"WARC-Type: {rtype}",
            *extra,
            f"Content-Length: {len(body)}",
        ]
        return (nl.join(head) + nl + nl).encode() + body + (nl + nl).encode()

    out = [
        record(
            "warcinfo",
            ["WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>"],
            b"software: oscar-tools-spark synth\r\n",
        )
    ]
    for i, (uri, date, html) in enumerate(pages):
        status = (statuses or [200] * len(pages))[i]
        payload = html.encode()
        http = (
            f"HTTP/1.1 {status} X{nl}"
            f"Content-Type: text/html; charset=UTF-8{nl}"
            f"Content-Length: {len(payload)}{nl}{nl}"
        ).encode() + payload
        extra = [
            f"WARC-Target-URI: {uri}",
            f"WARC-Date: {date}",
            "Content-Type: application/http; msgtype={}",
        ]
        out.append(
            record(
                "request",
                [e.format("request") for e in extra]
                + [f"WARC-Record-ID: <urn:uuid:{2 * i:032x}>"],
                f"GET / HTTP/1.1{nl}Host: x{nl}{nl}".encode(),
            )
        )
        out.append(
            record(
                _RESPONSE,
                [e.format("response") for e in extra]
                + [f"WARC-Record-ID: <urn:uuid:{2 * i + 1:032x}>"],
                http,
            )
        )
    return b"".join(out)


def read_warc(
    spark: SparkSession,
    path: str,
    content_type_prefix: str = "text/html",
    ok_only: bool = True,
) -> DataFrame:
    """Read WARC file(s) at ``path`` (glob ok; ``.gz`` members are
    decompressed) into one row per kept ``response`` record:
    ``(source_part, record_idx, record_id, target_uri, warc_date,
    http_status, content_type, html)``. ``record_idx`` numbers the
    KEPT responses per file, so (source_part, record_idx) is a stable
    page key. ``ok_only`` keeps 2xx responses; ``content_type_prefix``
    filters on the HTTP Content-Type ('' keeps everything). Records
    whose body is not a parseable HTTP response are skipped."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def op(batches):
        import pandas as pd

        cols = [
            "source_part", "record_idx", "record_id", "target_uri",
            "warc_date", "http_status", "content_type", "html",
        ]
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in cols}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if fpath.endswith(".gz"):
                    raw = gzip.decompress(raw)
                kept = 0
                for _, headers, body in iter_wet_records(raw):
                    if headers.get("warc-type") != _RESPONSE:
                        continue
                    try:
                        status, http, payload = split_http_response(body)
                    except ValueError:
                        continue
                    ctype = http.get("content-type", "")
                    if ok_only and not 200 <= status < 300:
                        continue
                    if content_type_prefix and not ctype.startswith(
                        content_type_prefix
                    ):
                        continue
                    rows["source_part"].append(fpath)
                    rows["record_idx"].append(kept)
                    rows["record_id"].append(headers.get("warc-record-id", ""))
                    rows["target_uri"].append(headers.get("warc-target-uri", ""))
                    rows["warc_date"].append(headers.get("warc-date", ""))
                    rows["http_status"].append(status)
                    rows["content_type"].append(ctype)
                    rows["html"].append(payload.decode("utf-8", "replace"))
                    kept += 1
            yield pd.DataFrame(rows)

    return files.mapInPandas(op, WARC_SCHEMA)
