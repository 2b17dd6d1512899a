"""WARC (ISO 28500) record source: the format Common Crawl actually
ships, in front of the engine's (url, warc_ts, html, text, lang) input
contract — parse records out of raw WARC payloads, unwrap the HTTP
response envelope, and hand the html body to ``webtext.html_extract``.

Spark shape: WARC files arrive as (path, content:binary) rows — e.g.
``spark.read.format("binaryFile")`` — and parsing is ONE ``mapInPandas``
pass (pure-stdlib byte scanning, Arrow-batched; a WARC file must be
parsed sequentially because records are length-prefixed, so the file is
the unit of parallelism exactly like production crawl jobs, where a
cluster reads thousands of ~1 GB WARC segments concurrently). No
shuffle; record boundaries never cross files.

No reference counterpart (the reference is a forecasting engine); the
format is the public ISO 28500 / IIPC spec. The synthesizer exists so
tests and the driver query can fabricate deterministic WARC bytes — no
external data.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from anofox_forecast_spark._worker import release_zip_finders

_CRLF2 = b"\r\n\r\n"

RECORD_SCHEMA = (
    "path string, record_no int, warc_type string, url string, "
    "warc_date string, http_status int, payload binary"
)


def synthesize_warc(records: Iterable[dict]) -> bytes:
    """Build a deterministic WARC byte stream. Each record dict:
    ``{"url": str, "date": str, "body": bytes, "warc_type": "response",
    "http": bool}`` — with ``http=True`` (default) the body is wrapped
    in an HTTP/1.1 200 envelope, as crawl response records are."""
    out = bytearray()
    for r in records:
        body = r["body"]
        if isinstance(body, str):
            body = body.encode("utf-8")
        if r.get("http", True):
            body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
            ctype = "application/http; msgtype=response"
        else:
            ctype = "text/plain"
        header = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r.get('warc_type', 'response')}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            f"WARC-Date: {r['date']}\r\n"
            f"Content-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        )
        out += header.encode("utf-8") + body + _CRLF2
    return bytes(out)


def parse_warc_bytes(data: bytes) -> list[tuple[dict, int, bytes]]:
    """Scan one WARC payload → [(warc_fields, http_status, body)].
    Length-prefixed sequential scan (Content-Length drives the cursor);
    a malformed tail yields the records parsed before it rather than
    poisoning the batch. HTTP response envelopes are unwrapped: status
    parsed from the status line, body = bytes after the header block
    (-1 status when there is no HTTP envelope)."""
    recs: list[tuple[dict, int, bytes]] = []
    pos, n = 0, len(data)
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        header = data[pos:hdr_end].decode("utf-8", errors="replace")
        lines = header.split("\r\n")
        if not lines[0].startswith("WARC/"):
            break
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields.get("content-length", ""))
        except ValueError:
            break
        if clen < 0:  # a negative length would move the cursor backwards
            break
        body = data[hdr_end + 4 : hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        status = -1
        if fields.get("content-type", "").startswith("application/http"):
            http_end = body.find(_CRLF2)
            if http_end >= 0:
                status_line = body[:http_end].split(b"\r\n", 1)[0]
                parts = status_line.split()
                if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
                    try:
                        status = int(parts[1])
                    except ValueError:
                        status = -1
                body = body[http_end + 4 :]
        recs.append((fields, status, body))
    return recs


def parse_warc_records(
    df: DataFrame, path_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """(path, content:binary) files → one row per WARC record:
    (path, record_no, warc_type, url, warc_date, http_status, payload).
    One mapInPandas pass, shuffle-free; files are the parallel unit."""
    pc, cc = path_col, content_col

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[pc], pdf[cc]):
                if content is None:
                    continue
                for i, (fields, status, body) in enumerate(
                    parse_warc_bytes(bytes(content))
                ):
                    rows.append(
                        (
                            path,
                            i,
                            fields.get("warc-type", ""),
                            fields.get("warc-target-uri", ""),
                            fields.get("warc-date", ""),
                            status,
                            body,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "record_no", "warc_type", "url",
                    "warc_date", "http_status", "payload",
                ],
            )

    return df.select(F.col(pc).alias(pc), F.col(cc).alias(cc)).mapInPandas(
        gen, RECORD_SCHEMA
    )
