"""WARC (ISO 28500 / WARC/1.0-1.1) ingest — the container format of web
crawl corpora (Common Crawl ships ~100 TB-scale WARC): pure-stdlib record
parser, per-record-gzip support, HTTP-response payload extraction, and a
distributed ``mapInPandas`` exploder.

The reference has no file-ingest surface (its ingress is Kafka JSON —
covid19-patient-analyzer Covid19PatientAnalyzer.java wires topics, not
files); this module belongs to the mandated beyond-reference
training-data-pipeline layer: "a user of the reference could switch" — and
a user building an LLM corpus starts from WARC.

Format facts implemented from the public spec:

- A WARC file is a sequence of records; each record is
  ``WARC/<v>\\r\\n`` + header lines + ``\\r\\n`` + a Content-Length-sized
  block + ``\\r\\n\\r\\n``.
- Mandatory headers: ``WARC-Type``, ``WARC-Record-ID``, ``WARC-Date``,
  ``Content-Length``. ``WARC-Target-URI`` names the crawled URL on
  request/response records.
- ``response`` records carry an HTTP message as their block
  (``Content-Type: application/http...``): status line + headers +
  ``\\r\\n\\r\\n`` + body.
- The Common Crawl convention compresses EACH RECORD as its own gzip
  member and concatenates the members — so a reader can split work
  without decompressing the whole file, and a decompressor must loop
  over members (``zlib.decompressobj(wbits=31)`` + ``unused_data``), not
  stop at the first stream end.

Scale shape: parsing is per-blob Python inside Arrow-batched
``mapInPandas`` (exactly the codec-kernel contract of
operators/multimodal.py) — one input blob explodes to one row per
record, and the ``on_error``
permissive mode yields a classified ``error`` instead of failing the task
(the 100 TB-crawl contract: a torn record per billion is a certainty). At
cluster scale each task parses its own WARC segments; nothing here
shuffles.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"


def encode_warc_record(
    rec_type: str,
    record_id: str,
    block: bytes,
    target_uri: str | None = None,
    content_type: str | None = None,
) -> bytes:
    """One spec-shaped WARC/1.0 record (round-trip twin of the parser),
    dated 2024-01-01T00:00:00Z."""
    h = [
        b"WARC/1.0",
        b"WARC-Type: " + rec_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode() + b">",
        b"WARC-Date: 2024-01-01T00:00:00Z",
    ]
    if target_uri is not None:
        h.append(b"WARC-Target-URI: " + target_uri.encode())
    if content_type is not None:
        h.append(b"Content-Type: " + content_type.encode())
    h.append(b"Content-Length: " + str(len(block)).encode())
    return _CRLF.join(h) + _CRLF + _CRLF + block + _CRLF + _CRLF


def http_response_block(status: int, reason: str, body: bytes) -> bytes:
    """HTTP/1.1 ``text/plain`` response message for a ``response`` record's
    block."""
    return (
        f"HTTP/1.1 {status} {reason}".encode() + _CRLF
        + b"Content-Type: text/plain" + _CRLF
        + f"Content-Length: {len(body)}".encode() + _CRLF + _CRLF
        + body
    )


def encode_warc(records: "list[bytes]", gzip_per_record: bool = False) -> bytes:
    """Concatenate encoded records into a WARC file; ``gzip_per_record``
    emits the Common Crawl member-per-record layout."""
    if not gzip_per_record:
        return b"".join(records)
    out = bytearray()
    for rec in records:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # gzip wrapper
        out += co.compress(rec) + co.flush()
    return bytes(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (a single-stream gunzip
    silently drops every record after the first — the classic WARC reader
    bug the member convention exists to catch)."""
    out, data = bytearray(), payload
    while data:
        d = zlib.decompressobj(31)
        out += d.decompress(data)
        out += d.flush()
        if not d.eof:
            raise ValueError("corrupt WARC: truncated gzip member")
        data = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> "list[dict]":
    """All records of a WARC blob (plain or member-gzipped) as dicts:
    ``type, record_id, target_uri, content_length, http_status,
    http_content_type, body`` (the http_* / body fields are None except on
    ``response`` records, whose HTTP message is parsed)."""
    if payload is None or len(payload) == 0:
        raise ValueError("not a WARC payload")
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    if not payload.startswith(b"WARC/"):
        raise ValueError("not a WARC payload")
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos:].strip() == b"":
            break
        eol = payload.find(_CRLF, pos)
        if eol < 0 or not payload[pos:eol].startswith(b"WARC/"):
            raise ValueError("corrupt WARC: missing version line")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = payload.find(_CRLF, pos)
            if eol < 0:
                raise ValueError("corrupt WARC: truncated header block")
            line = payload[pos:eol]
            pos = eol + 2
            if line == b"":
                break
            k, _, v = line.partition(b":")
            headers[k.decode("latin-1").strip().lower()] = (
                v.decode("latin-1").strip()
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("corrupt WARC: missing Content-Length") from None
        if pos + clen > n:
            raise ValueError("corrupt WARC: block past end of file")
        block = payload[pos : pos + clen]
        pos += clen
        if payload[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("corrupt WARC: missing record terminator")
        pos += 4
        rec = {
            "type": headers.get("warc-type", ""),
            "record_id": headers.get("warc-record-id", ""),
            "target_uri": headers.get("warc-target-uri"),
            "content_length": clen,
            "http_status": None,
            "http_content_type": None,
            "body": None,
        }
        if rec["type"] == "response" and block[:5] == b"HTTP/":
            head, sep, body = block.partition(_CRLF + _CRLF)
            if not sep:
                raise ValueError("corrupt WARC: unterminated HTTP header")
            lines = head.split(_CRLF)
            parts = lines[0].split(b" ", 2)
            if len(parts) < 2 or not parts[1].isdigit():
                raise ValueError("corrupt WARC: malformed HTTP status line")
            rec["http_status"] = int(parts[1])
            for ln in lines[1:]:
                k, _, v = ln.partition(b":")
                if k.decode("latin-1").strip().lower() == "content-type":
                    rec["http_content_type"] = v.decode("latin-1").strip()
            rec["body"] = body.decode("utf-8", errors="replace")
        records.append(rec)
    if not records:
        raise ValueError("corrupt WARC: no records")
    return records


WARC_RECORD_SCHEMA = StructType(
    [
        StructField("warc_id", LongType()),
        StructField("rec_index", LongType()),
        StructField("rec_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_length", LongType()),
        StructField("http_status", LongType()),
        StructField("http_content_type", StringType()),
        StructField("body", StringType()),
    ]
)

_PERMISSIVE_SCHEMA = StructType(
    WARC_RECORD_SCHEMA.fields + [StructField("error", StringType())]
)


def warc_records(
    df: DataFrame,
    on_error: str = "fail",
) -> DataFrame:
    """Explode a frame of WARC blobs (``warc_id``, ``payload``) into one
    row per record via
    Arrow-batched ``mapInPandas``. ``on_error="permissive"`` follows the
    multimodal kernel contract: an unparseable blob yields ONE row with
    NULL fields and a classified ``error`` column (schema gains the column
    only in this mode)."""
    if on_error not in ("fail", "permissive"):
        raise ValueError(f"on_error must be 'fail' or 'permissive' (got {on_error!r})")
    permissive = on_error == "permissive"
    schema = _PERMISSIVE_SCHEMA if permissive else WARC_RECORD_SCHEMA
    cols = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for wid, p in zip(pdf["warc_id"], pdf["payload"]):
                wid = int(wid)
                try:
                    recs = parse_warc(p)
                except Exception as e:  # noqa: BLE001 — classified below
                    if not permissive:
                        raise
                    rows.append(
                        (wid, None, None, None, None, None, None, None,
                         f"{type(e).__name__}: {e}")
                    )
                    continue
                for i, r in enumerate(recs):
                    row = (
                        wid, i, r["type"], r["target_uri"],
                        r["content_length"], r["http_status"],
                        r["http_content_type"], r["body"],
                    )
                    rows.append(row + (None,) if permissive else row)
            yield pd.DataFrame(rows, columns=cols)

    return df.select("warc_id", "payload").mapInPandas(
        batches, schema=schema
    )
