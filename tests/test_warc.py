"""WARC ingest (sources/warc.py): record round-trips, the member-gzip
loop, HTTP extraction, the permissive contract, and the distributed
exploder vs the local parser."""

import zlib

import pytest
from pyspark.sql import functions as F

from covid19_spark.sources.warc import (
    encode_warc,
    encode_warc_record,
    http_response_block,
    parse_warc,
    warc_records,
)


def _archive(d, gz):
    uri = f"https://site{d}.example/"
    return encode_warc(
        [
            encode_warc_record(
                "warcinfo", f"i{d}", b"software: t\r\n",
                content_type="application/warc-fields",
            ),
            encode_warc_record(
                "request", f"q{d}", b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                target_uri=uri,
                content_type="application/http; msgtype=request",
            ),
            encode_warc_record(
                "response", f"r{d}",
                http_response_block(200, "OK", f"body {d} text".encode()),
                target_uri=uri,
                content_type="application/http; msgtype=response",
            ),
        ],
        gzip_per_record=gz,
    )


@pytest.mark.parametrize("gz", [False, True])
def test_parse_roundtrip(gz):
    recs = parse_warc(_archive(5, gz))
    assert [r["type"] for r in recs] == ["warcinfo", "request", "response"]
    r = recs[2]
    assert r["http_status"] == 200
    assert r["http_content_type"] == "text/plain"
    assert r["body"] == "body 5 text"
    assert r["target_uri"] == "https://site5.example/"
    assert recs[0]["http_status"] is None and recs[0]["body"] is None


def test_member_gzip_needs_the_loop():
    """A single-stream gunzip yields exactly ONE record from a 3-record
    member-gzipped archive — the classic WARC reader bug. The parser must
    loop over members."""
    blob = _archive(3, True)
    d = zlib.decompressobj(31)
    first_member_only = d.decompress(blob)
    assert len(parse_warc(first_member_only)) == 1
    assert len(parse_warc(blob)) == 3


def test_corrupt_rejection():
    whole = _archive(1, False)
    for cut in (10, 60, len(whole) - 3):
        with pytest.raises(ValueError, match="corrupt WARC|not a WARC"):
            parse_warc(whole[:cut])
    with pytest.raises(ValueError):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError):
        parse_warc(b"")
    # truncated gzip member
    with pytest.raises(ValueError, match="gzip"):
        parse_warc(_archive(1, True)[:-8])


def test_warc_records_distributed_matches_local(spark):
    blobs = [(d, _archive(d, d % 2 == 1)) for d in range(12)]
    df = spark.createDataFrame(blobs, "warc_id long, payload binary")
    got = {
        (r.warc_id, r.rec_index): (r.rec_type, r.http_status, r.body)
        for r in warc_records(df).collect()
    }
    assert len(got) == 36
    for d, blob in blobs:
        for i, rec in enumerate(parse_warc(blob)):
            assert got[(d, i)] == (rec["type"], rec["http_status"], rec["body"])


def test_warc_records_permissive(spark):
    blobs = [(0, _archive(0, False)), (1, b"\x00garbage"), (2, _archive(2, True))]
    df = spark.createDataFrame(blobs, "warc_id long, payload binary")
    with pytest.raises(Exception):
        warc_records(df).collect()  # fail mode surfaces the bad blob
    rows = warc_records(df, on_error="permissive").collect()
    ok = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(ok) == 6 and len(bad) == 1
    assert bad[0].warc_id == 1 and "ValueError" in bad[0].error
    with pytest.raises(ValueError, match="on_error"):
        warc_records(df, on_error="nope")
