"""WARC source: the Common-Crawl container format, parsed pure-stdlib.

A crawl delivers WARC files — concatenated records, each "WARC/1.0" +
headers + payload — usually as .warc.gz, which per spec is a stream of
INDEPENDENT gzip members (one per record) so readers can split work
without decompressing the whole file. This module provides:

* ``build_warc_record`` / ``build_warc``  — writer (plain or per-record
  gzip members) for deterministic fixtures and round-trip tests.
* ``iter_warc_records``                   — record iterator over plain or
  gzip bytes (member-wise inflate via zlib, stdlib only).
* ``read_warc_segments``                  — the Spark op: a DataFrame of
  (segment_id, payload binary) segments fans out to page rows
  (url, warc_ts, html) via mapInPandas — Arrow-batched, bounded memory
  per task, one output row per contained response record. Text
  extraction stays NATIVE downstream (pages.extract_text), preserving
  the byte-identical-text-per-url invariant.

At 100 TB the segment table IS how Common Crawl ships (e.g. one row per
warc.gz object, payload read by a preceding binary-file source); the
parse is embarrassingly parallel over segments and the only shuffle in a
WARC -> points pipeline is whatever the downstream query needs.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

_CRLF = b"\r\n"


def build_warc_record(
    url: str, date_iso: str, payload: bytes, rec_type: str = "response"
) -> bytes:
    """One WARC/1.0 record (uncompressed)."""
    headers = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: " + rec_type.encode() + _CRLF
        + b"WARC-Target-URI: " + url.encode() + _CRLF
        + b"WARC-Date: " + date_iso.encode() + _CRLF
        + b"Content-Length: " + str(len(payload)).encode() + _CRLF
        + _CRLF
    )
    return headers + payload + _CRLF + _CRLF


def build_warc(records: list[tuple[str, str, bytes]], gzip_members: bool = True) -> bytes:
    """records = [(url, iso_date, payload)] -> WARC bytes; with
    ``gzip_members`` each record is its own gzip member (the .warc.gz
    layout crawlers emit)."""
    out = bytearray()
    for url, date_iso, payload in records:
        rec = build_warc_record(url, date_iso, payload)
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)  # gzip wrapper
            out += co.compress(rec) + co.flush()
        else:
            out += rec
    return bytes(out)


def _inflate_members(data: bytes) -> bytes:
    """Concatenated gzip members -> plain bytes (member-wise inflate)."""
    out = bytearray()
    buf = data
    while buf:
        d = zlib.decompressobj(31)
        out += d.decompress(buf)
        out += d.flush()
        buf = d.unused_data
    return bytes(out)


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Yield {'headers': {name: value}, 'payload': bytes} per record.
    Accepts plain WARC or concatenated-gzip-member .warc.gz bytes."""
    b = bytes(data)
    if b[:2] == b"\x1f\x8b":
        b = _inflate_members(b)
    i = 0
    n = len(b)
    while i < n:
        # skip inter-record padding
        while i < n and b[i:i + 1] in (b"\r", b"\n"):
            i += 1
        if i >= n:
            break
        end_hdr = b.find(_CRLF + _CRLF, i)
        if end_hdr < 0:
            raise ValueError("truncated WARC header block")
        head = b[i:end_hdr].split(_CRLF)
        if not head[0].startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line at byte {i}")
        headers: dict[str, str] = {}
        for line in head[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode()] = v.strip().decode()
        length = int(headers["Content-Length"])
        p0 = end_hdr + 4
        payload = b[p0:p0 + length]
        if len(payload) != length:
            raise ValueError("truncated WARC payload")
        yield {"headers": headers, "payload": payload}
        i = p0 + length


def synth_warc_segments(
    spark, n_segments: int, docs_per_segment: int, gzip_members: bool = True
) -> DataFrame:
    """Deterministic .warc.gz segment table: segment s holds response
    records for doc_ids [s*per, (s+1)*per); every field is a closed-form
    function of doc_id so a SQL oracle can regenerate the extraction.
    Encoding runs executor-side (pandas UDF), one gzip member per record."""
    import datetime as dt

    from pyspark.sql import functions as F

    from .functions import pandas_udf

    per = docs_per_segment

    @pandas_udf(BinaryType())
    def _enc(ids: pd.Series) -> pd.Series:
        out = []
        for s in ids:
            s = int(s)
            recs = []
            for j in range(per):
                d = s * per + j
                lat = -60.0 + (d * 7) % 120
                lng = -170.0 + (d * 13) % 340
                html = (
                    f"<html><body><p>Doc {d} located at "
                    f"{lat:.6f}, {lng:.6f} today.</p></body></html>"
                ).encode()
                epoch = 1704067200 + (d * 37) % 31536000
                iso = dt.datetime.fromtimestamp(
                    epoch, dt.timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%SZ")
                url = f"https://site{d % 97}.example/{d}"
                recs.append((url, iso, html))
            out.append(build_warc(recs, gzip_members=gzip_members))
        return pd.Series(out)

    return spark.range(n_segments).select(
        F.col("id").alias("segment_id"), _enc(F.col("id")).alias("payload")
    )


PAGE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
])


def read_warc_segments(
    segments: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """(…, payload binary) segment rows -> page rows (url, warc_ts, html).

    One mapInPandas pass; each Arrow batch holds whole segments, so task
    memory is bounded by segment size (the crawler's own chunking unit).
    Non-response records (warcinfo, request, metadata) are skipped, per
    the Common-Crawl extraction convention."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: list[str] = []
            tss: list = []
            htmls: list[bytes] = []
            for payload in pdf[payload_col]:
                for rec in iter_warc_records(bytes(payload)):
                    h = rec["headers"]
                    if h.get("WARC-Type") != "response":
                        continue
                    urls.append(h["WARC-Target-URI"])
                    tss.append(pd.Timestamp(h["WARC-Date"]).tz_localize(None)
                               if pd.Timestamp(h["WARC-Date"]).tzinfo is None
                               else pd.Timestamp(h["WARC-Date"])
                               .tz_convert("UTC").tz_localize(None))
                    htmls.append(rec["payload"])
            yield pd.DataFrame(
                {"url": urls, "warc_ts": tss, "html": htmls}
            )

    from .functions import dropping_zip_importers

    return segments.mapInPandas(dropping_zip_importers(gen), schema=PAGE_SCHEMA)
