"""Unit tests for the round-2 webtext pipeline ops:

  * pipeline/web.py  — URL host/domain/tld/path parsing + domain rollups
  * pipeline/dedup.py line_dedup — CCNet-style corpus line dedup
  * pipeline/text.py repetition_features — Gopher repetition signals
"""

import pytest
from pyspark.sql import functions as F

from gos2_spark.pipeline.web import (
    domain_stats,
    with_url_parts,
)
from gos2_spark.pipeline.dedup import line_dedup
from gos2_spark.pipeline.text import repetition_features


URL_CASES = [
    # url, host, domain, tld, path_depth
    ("https://www.example.com/a/b/c", "www.example.com", "example.com", "com", 3),
    ("http://example.org", "example.org", "example.org", "org", 0),
    ("https://example.org/", "example.org", "example.org", "org", 0),
    ("HTTPS://WWW.EXAMPLE.NET/X", "www.example.net", "example.net", "net", 1),
    ("https://host.tld:8080/p", "host.tld", "host.tld", "tld", 1),
    ("https://user:pw@h.example.com/p/q?x=1#f", "h.example.com", "example.com", "com", 2),
    ("https://single/p//q/", "single", "single", "single", 2),
    ("ftp+ssh://a.b.c.d.e/deep/1/2/3/4", "a.b.c.d.e", "d.e", "e", 5),
    ("not a url at all", "", "", "", 0),
]


def test_url_parts(spark):
    df = spark.createDataFrame([(u,) for u, *_ in URL_CASES], ["url"])
    rows = {
        r["url"]: r
        for r in with_url_parts(df).collect()
    }
    for url, host, domain, tld, depth in URL_CASES:
        r = rows[url]
        assert r["host"] == host, url
        assert r["domain"] == domain, url
        assert r["tld"] == tld, url
        assert r["path_depth"] == depth, url


def test_domain_stats(spark):
    rows = [
        ("https://www.a.com/x", "aaaa", 1.0),
        ("https://m.a.com/x/y", "bb", 3.0),
        ("https://b.org/z", "cccccc", 5.0),
    ]
    df = spark.createDataFrame(rows, ["url", "text", "q"])
    stats = {r["domain"]: r for r in domain_stats(df).collect()}
    assert stats["a.com"]["n_pages"] == 2
    assert stats["a.com"]["n_hosts"] == 2
    assert stats["a.com"]["total_chars"] == 6
    assert stats["a.com"]["max_path_depth"] == 2
    assert stats["b.org"]["n_pages"] == 1


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    boiler = "subscribe now"
    docs = [
        (0, f"alpha one\n{boiler}\nbeta two"),
        (1, f"{boiler}\ngamma three"),
        (2, f"delta four\n{boiler}"),
        (3, "unique only"),
        (4, f"  {boiler}  \nepsilon five"),  # whitespace-normalized match
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["key"]: r for r in line_dedup(df, max_occurrences=2).collect()}
    # boiler appears (trimmed) in 4 docs > 2 -> dropped everywhere
    assert out[0]["text"] == "alpha one\nbeta two"
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 2
    assert out[1]["text"] == "gamma three"
    assert out[2]["text"] == "delta four"
    assert out[3]["text"] == "unique only"
    assert out[3]["n_kept"] == 1
    assert out[4]["text"] == "epsilon five"


def test_line_dedup_doc_count_not_occurrence_count(spark):
    # A line repeated 5x inside ONE doc is not corpus boilerplate.
    df = spark.createDataFrame(
        [(0, "x\nx\nx\nx\nx"), (1, "y")], ["doc_id", "text"]
    )
    out = {r["key"]: r for r in line_dedup(df, max_occurrences=1).collect()}
    assert out[0]["n_kept"] == 5
    assert out[0]["text"] == "x\nx\nx\nx\nx"


def test_line_dedup_all_dropped_doc(spark):
    df = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, "same")], ["doc_id", "text"]
    )
    out = {r["key"]: r for r in line_dedup(df, max_occurrences=2).collect()}
    assert all(out[k]["text"] == "" and out[k]["n_kept"] == 0 for k in out)


def test_line_dedup_keeps_docs_with_no_qualifying_lines(spark):
    # doc 1's lines are all shorter than min_line_chars: it must still come
    # back as (key, '', 0, 0), one row per INPUT doc (round-2 dropped it)
    df = spark.createDataFrame(
        [(0, "a long enough line\nanother long line"), (1, "x\ny\n\nz")],
        ["doc_id", "text"],
    )
    out = {
        r["key"]: r
        for r in line_dedup(df, max_occurrences=5, min_line_chars=3).collect()
    }
    assert set(out) == {0, 1}
    assert out[1]["text"] == "" and out[1]["n_lines"] == 0 and out[1]["n_kept"] == 0
    assert out[0]["n_lines"] == 2 and out[0]["n_kept"] == 2


def test_repetition_features_known_values(spark):
    docs = [
        # 4 lines, 1 duplicated pair "dup": dup_line_frac = 1 - 3/4 = 0.25;
        # dup chars = 3 of 3+3+1+2=9
        (0, "dup\ndup\na\nbc"),
        # "w w w w": bigrams = [w w, w w, w w] -> top_bigram_frac = 1.0
        (1, "w w w w"),
        # no repetition at all
        (2, "p q r s"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert out[0]["dup_line_frac"] == pytest.approx(0.25)
    assert out[0]["dup_line_char_frac"] == pytest.approx(3 / 9)
    assert out[1]["top_bigram_frac"] == pytest.approx(1.0)
    assert out[2]["dup_line_frac"] == pytest.approx(0.0)
    assert out[2]["dup_line_char_frac"] == pytest.approx(0.0)
    # "p q", "q r", "r s" all distinct -> 1/3
    assert out[2]["top_bigram_frac"] == pytest.approx(1 / 3)


def test_repetition_features_degenerate(spark):
    df = spark.createDataFrame([(0, ""), (1, "one")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    for k in (0, 1):
        assert out[k]["dup_line_frac"] == 0.0
        assert out[k]["top_bigram_frac"] == 0.0


def test_repetition_features_adds_no_shuffle(spark):
    # The Gopher signals are per-row array folds: the physical plan up to
    # (and excluding) any aggregation must contain NO Exchange.
    df = spark.createDataFrame([(0, "a b c\nd e f")], ["doc_id", "text"])
    plan = repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_warc_roundtrip_plain_and_gzip():
    """WARC writer/parser (spark/warc.py): record fields and payload bytes
    survive both the plain and per-record-gzip-member layouts; non-response
    records are preserved by the iterator (filtering is the reader's job);
    truncation raises."""
    import pytest as _pytest

    from gos2_spark.spark.warc import build_warc, build_warc_record, iter_warc_records

    recs = [
        ("https://x.example/1", "2024-01-01T00:00:00Z", b"<p>one</p>"),
        ("https://x.example/2", "2024-06-15T12:34:56Z", b"\x00binary\xffbytes"),
    ]
    for gz in (False, True):
        got = list(iter_warc_records(build_warc(recs, gzip_members=gz)))
        assert [r["headers"]["WARC-Target-URI"] for r in got] == [u for u, _, _ in recs]
        assert [r["payload"] for r in got] == [p for _, _, p in recs]
        assert all(r["headers"]["WARC-Type"] == "response" for r in got)
    # warcinfo record flows through the iterator
    info = build_warc_record("urn:x", "2024-01-01T00:00:00Z", b"meta", rec_type="warcinfo")
    got = list(iter_warc_records(info + build_warc_record(*recs[0])))
    assert [r["headers"]["WARC-Type"] for r in got] == ["warcinfo", "response"]
    with _pytest.raises(ValueError):
        list(iter_warc_records(build_warc_record(*recs[0])[:30]))


def test_warc_segments_distributed_parity(spark):
    """read_warc_segments == local parse of every segment: same rows, and
    non-response records are dropped by the Spark reader only."""
    from gos2_spark.spark.warc import (
        iter_warc_records, read_warc_segments, synth_warc_segments,
    )

    segs = synth_warc_segments(spark, 3, 7)
    got = {
        (r["url"], r["warc_ts"].isoformat(), bytes(r["html"]))
        for r in read_warc_segments(segs).collect()
    }
    want = set()
    for row in segs.collect():
        for rec in iter_warc_records(bytes(row["payload"])):
            h = rec["headers"]
            import datetime as dt

            ts = dt.datetime.strptime(
                h["WARC-Date"], "%Y-%m-%dT%H:%M:%SZ"
            )
            want.add((h["WARC-Target-URI"], ts.isoformat(), rec["payload"]))
    assert got == want and len(got) == 21


def test_extract_anchor_pairs_aligned_and_ordered(spark):
    """(href, anchor) pairs stay aligned through the double extract_all;
    empty anchors and relative hrefs survive as data (caller filters)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from gos2_spark.pipeline.web import extract_anchor_pairs

    html = (
        '<a href="https://a.example/x">first link</a> noise '
        '<a href="/rel">second</a><a href="https://b.example">'
        "</a>"
    )
    rows = (
        spark.createDataFrame([Row(html=html)])
        .select(F.explode(extract_anchor_pairs(F.col("html"))).alias("p"))
        .select("p.href", "p.anchor")
        .collect()
    )
    assert [(r["href"], r["anchor"]) for r in rows] == [
        ("https://a.example/x", "first link"),
        ("/rel", "second"),
        ("https://b.example", ""),
    ]


def test_extract_anchor_pairs_no_links(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from gos2_spark.pipeline.web import extract_anchor_pairs

    out = (
        spark.createDataFrame([Row(html="<p>plain text, no anchors</p>")])
        .select(F.size(extract_anchor_pairs(F.col("html"))).alias("n"))
        .collect()[0]["n"]
    )
    assert out == 0
