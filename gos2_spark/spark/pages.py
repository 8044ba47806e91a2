"""Synthetic Common-Crawl-style pages table + geoparse pipeline.

Input-table shape per BASELINE.json input_hint:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

The generator is fully deterministic per ``doc_id`` (seed folded into integer
hashing) and built from NATIVE column expressions only, so generation is
distributed, columnar, and byte-identical per url across runs — the parity
invariant. A clustered "city hot-spot" mixture (a few level-10-12 cells
holding a large share of rows) exercises skew handling per FIXTURES.md §1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (name, lat, lng, weight) — heavier cities create deliberate hot cells.
CITIES = [
    ("nyc", 40.7128, -74.0060, 12),
    ("london", 51.5074, -0.1278, 8),
    ("tokyo", 35.6762, 139.6503, 6),
    ("sydney", -33.8688, 151.2093, 2),
    ("lagos", 6.5244, 3.3792, 1),
    ("saopaulo", -23.5505, -46.6333, 1),
]
_TOTAL_W = sum(w for _, _, _, w in CITIES)
LANGS = ["en", "de", "fr", "es", "ja", "pt"]
CLUSTERED_PCT = 40  # % of geo-tagged docs concentrated in cities
GEO_PCT = 85  # % of docs carrying a parseable location mention


def _hash_unit(col, salt: int):
    """Deterministic pseudo-uniform in [0, 1) from an id column (xxhash64)."""
    h = F.xxhash64(col, F.lit(salt))
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def synth_pages(spark: SparkSession, num_docs: int, num_partitions: int | None = None) -> DataFrame:
    """Generate the deterministic pages table (native expressions only)."""
    if num_partitions is None:
        num_partitions = max(8, spark.sparkContext.defaultParallelism)
    df = spark.range(0, num_docs, 1, num_partitions).withColumnRenamed("id", "doc_id")

    u_geo = _hash_unit(F.col("doc_id"), 1)
    u_cluster = _hash_unit(F.col("doc_id"), 2)
    u_lat = _hash_unit(F.col("doc_id"), 4)
    u_lng = _hash_unit(F.col("doc_id"), 5)

    # uniform-on-sphere background: lat = asin(2u-1), lng = 360v - 180
    bg_lat = F.degrees(F.asin(2.0 * u_lat - 1.0))
    bg_lng = 360.0 * u_lng - 180.0

    # city mixture via weighted array lookup (flat expression — a nested
    # when-chain here would be duplicated into every consumer of lat/lng and
    # blow whole-stage codegen past janino's limits)
    w_lat = [c[1] for c in CITIES for _ in range(c[3])]
    w_lng = [c[2] for c in CITIES for _ in range(c[3])]
    city_idx = (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(3)), F.lit(_TOTAL_W)) + 1).cast("int")
    city_lat = F.element_at(F.array(*[F.lit(v) for v in w_lat]), city_idx) + (u_lat - 0.5) * 0.15
    city_lng = F.element_at(F.array(*[F.lit(v) for v in w_lng]), city_idx) + (u_lng - 0.5) * 0.15

    clustered = u_cluster < CLUSTERED_PCT / 100.0
    has_geo = u_geo < GEO_PCT / 100.0
    lat = F.when(clustered, city_lat).otherwise(bg_lat)
    lng = F.when(clustered, city_lng).otherwise(bg_lng)

    site_id = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(6)), F.lit(997))
    url = F.concat(F.lit("https://site"), site_id, F.lit(".example/"), F.col("doc_id"))
    warc_ts = F.timestamp_seconds(
        F.lit(1704067200) + F.pmod(F.col("doc_id") * 37, F.lit(31_536_000))
    )
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.col("doc_id") % 6 + 1).cast("int"))

    geo_text = F.format_string(
        "Contribution %d from site %d. The venue is located at %.6f, %.6f near the center.",
        F.col("doc_id"), site_id, lat, lng,
    )
    plain_text = F.format_string(
        "Contribution %d from site %d. No venue information was provided.",
        F.col("doc_id"), site_id,
    )
    text = F.when(has_geo, geo_text).otherwise(plain_text)
    html = F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")).cast("binary")

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def extract_text(html_col):
    """[SQL] deterministic HTML binary -> text extraction (engine-defined;
    the reference has no text handling): decode utf-8, strip tags, unescape
    the basic entities. No whitespace normalization — the north_rule
    invariant is BYTE-identical extracted text per url, so the extraction
    must be an exact function of the markup, not a lossy cleanup."""
    t = F.decode(html_col, "UTF-8")
    t = F.regexp_replace(t, r"<[^>]*>", "")
    # F.replace only exists on PySpark >= 3.5; fall back to regexp_replace
    # with escaped literals on older runtimes (streaming.py guards the
    # same minimum version).
    has_replace = hasattr(F, "replace")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        if has_replace:
            t = F.replace(t, F.lit(ent), F.lit(ch))
        else:
            import re as _re

            t = F.regexp_replace(t, _re.escape(ent), ch)
    return t


def geoparsed_pages(
    pages: DataFrame,
    level: int | None = None,
    keep: tuple[str, ...] = ("url",),
) -> DataFrame:
    """pages -> (keep..., lat, lng, cell_id); rows without a location drop.

    Plan shape matters here. Two Generate barriers make each expensive
    expression run exactly once per row, in the JVM:
    - the regex, behind ``explode(array(m))`` (a native regexp_extract gets
      re-evaluated by Catalyst at every consuming operator; we measured 9
      copies in the join plan);
    - the lat/lng string->double parse, behind
      ``inline(array(struct(lat, lng)))``. Without it Catalyst pushes the
      range filter through the projection, so each cast ran three times
      per row, and with ``url`` carried the fused stage's largest method
      grew to 8,417 bytes of bytecode (7,310 with the barrier), past the
      JVM's 8,000-byte JIT limit, and ran interpreted.
    The Hilbert encode is ALSO pure Spark SQL (functions.add_cellid_sql)
    so the whole indexing path has no Python worker at all — measured 3.1x
    faster than the Arrow kernel and bit-identical over 10M-point corpora.
    ``level`` adds a parent-cell join key via pure bitwise SQL.
    """
    from .functions import _GEO_RE, add_cellid_sql

    # explode(array(regex)) is a Generate barrier: the match string becomes a
    # concrete attribute, so the expensive regexp runs exactly once per row
    # and stays in the JVM (scales with cores; shipping text through the
    # Python channel does not — string->pandas conversion collapses at high
    # worker counts).
    m = F.regexp_extract(F.col("text"), _GEO_RE, 0)
    g = pages.select(*keep, F.explode(F.array(m)).alias("_m")).where(F.col("_m") != "")
    parts = F.split(F.col("_m"), ",")
    lat = F.trim(parts.getItem(0)).cast("double")
    lng = F.trim(parts.getItem(1)).cast("double")
    # second barrier: lat/lng become concrete attributes, so the range
    # filter below stops here instead of copying the casts into itself
    latlng = F.inline(F.array(F.struct(lat.alias("lat"), lng.alias("lng"))))
    out = g.select(*keep, latlng).where(
        (F.col("lat") >= -90.0) & (F.col("lat") <= 90.0)
        & (F.col("lng") >= -180.0) & (F.col("lng") <= 180.0)
    )
    out = add_cellid_sql(out, "lat", "lng", "cell_id")
    if level is not None:
        out = out.withColumn(f"cell_l{level}", s2_parent_sql(F.col("cell_id"), level))
    return out


def s2_parent_sql(cell, level: int):
    """[SQL] Parent(level) on biased ids: (id & -lsb) | lsb (cellid.go:168-171).

    Works directly on bias-encoded signed int64 because the bias bit (2^63)
    is preserved by & -lsb and unaffected by | lsb — pure codegen bitwise ops,
    no Python. This is the engine's shuffle/join key extractor.
    """
    lsb = 1 << (2 * (30 - level))
    neg = -lsb & ((1 << 64) - 1)  # two's-complement mask as unsigned
    neg_signed = neg - (1 << 64)  # back to Python negative for lit()
    return cell.bitwiseAND(F.lit(neg_signed)).bitwiseOR(F.lit(lsb))
