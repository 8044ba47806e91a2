"""URL / domain analysis for Common-Crawl-style corpora.

Web-scale curation is organized around the *host*: per-domain dedup budgets,
domain blocklists, and domain quality priors (as in CCNet / RefinedWeb /
FineWeb) all need host, registrable-domain, and TLD columns plus per-domain
aggregates. Everything here is NATIVE column expressions (regex + string
algebra inside whole-stage codegen — no Python, no UDFs), so a full-corpus
domain rollup is scan-bound and the only shuffle is the final groupBy(domain),
which is exactly the partitioning later per-domain stages want to reuse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme://host[:port]/...  ->  host  (lowercased; credentials stripped)
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def url_host(url_col: Column) -> Column:
    """Lowercased hostname of a URL ('' when the URL has no scheme/host)."""
    return F.lower(F.regexp_extract(url_col, _HOST_RE, 1))


def url_tld(url_col: Column) -> Column:
    """Final dot-label of the host (naive public-suffix stand-in)."""
    return F.substring_index(url_host(url_col), ".", -1)


def url_registrable_domain(url_col: Column) -> Column:
    """Last two host labels — the eTLD+1 heuristic used when no public-suffix
    list is loadable (CCNet groups shards the same way)."""
    return F.substring_index(url_host(url_col), ".", -2)


def url_path_depth(url_col: Column) -> Column:
    """Number of non-empty path segments after the host."""
    path = F.regexp_extract(url_col, _HOST_RE + r"(?::\d+)?([^?#]*)", 2)
    return F.size(
        F.filter(F.split(path, "/"), lambda s: F.length(s) > 0)
    ).cast("int")


def with_url_parts(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Add host / domain / tld / path_depth columns (pure projection)."""
    u = F.col(url_col)
    return pages.withColumns(
        {
            "host": url_host(u),
            "domain": url_registrable_domain(u),
            "tld": url_tld(u),
            "path_depth": url_path_depth(u),
        }
    )


def domain_stats(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-registrable-domain rollup: page count, distinct hosts, mean doc
    length, total bytes. ONE shuffle (groupBy domain); map-side partial
    aggregation makes the exchange carry one row per domain per task, so at
    10^12 pages the shuffle is O(domains), not O(pages)."""
    parts = with_url_parts(pages, url_col)
    return parts.groupBy("domain").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum(F.length(F.col(text_col)).cast("long")).alias("total_chars"),
        F.avg(F.length(F.col(text_col))).alias("avg_chars"),
        F.max("path_depth").alias("max_path_depth"),
    )


def url_canonicalize(url_col: Column) -> Column:
    """Canonical URL form (engine-defined, deterministic): drop the
    fragment, lowercase the scheme://host[:port] head, strip default
    :80/:443 ports, remove tracking query params (utm_*, fbclid, gclid),
    tidy dangling '?'/'&' separators, and strip trailing slashes.

    Crawl dedup keyed on raw URLs under-merges badly (fragments and
    tracking params fan one page out into dozens of keys); canonicalizing
    first is the standard CCNet/RefinedWeb pre-dedup step. Every rule is a
    single regexp/replace in whole-stage codegen — RE2-compatible patterns
    only (no lookaround), so a SQL oracle can mirror the chain verbatim.
    """
    u = F.regexp_replace(url_col, r"#.*$", "")
    head = F.lower(F.regexp_extract(u, r"^([^/?#]*//[^/?#]*)", 1))
    rest = F.regexp_replace(u, r"^[^/?#]*//[^/?#]*", "")
    u = F.concat(head, rest)
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "")
    u = F.replace(u, F.lit("?&"), F.lit("?"))
    u = F.regexp_replace(u, r"[?&]+$", "")
    return F.regexp_replace(u, r"/+$", "")


def extract_links(html_text_col: Column) -> Column:
    """All href target strings in an HTML text column (array<string>).

    One JVM-side regexp_extract_all per row — the link-graph extraction
    that feeds host-graph construction and PageRank (pipeline/graph.py).
    Callers with binary html decode first (pages.extract_text's decode).
    """
    return F.regexp_extract_all(html_text_col, F.lit(r'href="([^"]*)"'), 1)


def extract_anchor_pairs(html_text_col: Column) -> Column:
    """(href, anchor-text) pairs for every ``<a href="...">text</a>`` in an
    HTML text column — array<struct<href, anchor>>.

    Anchor text is how the linking page DESCRIBES the target, so
    aggregating it per target host is the classic relevance signal
    (anchor-text indexing) and a strong quality/topic prior for crawl
    frontiers. Two aligned ``regexp_extract_all`` calls over the SAME
    pattern (group 1 = href, group 2 = anchor) zip into pairs — matches
    come from one regex so the arrays align by construction; still one
    codegen projection, no Python."""
    pat = F.lit(r'<a href="([^"]*)"[^>]*>([^<]*)</a>')
    return F.arrays_zip(
        F.regexp_extract_all(html_text_col, pat, 1).alias("href"),
        F.regexp_extract_all(html_text_col, pat, 2).alias("anchor"),
    )


def url_path(url_col: Column) -> Column:
    """URL path component ('' when absent; query/fragment excluded)."""
    return F.regexp_extract(url_col, _HOST_RE + r"(?::\d+)?([^?#]*)", 2)


def robots_gate(
    pages: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop pages whose URL path starts with a disallowed prefix for their
    host — a robots.txt-style crawl gate. ``rules`` is a tiny
    (host, path_prefix) table where host '*' matches every host.

    Shape at scale: the rules table is O(10^2..10^4) rows, so this is a
    broadcast nested-loop ANTI join with the prefix predicate evaluated in
    codegen — no shuffle of the page table at all. The host/path columns
    are computed once in the same projection.
    """
    p = pages.withColumns(
        {"_host": url_host(F.col(url_col)), "_path": url_path(F.col(url_col))}
    )
    cond = (
        (rules["host"] == F.lit("*")) | (rules["host"] == p["_host"])
    ) & p["_path"].startswith(rules["path_prefix"])
    return p.join(F.broadcast(rules), cond, "left_anti").drop("_host", "_path")


def cocitation(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_out_degree: int = 1000,
) -> DataFrame:
    """Host co-citation: for every unordered pair of destination hosts,
    how many DISTINCT source hosts link to both — the classic relatedness
    signal over a web link graph (co-cited hosts are topically close even
    with zero direct links between them).

    Plan: distinct (src, dst) edges -> drop sources whose out-degree
    exceeds ``max_out_degree`` (each source contributes out_degree^2
    pairs, so one hub source would dominate both cost AND signal — the
    standard co-citation hub cut) -> self-join on src with dst_a < dst_b
    -> one count per pair. The self-join is bounded by the degree cap,
    never all-pairs of hosts.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("_d"))
    kept = e.join(
        deg.where(F.col("_d") <= max_out_degree).select("src"), "src"
    )
    a = kept.select("src", F.col("dst").alias("dst_a"))
    b = kept.select("src", F.col("dst").alias("dst_b"))
    return (
        a.join(b, "src")
        .where(F.col("dst_a") < F.col("dst_b"))
        .groupBy("dst_a", "dst_b")
        .agg(F.count("*").alias("n_cociting"))
    )


def bib_coupling(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_in_degree: int = 1000,
) -> DataFrame:
    """Bibliographic coupling — the outlink dual of ``cocitation``: for
    every unordered pair of SOURCE hosts, how many DISTINCT destination
    hosts they both link to. Two hosts that cite the same references are
    topically close even if nothing co-cites them yet (the young-page /
    young-host case where co-citation is still empty).

    Plan mirrors cocitation with the roles swapped: distinct (src, dst)
    edges -> drop destinations whose IN-degree exceeds ``max_in_degree``
    (a universally-linked hub like a CDN or login page contributes
    in_degree^2 pairs and zero signal) -> self-join on dst with
    src_a < src_b -> one count per pair. Bounded by the degree cap.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("dst").agg(F.count("*").alias("_d"))
    kept = e.join(
        deg.where(F.col("_d") <= max_in_degree).select("dst"), "dst"
    )
    a = kept.select("dst", F.col("src").alias("src_a"))
    b = kept.select("dst", F.col("src").alias("src_b"))
    return (
        a.join(b, "dst")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_coupled"))
    )


def recrawl_priority(
    fetches: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Change-rate recrawl scheduling over a fetch log — the freshness
    policy a crawl frontier runs: pages that change often AND haven't
    been fetched recently come first.

    Per key over its (ts, fingerprint) history:
        changes      = #fetches whose fingerprint differs from the
                       previous fetch's (first fetch is not a change)
        age_days     = (last fetch - first fetch) in days
        lambda_day   = changes / age_days        (Poisson change rate)
        stale_days   = (corpus max ts - last fetch) in days
        priority     = lambda_day * stale_days   (expected missed changes)

    Keys with one fetch or zero age are emitted with NULL rate/priority
    (unknowable, the scheduler's cold-start bucket stays visible).

    Plan: one key-partitioned window (lag + min/max over the same
    shuffle), then a broadcast of the single-row corpus max — the only
    'global' input, joined as a broadcast nested loop, never a driver
    round-trip. Epoch math on BIGINT microseconds; the two divisions and
    the product are fixed-order doubles.
    """
    from pyspark.sql import Window

    us = F.expr(
        "timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    f = fetches.select(
        F.col(key_col).alias("key"),
        us.alias("_us"),
        F.col(fingerprint_col).alias("_fp"),
    )
    # total order even under timestamp ties: (ts, fingerprint) — the
    # change count depends on scan order, so pin it cross-engine
    w = Window.partitionBy("key").orderBy("_us", "_fp")
    marked = f.select(
        "key",
        "_us",
        (F.col("_fp") != F.lag("_fp").over(w)).cast("long").alias("_chg"),
    )
    per_key = marked.groupBy("key").agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.coalesce(F.col("_chg"), F.lit(0))).alias("n_changes"),
        F.min("_us").alias("_first"),
        F.max("_us").alias("_last"),
    )
    ref = per_key.agg(F.max("_last").alias("_ref"))
    day = F.lit(86400000000.0)
    age_days = (F.col("_last") - F.col("_first")).cast("double") / day
    stale_days = (F.col("_ref") - F.col("_last")).cast("double") / day
    lam = F.when(
        (F.col("n_fetches") >= 2) & (F.col("_last") > F.col("_first")),
        F.col("n_changes").cast("double") / age_days,
    )
    return per_key.join(F.broadcast(ref)).select(
        "key",
        "n_fetches",
        "n_changes",
        F.round(age_days, 9).alias("age_days"),
        F.round(stale_days, 9).alias("stale_days"),
        F.round(lam, 9).alias("lambda_day"),
        F.round(lam * stale_days, 9).alias("priority"),
    )
