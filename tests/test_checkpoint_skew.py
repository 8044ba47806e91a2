"""Checkpointed runner (resume + manifests), sources and skewed-input tests."""

import json
import os

import numpy as np
from pyspark.sql import functions as F

from gos2_spark.kernels import hilbert as H
from gos2_spark.spark.checkpoint import CheckpointedRunner, lineage_hash
from gos2_spark.spark.pages import geoparsed_pages, synth_pages


def test_checkpoint_runner_resume(spark, tmp_path):
    lineage = lineage_hash("v1", {"p": 1}, "fixture")
    runner = CheckpointedRunner(str(tmp_path / "out"), lineage)
    calls = {"n": 0}

    def load(pid):
        calls["n"] += 1
        lo, hi = {"a": (0, 1000), "b": (1000, 2000)}[pid]
        return spark.range(lo, hi)

    def transform(df):
        return df.where(F.col("id") % 2 == 0)

    res1 = runner.run_all(["a", "b"], load, transform)
    assert [r.skipped for r in res1] == [False, False]
    assert [r.rows_out for r in res1] == [500, 500]
    assert calls["n"] == 2

    # resume: same lineage -> both skipped, loader not called again
    res2 = runner.run_all(["a", "b"], load, transform)
    assert [r.skipped for r in res2] == [True, True]
    assert calls["n"] == 2
    # output stays readable and complete
    total = spark.read.parquet(str(tmp_path / "out" / "data")).count()
    assert total == 1000

    # changed lineage -> reruns
    runner2 = CheckpointedRunner(str(tmp_path / "out"), lineage_hash("v2", {}, "x"))
    res3 = runner2.run_all(["a"], load, transform)
    assert not res3[0].skipped

    metrics = runner2.metrics()
    assert {m["partition_id"] for m in metrics} == {"a", "b"}
    assert all(m["rows_out"] == 500 for m in metrics)


def test_pages_source_fallback_roundtrip(spark, tmp_path):
    """read_pages/write_pages degrade to parquet without the Iceberg jar,
    preserving schema and content; input_fingerprint is stable across
    re-listing and changes when the data changes."""
    from gos2_spark.spark.pages import synth_pages
    from gos2_spark.spark.source import (
        iceberg_available, input_fingerprint, read_pages, write_pages,
    )

    assert iceberg_available(spark) is False  # sandbox has no iceberg jar
    loc = str(tmp_path / "pages_tbl")
    df = synth_pages(spark, 100)
    write_pages(df, loc, mode="overwrite")
    back = read_pages(spark, loc)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert back.count() == 100
    f1 = input_fingerprint(spark, loc)
    assert f1 == input_fingerprint(spark, loc)
    write_pages(synth_pages(spark, 10), loc, mode="append")
    assert input_fingerprint(spark, loc) != f1
    assert read_pages(spark, loc).count() == 110


def test_distance_join_skewed_cities_exact(spark):
    """Within-radius self-join stays exact on the clustered city mixture
    (hot blocking cells; AQE skew-join splits the quadratic block work).
    Checked by full brute force against a 150-point probe set."""
    import math

    from gos2_spark.spark.joins import distance_join

    pts = geoparsed_pages(synth_pages(spark, 20_000)).cache()
    rows = pts.select("url", "lat", "lng").collect()
    radius_deg = 0.4  # inside a city blob (~0.15 deg spread -> dense pairs)

    lat = np.radians(np.array([r.lat for r in rows]))
    lng = np.radians(np.array([r.lng for r in rows]))
    x = np.cos(lng) * np.cos(lat)
    y = np.sin(lng) * np.cos(lat)
    z = np.sin(lat)
    urls = [r.url for r in rows]
    rng = np.random.default_rng(11)
    probe = rng.choice(len(rows), size=150, replace=False)
    probe_urls = {urls[i] for i in probe}

    # the full join runs distributed; only probe-involved pairs come back
    joined = distance_join(pts, radius_deg)
    got = joined.where(
        F.col("key_a").isin(probe_urls) | F.col("key_b").isin(probe_urls)
    ).collect()
    got_by_url: dict[str, set] = {}
    for r in got:
        got_by_url.setdefault(r.key_a, set()).add(r.key_b)
        got_by_url.setdefault(r.key_b, set()).add(r.key_a)
    n_checked_pairs = 0
    for i in probe:
        cx = y[i] * z - z[i] * y
        cy = z[i] * x - x[i] * z
        cz = x[i] * y - y[i] * x
        d = np.arctan2(
            np.sqrt(cx * cx + cy * cy + cz * cz), x[i] * x + y[i] * y + z[i] * z
        )
        want = {urls[j] for j in np.nonzero(d <= math.radians(radius_deg))[0] if j != i}
        assert got_by_url.get(urls[i], set()) == want, urls[i]
        n_checked_pairs += len(want)
    assert n_checked_pairs > 0  # city probes must actually have neighbors
    pts.unpersist()


def test_cell_sorted_write_enables_pushdown(spark, tmp_path):
    """Cell-sorted storage + covering-range prefilter: the BETWEEN chain
    reaches the parquet scan as PushedFilters (row-group/file min-max
    pruning at scale), and results equal the unsorted read."""
    from gos2_spark.spark.joins import _covering_prefilter
    from gos2_spark.spark.source import write_points_cell_sorted
    from gos2_spark.geometry import Cap

    pts = geoparsed_pages(synth_pages(spark, 20_000))
    loc = str(tmp_path / "cell_sorted")
    write_points_cell_sorted(pts, loc, num_files=8)
    stored = spark.read.parquet(loc)

    cap = Cap.from_latlng_deg(40.7128, -74.0060, 3.0)
    pre = _covering_prefilter(cap, F.col("cell_id"))
    filtered = stored.where(pre)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "cell_id" in plan.split("PushedFilters")[1][:400], \
        plan[:2000]

    got = sorted(r.url for r in filtered.collect())
    want = sorted(r.url for r in pts.where(pre).collect())
    assert got == want and len(got) > 0


def test_pip_join_prefilter_pushes_down_on_stored_points(spark, tmp_path):
    """The staged-deployment path (the perfbench ``pip_staged`` layout):
    when the pip join reads a stored points table, its OR-of-BETWEEN covering
    prefilter must reach the parquet scan as PushedFilters — that is the
    row-group pruning the 100 TB layout depends on."""
    from gos2_spark.geometry import Loop
    from gos2_spark.spark.joins import TileSet, point_in_polygon_join
    from gos2_spark.spark.source import write_points_cell_sorted

    pts = geoparsed_pages(synth_pages(spark, 20_000))
    loc = str(tmp_path / "pts")
    write_points_cell_sorted(pts, loc, num_files=4)
    stored = spark.read.parquet(loc)
    tiles = TileSet(
        {"nyc": Loop.regular(40.7128, -74.0060, 1.5, 16)}, max_cells=16
    )
    joined = point_in_polygon_join(stored, tiles, how="inner")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("PushedFilters")
    assert len(scan) > 1 and "cell_id" in scan[1][:600], plan[:3000]
    # parity with the in-memory path
    got = {(r.url, r.tile_id) for r in joined.collect()}
    want = {
        (r.url, r.tile_id)
        for r in point_in_polygon_join(pts, tiles, how="inner").collect()
    }
    assert got == want and len(got) > 0


def test_curation_job_end_to_end_and_resume(spark, tmp_path):
    """jobs/curation_job.py e2e at tiny scale: quality gates drop short and
    repetitive docs, corpus line-dedup strips shared boilerplate, exact
    dedup collapses identical texts, and a re-run resumes (skips all
    stage-1 buckets)."""
    import json as _json

    from jobs.curation_job import main

    body = " ".join(f"w{i}" for i in range(30))
    boiler = "subscribe to our newsletter"
    rows = []
    for i in range(40):
        text = f"doc {i} starts\n{body} {i}\n{boiler}"
        rows.append((f"https://site{i % 5}.com/p{i}", text, "en"))
    # a pair of exact duplicates (same text, different urls)
    rows.append(("https://dup.com/a", f"dup body\n{body}", "en"))
    rows.append(("https://dup.com/b", f"dup body\n{body}", "en"))
    # too short -> dropped by the token gate
    rows.append(("https://short.com/x", "tiny", "en"))
    # hyper-repetitive -> dropped by the bigram gate
    rows.append(("https://rep.com/x", "spam spam " * 40, "en"))
    df = spark.createDataFrame(rows, ["url", "text", "lang"])
    pages_dir = str(tmp_path / "pages")
    df.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    ).write.parquet(pages_dir)

    out = str(tmp_path / "curated")
    argv = [
        "--pages", pages_dir, "--output", out, "--buckets", "4",
        "--min-tokens", "10", "--line-occurrence-cap", "3",
        "--domain-cap", "1000",
    ]
    assert main(argv) == 0
    m = _json.load(open(f"{out}/_manifests/stage2.json"))
    assert m["stage1_rows_in"] == 44
    assert m["stage1_rows_out"] == 42          # short + repetitive dropped
    assert m["stage2_rows_out"] == 41          # one exact-dup collapsed
    result = spark.read.parquet(m["output"])
    texts = {r["url"]: r["text"] for r in result.collect()}
    # boilerplate line (in 40 docs > cap 3) removed; first/body lines kept
    assert all(boiler not in t for t in texts.values())
    assert texts["https://site0.com/p0"].startswith("doc 0 starts\n")
    assert len({u for u in texts if u.startswith("https://dup.com")}) == 1

    # resume: second run must skip every stage-1 bucket
    assert main(argv) == 0
    m2 = _json.load(open(f"{out}/_manifests/stage2.json"))
    assert m2["stage1_resumed_skips"] == 4 and m2["stage1_processed"] == 0
    assert m2["stage2_rows_out"] == m["stage2_rows_out"]


def test_cell_sorted_layout_prunes_row_groups(spark, tmp_path):
    """Beyond PushedFilters: measure ACTUAL min/max row-group pruning on
    the written files. Cell-sorted layout leaves only a small fraction of
    row groups overlapping the covering ranges; the same data written
    crawl-ordered overlaps nearly all of them."""
    import pyarrow.parquet as pq

    from gos2_spark.geometry import Cap
    from gos2_spark.kernels import hilbert as H
    from gos2_spark.cover.coverer import RegionCoverer

    from gos2_spark.spark.source import write_points_cell_sorted

    pts = geoparsed_pages(synth_pages(spark, 40_000))
    sloc = str(tmp_path / "sorted")
    uloc = str(tmp_path / "unsorted")
    write_points_cell_sorted(pts, sloc, num_files=8)
    pts.repartition(8).write.parquet(uloc)

    cap = Cap.from_latlng_deg(40.7128, -74.0060, 3.0)
    cov = RegionCoverer(max_cells=8).cell_union_covering(cap)
    rmin, rmax = cov.ranges()
    ranges = list(zip(
        (int(v) for v in H.to_signed(rmin)),
        (int(v) for v in H.to_signed(rmax)),
    ))

    def overlap_fraction(loc):
        import os

        total = kept = 0
        for fn in os.listdir(loc):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(loc, fn)).metadata
            sch = md.schema.to_arrow_schema()
            ci = sch.get_field_index("cell_id")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                total += 1
                if st is None:
                    kept += 1  # no stats -> reader must keep it
                    continue
                if any(st.min <= hi and st.max >= lo for lo, hi in ranges):
                    kept += 1
        assert total > 0
        return kept / total

    f_sorted = overlap_fraction(sloc)
    f_unsorted = overlap_fraction(uloc)
    # NYC 3-degree cap over the city-mixture corpus: sorted layout keeps
    # only the row groups whose Hilbert interval touches the cap
    assert f_sorted <= 0.5, f_sorted
    assert f_unsorted >= 0.9, f_unsorted
    assert f_sorted < f_unsorted
