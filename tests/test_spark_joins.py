"""Spark integration tests: flagship spatial joins vs pure-Python oracles.

The oracle is the driver-side geometry layer (itself verified against the
reference's fixtures), evaluated row-by-row on collected data — join output
rows must match it exactly (the north-star parity requirement).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gos2_spark.geometry import Cap, Loop, Polygon
from gos2_spark.geometry import _vec as V
from gos2_spark.spark.joins import (
    TileSet, cap_query, point_in_polygon_join, rect_query,
)
from gos2_spark.spark.pages import geoparsed_pages, synth_pages

N_DOCS = 4000


@pytest.fixture(scope="module")
def points(spark):
    df = geoparsed_pages(synth_pages(spark, N_DOCS)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def tileset():
    return TileSet(
        {
            "nyc": Loop.regular(40.7128, -74.0060, 1.5, 16),
            "london": Loop.regular(51.5074, -0.1278, 2.0, 12),
            "tokyo_ring": Polygon([
                Loop.regular(35.6762, 139.6503, 3.0, 16),
                Loop.regular(35.6762, 139.6503, 1.0, 12),  # hole
            ]),
        },
        max_cells=32,
    )


def _oracle_tiles(tileset, rows):
    """Pure-Python verdicts for every (row, tile)."""
    out = set()
    for r in rows:
        p = V.from_degrees(r.lat, r.lng)
        for tile_id, t in tileset.tiles.items():
            inside = False
            for verts, origin_inside in t["loops"]:
                loop = object.__new__(Loop)
                loop.vertices = [tuple(v) for v in verts]
                loop.origin_inside = origin_inside
                lat_lo, lat_hi, lng_lo, lng_hi = t["bound"]
                lat, lng = math.radians(r.lat), math.radians(r.lng)
                in_bound = lat_lo <= lat <= lat_hi and (
                    (lng_lo <= lng <= lng_hi) if lng_lo <= lng_hi
                    else (lng >= lng_lo or lng <= lng_hi)
                )
                if in_bound:
                    from gos2_spark.kernels import predicates as PR

                    ins = origin_inside
                    n = len(loop.vertices)
                    for i in range(n):
                        if PR.edge_or_vertex_crossing(
                            tuple(PR.ORIGIN), p, loop.vertices[i], loop.vertices[(i + 1) % n]
                        ):
                            ins = not ins
                    inside ^= ins
            if inside:
                out.add((r.url, tile_id))
    return out


def test_point_in_polygon_join_matches_oracle(spark, points, tileset):
    got = {
        (r.url, r.tile_id)
        for r in point_in_polygon_join(points, tileset).collect()
    }
    # oracle over candidate rows only (others provably outside all coverings)
    sample = points.select("url", "lat", "lng").collect()
    want = _oracle_tiles(tileset, sample)
    assert got == want
    assert len(got) > 0, "test tiles caught no pages — fixture broken"


def test_semi_and_anti_join(spark, points, tileset):
    inner = point_in_polygon_join(points, tileset, how="inner")
    semi = point_in_polygon_join(points, tileset, how="semi")
    anti = point_in_polygon_join(points, tileset, how="anti")
    inner_urls = {r.url for r in inner.select("url").distinct().collect()}
    semi_urls = {r.url for r in semi.select("url").collect()}
    anti_urls = {r.url for r in anti.select("url").collect()}
    all_urls = {r.url for r in points.select("url").collect()}
    assert semi_urls == inner_urls
    assert anti_urls == all_urls - inner_urls


def test_cap_query_matches_oracle(spark, points):
    got = {r.url for r in cap_query(points, 40.7128, -74.0060, 2.0).collect()}
    cap = Cap.from_latlng_deg(40.7128, -74.0060, 2.0)
    want = {
        r.url for r in points.select("url", "lat", "lng").collect()
        if cap.contains_point(V.from_degrees(r.lat, r.lng))
    }
    assert got == want
    # prefilter must not change results
    got_nofilter = {
        r.url for r in cap_query(points, 40.7128, -74.0060, 2.0, use_prefilter=False).collect()
    }
    assert got == got_nofilter


def test_rect_query_matches_oracle_with_wrap(spark, points):
    # rect wrapping the date line
    got = {r.url for r in rect_query(points, -30.0, 160.0, 10.0, -160.0).collect()}
    want = {
        r.url for r in points.select("url", "lat", "lng").collect()
        if -30.0 <= r.lat <= 10.0 and (r.lng >= 160.0 or r.lng <= -160.0)
    }
    assert got == want


def test_join_plan_is_broadcast_no_shuffle(spark, points, tileset):
    """The covering join must be a broadcast hash join on codegen'd bitwise
    keys — no shuffle exchange of the points side before the join. With
    ``rebalance=False`` (the staged deployment) the plan has no shuffle
    at all; the default adds only the round-robin rebalance after it."""
    import re

    for rebalance, shuffles in ((True, ["RoundRobinPartitioning"]), (False, [])):
        df = point_in_polygon_join(points, tileset, rebalance=rebalance)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, "covering join degraded to SMJ"
        got = re.findall(r"(?<!Broadcast)Exchange (\w+)", plan)
        assert got == shuffles, plan[:3000]


def test_pages_text_byte_identical_per_url(spark):
    """north_rule per-row invariant: byte-identical extracted text per url.

    The pages generator and the geoparse are pure functions of doc_id, so
    two independent materializations (different partitionings) must agree
    byte-for-byte per url, and the geoparsed lat/lng must reproduce the
    values printed into the text."""
    from pyspark.sql import functions as F

    from gos2_spark.spark.pages import geoparsed_pages, synth_pages

    a = synth_pages(spark, 2000, num_partitions=8)
    b = synth_pages(spark, 2000, num_partitions=3)
    ha = a.select(F.md5(F.concat_ws("|", "url", F.col("text"))).alias("h"))
    hb = b.select(F.md5(F.concat_ws("|", "url", F.col("text"))).alias("h"))
    assert ha.exceptAll(hb).count() == 0
    assert hb.exceptAll(ha).count() == 0

    # text -> (lat, lng) round trip: re-parse reproduces the embedded values
    gp = geoparsed_pages(a, keep=("url", "text"))
    bad = gp.where(
        ~F.col("text").contains(
            F.format_string("%.6f, %.6f", F.col("lat"), F.col("lng"))
        )
    ).count()
    assert bad == 0


def test_polygon_overlap_join():
    """Polygon-polygon join (SURVEY §2.6): covering-range blocking + exact
    loop relations, on tiles with known overlap structure."""
    from gos2_spark.geometry import Loop
    from gos2_spark.spark.joins import TileSet, polygon_overlap_join

    a = TileSet({
        "big_nyc": Loop.regular(40.7, -74.0, 3.0, 16),
        "tokyo": Loop.regular(35.68, 139.65, 2.0, 16),
        "sydney": Loop.regular(-33.87, 151.21, 1.0, 12),
    }, max_cells=16)
    b = TileSet({
        "small_nyc": Loop.regular(40.7, -74.0, 0.5, 12),
        "nyc_edge": Loop.regular(42.5, -74.0, 1.5, 12),   # overlaps big_nyc
        "london": Loop.regular(51.5, -0.13, 2.0, 12),     # disjoint from all
    }, max_cells=16)

    got = polygon_overlap_join(a, b)
    assert got == [
        ("big_nyc", "nyc_edge", "overlaps"),
        ("big_nyc", "small_nyc", "contains"),
    ]
    # symmetric direction flips contains/within
    rev = polygon_overlap_join(b, a)
    assert ("small_nyc", "big_nyc", "within") in rev
    assert ("nyc_edge", "big_nyc", "overlaps") in rev


def test_pip_join_rebalance_false_same_result(spark):
    """rebalance only changes the physical plan, never the result."""
    from gos2_spark.geometry import Loop
    from gos2_spark.spark.joins import TileSet, point_in_polygon_join
    from gos2_spark.spark.pages import geoparsed_pages, synth_pages

    pages = synth_pages(spark, 5000)
    tiles = TileSet({"nyc": Loop.regular(40.7128, -74.0060, 1.5, 16)}, max_cells=16)
    a = sorted(
        r["url"] for r in point_in_polygon_join(
            geoparsed_pages(pages), tiles, how="inner", rebalance=True
        ).collect()
    )
    b = sorted(
        r["url"] for r in point_in_polygon_join(
            geoparsed_pages(pages), tiles, how="inner", rebalance=False
        ).collect()
    )
    assert a == b and len(a) > 0


def _brute_pairs(rows, radius_rad, key="url"):
    """Numpy brute-force within-radius pairs with distance_rad_sql's exact
    float-op order (ax=cos(lng)*cos(lat), cross, atan2(sqrt, dot))."""
    lat = np.radians(np.array([r.lat for r in rows]))
    lng = np.radians(np.array([r.lng for r in rows]))
    ax = np.cos(lng) * np.cos(lat)
    ay = np.sin(lng) * np.cos(lat)
    az = np.sin(lat)
    cx = ay[:, None] * az[None, :] - az[:, None] * ay[None, :]
    cy = az[:, None] * ax[None, :] - ax[:, None] * az[None, :]
    cz = ax[:, None] * ay[None, :] - ay[:, None] * ax[None, :]
    dot = (ax[:, None] * ax[None, :] + ay[:, None] * ay[None, :]
           + az[:, None] * az[None, :])
    d = np.arctan2(np.sqrt(cx * cx + cy * cy + cz * cz), dot)
    keys = [getattr(r, key) for r in rows]
    out = {}
    ii, jj = np.nonzero(d <= radius_rad)
    for i, j in zip(ii, jj):
        if keys[i] < keys[j]:
            out[(keys[i], keys[j])] = float(d[i, j])
    return out


@pytest.mark.parametrize("radius_deg", [0.5, 3.0, 12.0])
def test_distance_join_matches_bruteforce(spark, points, radius_deg):
    """Within-radius self-join == brute-force O(n^2) oracle, exactly."""
    from gos2_spark.spark.joins import distance_join

    got = {
        (r.key_a, r.key_b): r.dist_rad
        for r in distance_join(points, radius_deg).collect()
    }
    rows = points.select("url", "lat", "lng").collect()
    want = _brute_pairs(rows, math.radians(radius_deg))
    assert set(got) == set(want), (
        f"r={radius_deg}: missing={list(set(want) - set(got))[:5]} "
        f"extra={list(set(got) - set(want))[:5]}"
    )
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=0, abs=1e-15)
    assert len(got) > 0


def test_distance_join_two_sided_broadcast(spark, points):
    """A-vs-B mode: candidates blocked by cell, exact filter, B broadcast."""
    from gos2_spark.spark.joins import distance_join

    b = points.where(F.col("lat") > 30.0).withColumnRenamed("url", "bid")
    got = distance_join(
        points, 5.0, points_b=b, b_key="bid", broadcast_b=True
    ).collect()
    rows_a = points.select("url", "lat", "lng").collect()
    rows_b = [r for r in rows_a if r.lat > 30.0]
    lat_b = np.radians(np.array([r.lat for r in rows_b]))
    lng_b = np.radians(np.array([r.lng for r in rows_b]))
    bx = np.cos(lng_b) * np.cos(lat_b)
    by = np.sin(lng_b) * np.cos(lat_b)
    bz = np.sin(lat_b)
    want = set()
    for ra in rows_a:
        la, ga = math.radians(ra.lat), math.radians(ra.lng)
        x, y, z = math.cos(ga) * math.cos(la), math.sin(ga) * math.cos(la), math.sin(la)
        cx = y * bz - z * by
        cy = z * bx - x * bz
        cz = x * by - y * bx
        d = np.arctan2(np.sqrt(cx * cx + cy * cy + cz * cz), x * bx + y * by + z * bz)
        for k in np.nonzero(d <= math.radians(5.0))[0]:
            want.add((ra.url, rows_b[k].url))
    assert {(r.key_a, r.key_b) for r in got} == want
    assert len(got) > 0


def test_distance_join_large_radius_global(spark, points):
    """Radius beyond level-0 MinWidth (~54 deg) falls back to all-faces
    blocking; result still equals brute force exactly."""
    from gos2_spark.spark.joins import distance_join

    sub = points.where(F.col("url").substr(-1, 1) == "0")  # ~1/10th sample
    got = {
        (r.key_a, r.key_b): r.dist_rad
        for r in distance_join(sub, 80.0).collect()
    }
    rows = sub.select("url", "lat", "lng").collect()
    want = _brute_pairs(rows, math.radians(80.0))
    assert set(got) == set(want)
    assert len(got) > 0


def test_many_tiles_pip_join(spark, points):
    """Production tiling shape: hundreds of tiles in ONE broadcast covering
    join (not a join per tile). Probe rows verified against the driver-side
    geometry oracle across all 200 tiles."""
    rng = np.random.default_rng(23)
    tiles = {}
    for t in range(200):
        lat = float(rng.uniform(-65, 65))
        lng = float(rng.uniform(-180, 180))
        tiles[f"t{t:03d}"] = Loop.regular(lat, lng, float(rng.uniform(0.5, 4.0)), 8)
    ts = TileSet(tiles, max_cells=8)
    got = point_in_polygon_join(points, ts, how="inner").collect()
    got_pairs = {(r.url, r.tile_id) for r in got}
    assert len(got_pairs) == len(got)  # no duplicate (point, tile) rows

    rows = points.select("url", "lat", "lng").collect()
    probe = [rows[i] for i in rng.choice(len(rows), size=120, replace=False)]
    import math as m
    from gos2_spark.geometry import _vec as V

    for r in probe:
        p = V.from_degrees(r.lat, r.lng)
        want = {tid for tid, loop in tiles.items() if loop.contains(p)}
        have = {tid for (u, tid) in got_pairs if u == r.url}
        assert have == want, (r.url, have ^ want)


def test_parallel_tileset_build_identical():
    """TileSet(workers=N) builds identical coverings/interiors to serial."""
    rng = np.random.default_rng(31)
    tiles = {
        f"t{t}": Loop.regular(
            float(rng.uniform(-60, 60)), float(rng.uniform(-180, 180)),
            float(rng.uniform(0.5, 3.0)), 10)
        for t in range(24)
    }
    a = TileSet(tiles, max_cells=8)
    b = TileSet(tiles, max_cells=8, workers=8)
    assert set(a.tiles) == set(b.tiles)
    for k in a.tiles:
        assert a.tiles[k]["covering"].ids == b.tiles[k]["covering"].ids
        assert a.tiles[k]["interior"].ids == b.tiles[k]["interior"].ids
        assert a.tiles[k]["bound"] == b.tiles[k]["bound"]


def test_distance_join_plan_shape(spark, points):
    """The blocking equi-join must be a real join on _blk (hash or
    sort-merge) — never a cartesian/nested-loop blowup — and the chord^2
    prefilter must sit below the final atan2 filter."""
    from gos2_spark.spark.joins import distance_join

    plan = distance_join(points, 2.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:1500]


def test_extract_text_byte_identical(spark):
    """north_rule invariant through the engine op: extract_text(html) is
    BYTE-identical to the stored text for every page."""
    from gos2_spark.spark.pages import extract_text, synth_pages

    pages = synth_pages(spark, 20_000)
    bad = pages.where(
        extract_text(F.col("html")) != F.col("text")
    ).count()
    assert bad == 0
    # and on a re-partitioned copy (stability across physical layouts)
    bad2 = pages.repartition(17).where(
        extract_text(F.col("html")) != F.col("text")
    ).count()
    assert bad2 == 0


def _random_queries(seed: int, n: int) -> list[tuple[str, float, float]]:
    rng = np.random.default_rng(seed)
    return [
        (f"q{i:03d}", float(rng.uniform(-70, 70)), float(rng.uniform(-180, 180)))
        for i in range(n)
    ]


def _assert_knn_join_df_exact(spark, pts, queries, k, above):
    """knn_join_df(pts, queries, k) returns every query's exact top-k vs
    brute force, ties broken by (dist, url) as the join does. `above`
    says which side of KNN_CROSS_MAX_PAIRS the input sits on: below it
    knn_join_df answers in its one face round, above it the level ladder
    runs first. Returns the rows per query."""
    from gos2_spark.kernels import projection as PJ
    from gos2_spark.spark.functions import add_cellid_sql
    from gos2_spark.spark.joins import KNN_CROSS_MAX_PAIRS, knn_join_df

    rows = pts.select("url", "lat", "lng").collect()
    assert (len(queries) * len(rows) > KNN_CROSS_MAX_PAIRS) is above
    qdf = add_cellid_sql(
        spark.createDataFrame(queries, "qid string, lat double, lng double"),
        "lat", "lng", "cell_id",
    )
    by_q = {}
    for r in knn_join_df(pts, qdf, k=k).collect():
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {q for q, _, _ in queries}

    url = np.array([r.url for r in rows])
    lat = np.array([r.lat for r in rows]); lng = np.array([r.lng for r in rows])
    x2, y2, z2 = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
    for qid, qlat, qlng in queries:
        x1, y1, z1 = PJ.latlng_to_xyz(np.radians(qlat), np.radians(qlng))
        d = PJ.point_angle(x1, y1, z1, x2, y2, z2)
        want = list(url[np.lexsort((url, d))[:k]])
        have = [r.url for r in sorted(by_q[qid], key=lambda r: r.knn_rank)]
        assert have == want, qid
    return by_q


def test_knn_matches_bruteforce(spark, points):
    """Two fixed queries (a dense city and a remote ocean point), k=5."""
    queries = [("q_nyc", 40.7128, -74.0060), ("q_remote", -48.87, 123.39)]
    _assert_knn_join_df_exact(spark, points, queries, 5, above=False)


def test_knn_many_queries_single_pass(spark, points):
    """100 random queries, k=3, exact top-k on every query."""
    by_q = _assert_knn_join_df_exact(
        spark, points, _random_queries(41, 100), 3, above=False
    )
    assert all(len(v) == 3 for v in by_q.values())


def test_knn_join_df_matches_bruteforce(spark, points):
    """60 distributed queries with exact top-k, plus fewer points than k,
    where the face round returns all of them to every query."""
    queries = _random_queries(43, 60)
    _assert_knn_join_df_exact(spark, points, queries, 3, above=False)

    tiny = points.orderBy("url").limit(2)
    by_q = _assert_knn_join_df_exact(spark, tiny, queries[:4], 5, above=False)
    assert all(len(v) == 2 for v in by_q.values())


def test_knn_join_df_self_join_above_cross_bound(spark, points):
    """Every point against the set itself (3,375 x 3,375 pairs, above
    KNN_CROSS_MAX_PAIRS): the level ladder runs before the face round
    and every point still gets its exact top-2."""
    rows = points.select("url", "lat", "lng").collect()
    queries = [(r.url, r.lat, r.lng) for r in rows]
    _assert_knn_join_df_exact(spark, points, queries, 2, above=True)


def test_route_proximity_join_matches_brute_force(spark):
    """Covering-corridor prefilter + min-over-segments refine vs a
    brute-force kernel sweep over ALL points — a single wrongly-pruned
    point fails the key-set compare."""
    import numpy as np

    from gos2_spark.kernels import predicates as PR
    from gos2_spark.kernels import projection as PJ
    from gos2_spark.spark.functions import s2_cellid
    from gos2_spark.spark.joins import route_proximity_join

    route = [(10.0, -30.0), (25.0, 10.0), (5.0, 40.0)]
    radius = 3.0
    rng = np.random.default_rng(3)
    # cluster points around the corridor so many straddle the boundary
    lat = np.concatenate([
        rng.uniform(0, 35, 400), rng.uniform(-60, 60, 200)
    ])
    lng = np.concatenate([
        rng.uniform(-40, 50, 400), rng.uniform(-170, 170, 200)
    ])
    rows = [(i, float(lat[i]), float(lng[i])) for i in range(len(lat))]
    pts = (
        spark.createDataFrame(rows, "key long, lat double, lng double")
        .withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    )
    got = {
        r["key"]: r["route_dist_rad"]
        for r in route_proximity_join(pts, route, radius, point_key="key").collect()
    }
    # brute force with the same kernel
    import math

    x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
    P = np.stack([x, y, z], axis=1)
    w = [
        tuple(PJ.latlng_to_xyz(np.radians(np.array([la])), np.radians(np.array([ln])))[i][0] for i in range(3))
        for la, ln in route
    ]
    d = None
    for a, b in zip(w[:-1], w[1:]):
        di = PR.distance_to_edges(P, np.array(a), np.array(b))
        d = di if d is None else np.minimum(d, di)
    want = {
        i: float(d[i]) for i in range(len(lat)) if d[i] <= math.radians(radius)
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=0), k  # bit-identical


def test_route_proximity_join_no_shuffle(spark):
    """Broadcast prefilter + stateless refine: the plan must contain no
    Exchange (the output inherits the scan partitioning)."""
    from gos2_spark.spark.functions import s2_cellid
    from gos2_spark.spark.joins import route_proximity_join

    pts = (
        spark.createDataFrame(
            [(1, 10.0, -30.0)], "key long, lat double, lng double"
        )
        .withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    )
    out = route_proximity_join(pts, [(10.0, -30.0), (12.0, -20.0)], 2.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_tileset_from_geojson_holes_and_multipolygon(spark):
    """GeoJSON loader: [lng, lat] order, dropped closing positions, holes
    via the Polygon depth forest, MultiPolygon parts merged — verified by
    a pip join against points placed inside the outer ring, inside the
    hole, in the second part, and outside everything."""
    from gos2_spark.spark.functions import s2_cellid
    from gos2_spark.spark.joins import point_in_polygon_join, tileset_from_geojson

    def ring(coords):
        return coords + [coords[0]]  # GeoJSON rings repeat the first point

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "donut"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        ring([[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0]]),
                        ring([[8.0, 8.0], [12.0, 8.0], [12.0, 12.0], [8.0, 12.0]]),
                    ],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "pair"},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [ring([[40.0, -10.0], [45.0, -10.0], [45.0, -5.0], [40.0, -5.0]])],
                        [ring([[50.0, -10.0], [55.0, -10.0], [55.0, -5.0], [50.0, -5.0]])],
                    ],
                },
            },
        ],
    }
    tiles = tileset_from_geojson(gj, max_cells=16)
    pts = [
        (0, 5.0, 5.0),     # in donut ring (lat 5, lng 5)
        (1, 10.0, 10.0),   # in the hole -> NOT matched
        (2, -7.0, 42.0),   # multipolygon part 1
        (3, -7.0, 52.0),   # multipolygon part 2
        (4, -40.0, 100.0), # outside everything
    ]
    df = spark.createDataFrame(
        pts, "key long, lat double, lng double"
    ).withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    got = {
        r["key"]: r["tile_id"]
        for r in point_in_polygon_join(
            df, tiles, how="inner", point_key="key"
        ).collect()
    }
    assert got == {0: "donut", 2: "pair", 3: "pair"}


def test_route_proximity_join_antimeridian(spark):
    """Corridor blocking must survive a route crossing the +/-180
    meridian (slerp midpoints near the date line, cross-face cell
    neighborhoods) — verified against the brute-force kernel."""
    import math

    import numpy as np

    from gos2_spark.kernels import predicates as PR
    from gos2_spark.kernels import projection as PJ
    from gos2_spark.spark.functions import s2_cellid
    from gos2_spark.spark.joins import route_proximity_join

    route = [(5.0, 170.0), (8.0, -170.0)]  # crosses the antimeridian
    radius = 2.0
    lat = np.concatenate([
        np.linspace(2.0, 11.0, 40),
        np.array([6.0, 6.5, 7.0, -30.0]),
    ])
    lng = np.concatenate([
        np.linspace(165.0, 195.0, 40) % 360.0 - 180.0 + 180.0,
        np.array([179.9, -179.9, 180.0 - 1e-9, 20.0]),
    ])
    lng = (lng + 180.0) % 360.0 - 180.0
    rows = [(i, float(lat[i]), float(lng[i])) for i in range(len(lat))]
    pts = (
        spark.createDataFrame(rows, "key long, lat double, lng double")
        .withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    )
    got = {
        r["key"]
        for r in route_proximity_join(pts, route, radius, point_key="key").collect()
    }
    x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
    P = np.stack([x, y, z], axis=1)
    w = [
        np.array([
            math.cos(math.radians(ln)) * math.cos(math.radians(la)),
            math.sin(math.radians(ln)) * math.cos(math.radians(la)),
            math.sin(math.radians(la)),
        ])
        for la, ln in route
    ]
    d = PR.distance_to_edges(P, w[0], w[1])
    want = {i for i in range(len(lat)) if d[i] <= math.radians(radius)}
    assert got == want and len(want) > 10


class TestNearestFeatureJoin:
    FEATS = [
        (0, [(10.0, 10.0), (12.0, 14.0), (8.0, 13.0)]),
        (1, [(-20.0, 40.0), (-18.0, 44.0), (-23.0, 43.0)]),
    ]

    def _pts(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(key=i, lat=float(la), lng=float(ln)) for i, (la, ln) in enumerate(rows)]
        )

    def test_vertex_point_classifies_with_zero_distance(self, spark):
        from gos2_spark.spark.joins import nearest_feature_join

        pts = self._pts(spark, [(10.0, 10.0), (-20.0, 40.0), (0.0, 25.0)])
        got = {r["key"]: r for r in nearest_feature_join(pts, self.FEATS).collect()}
        assert got[0]["nearest_fid"] == 0 and got[0]["nearest_dist_rad"] < 1e-12
        assert got[1]["nearest_fid"] == 1 and got[1]["nearest_dist_rad"] < 1e-12
        assert got[2]["nearest_dist_rad"] > 0.1

    def test_tie_breaks_to_lowest_fid(self, spark):
        from gos2_spark.spark.joins import nearest_feature_join

        same = [(5, self.FEATS[0][1]), (3, self.FEATS[0][1])]
        pts = self._pts(spark, [(11.0, 12.0)])
        row = nearest_feature_join(pts, same).collect()[0]
        # identical geometry -> exact tie -> first feature in list order wins
        assert row["nearest_fid"] == 5

    def test_closed_ring_adds_closing_edge(self, spark):
        from gos2_spark.spark.joins import nearest_feature_join

        # a point near the midpoint of the closing edge (last -> first
        # vertex) must be strictly closer when the ring is closed
        feats = [(0, self.FEATS[0][1])]
        pts = self._pts(spark, [(9.0, 11.4)])
        d_closed = nearest_feature_join(pts, feats, closed=True).collect()[0][
            "nearest_dist_rad"
        ]
        d_open = nearest_feature_join(pts, feats, closed=False).collect()[0][
            "nearest_dist_rad"
        ]
        assert d_closed < d_open

    def test_single_open_feature_matches_route_distance(self, spark):
        """Consistency with the already-oracled polyline kernel: one open
        feature == route_distance_udf over the same waypoints."""
        from pyspark.sql import functions as F

        from gos2_spark.spark.functions import route_distance_udf
        from gos2_spark.spark.joins import nearest_feature_join

        way = [(0.0, 0.0), (5.0, 5.0), (10.0, 3.0)]
        pts = self._pts(spark, [(2.0, 1.0), (7.0, 7.0), (-3.0, 4.0)])
        nf = {
            r["key"]: r["nearest_dist_rad"]
            for r in nearest_feature_join(pts, [(0, way)], closed=False).collect()
        }
        rd = {
            r["key"]: r["d"]
            for r in pts.select(
                "key", route_distance_udf(way)(F.col("lat"), F.col("lng")).alias("d")
            ).collect()
        }
        assert nf == rd
