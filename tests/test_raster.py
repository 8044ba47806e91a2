"""Raster <-> vector tests: distributed center-mode rasterization vs a
pure-Python oracle, intersect-mode invariants, vectorize round-trip."""

import numpy as np
import pytest

from gos2_spark.geometry import Loop
from gos2_spark.geometry.cell import Cell
from gos2_spark.kernels import hilbert as H
from gos2_spark.kernels import projection as PJ
from gos2_spark.spark.joins import TileSet
from gos2_spark.spark.raster import (
    level_cell_ids_df, rasterize_centers, rasterize_intersect, vectorize_cells,
)

_BIAS = np.uint64(1 << 63)


@pytest.fixture(scope="module")
def tileset():
    return TileSet(
        {
            "nyc": Loop.regular(40.7128, -74.0060, 1.5, 16),
            "pac": Loop.regular(-10.0, 179.5, 4.0, 12),  # date-line crossing
        },
        max_cells=16,
    )


def _unbias(signed: int) -> int:
    return int(np.uint64(np.int64(signed)) ^ _BIAS)


def test_level_cell_ids_enumeration(spark):
    """The grid enumerator yields exactly the Hilbert-order level-L ids."""
    lvl = 3
    got = sorted(_unbias(r.cell_id) for r in level_cell_ids_df(spark, lvl).collect())
    begin = H.child_begin_at_level(np.array([H.lsb_for_level(0)], dtype=np.uint64), lvl)
    cid = int(begin[0])
    step = 2 * H.lsb_for_level(lvl)
    want = [cid + k * step for k in range(6 * 4 ** lvl)]
    assert got == want
    assert all(H.level_scalar(c) == lvl for c in got[:10])


def test_rasterize_centers_matches_oracle(spark, tileset):
    """Distributed center-mode rasterization == per-cell Python oracle
    (exact polygon.contains_point on each candidate cell center)."""
    lvl = 8
    got = {
        (r.tile_id, _unbias(r.cell_id))
        for r in rasterize_centers(spark, tileset, lvl).collect()
    }
    want = set()
    for tid, cid, _interior in rasterize_intersect(tileset, lvl):
        lat, lng = PJ.cellid_to_latlng(np.array([cid], dtype=np.uint64))
        x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
        pt = (float(x[0]), float(y[0]), float(z[0]))
        if tileset.tiles[tid]["poly"].contains_point(pt):
            want.add((tid, cid))
    assert got == want
    assert len(got) > 100  # both tiles contribute


def test_rasterize_intersect_invariants(tileset):
    """Intersect-mode: interior cells are fully contained; boundary cells
    may-intersect; interior centers are center-mode members."""
    lvl = 9
    rows = rasterize_intersect(tileset, lvl)
    assert len(rows) > 0
    by_tile = {}
    for tid, cid, interior in rows:
        assert H.level_scalar(cid) == lvl
        by_tile.setdefault(tid, []).append((cid, interior))
        poly = tileset.tiles[tid]["poly"]
        cell = Cell(cid)
        if interior:
            assert poly.contains_cell(cell)
        else:
            assert poly.may_intersect_cell(cell)
    assert set(by_tile) == {"nyc", "pac"}
    # no duplicate cells per tile
    for tid, cs in by_tile.items():
        ids = [c for c, _ in cs]
        assert len(ids) == len(set(ids))


def test_vectorize_cells_roundtrip(tileset):
    """Vectorizing a connected block of interior cells yields one loop
    whose area equals the sum of cell areas (cells are disjoint)."""
    lvl = 10
    interior = sorted(
        cid for tid, cid, i in rasterize_intersect(tileset, lvl)
        if i and tid == "nyc"
    )[:48]
    poly = vectorize_cells(interior)
    a_cells = sum(Cell(c).exact_area() for c in interior)
    a_poly = sum(l.area() for l in poly.loops)
    assert a_poly == pytest.approx(a_cells, rel=1e-6)
    # every source cell center is inside the vectorized polygon
    for cid in interior:
        lat, lng = PJ.cellid_to_latlng(np.array([cid], dtype=np.uint64))
        x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
        assert poly.contains_point((float(x[0]), float(y[0]), float(z[0])))


def test_rasterize_pruned_equals_global(spark, tileset):
    """Range-pruned enumeration (the deep-level scale path) produces the
    exact same rasterization as the global-grid reference path."""
    lvl = 9
    a = sorted(
        (r.tile_id, r.cell_id)
        for r in rasterize_centers(spark, tileset, lvl, grid="pruned").collect()
    )
    b = sorted(
        (r.tile_id, r.cell_id)
        for r in rasterize_centers(spark, tileset, lvl, grid="global").collect()
    )
    assert a == b and len(a) > 0


def test_rasterize_pruned_deep_level(spark):
    """A small tile at level 14 — infeasible for the global grid (6*4^14 =
    1.6B rows) but cheap for pruned enumeration; cross-checked against the
    driver-side intersect-mode + center-containment oracle."""
    ts = TileSet({"small": Loop.regular(48.8566, 2.3522, 0.05, 12)}, max_cells=16)
    lvl = 14
    got = {
        (r.tile_id, _unbias(r.cell_id))
        for r in rasterize_centers(spark, ts, lvl).collect()
    }
    want = set()
    for tid, cid, _interior in rasterize_intersect(ts, lvl):
        lat, lng = PJ.cellid_to_latlng(np.array([cid], dtype=np.uint64))
        x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
        if ts.tiles[tid]["poly"].contains_point((float(x[0]), float(y[0]), float(z[0]))):
            want.add((tid, cid))
    assert got == want
    assert len(got) > 50


def test_rasterize_pruned_plan_no_global_range(spark, tileset):
    """Pruned enumeration must generate only per-range Range sources (sum
    of rows proportional to covered area), never the 6*4^L global grid."""
    import re

    df = rasterize_centers(spark, tileset, 12, grid="pruned")
    plan = df._jdf.queryExecution().executedPlan().toString()
    total = 6 * 4 ** 12
    spans = [
        int(m.group(2)) - int(m.group(1))
        for m in re.finditer(r"Range \((\d+), (\d+)", plan)
    ]
    assert spans, plan[:1500]
    assert sum(spans) < total / 100, (sum(spans), total)


def test_rasterize_intersect_parallel_identical(tileset):
    """workers=N rasterize_intersect equals the serial result exactly."""
    a = rasterize_intersect(tileset, 9)
    b = rasterize_intersect(tileset, 9, workers=4)
    assert a == b and len(a) > 0
