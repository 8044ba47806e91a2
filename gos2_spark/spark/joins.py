"""Spatial joins: point-in-polygon, cap/rect range queries, kNN.

The engine's plan shape is the classic filter-refine the reference encodes
implicitly (SURVEY §4): a cheap *covering join* on cell ids (native hash
join against a broadcast covering — never leaves the JVM) classifies rows
into interior cells (verdict known) and boundary cells (exact vectorized
crossing-parity kernel over Arrow batches). Parity anchors:

- covering membership == CellUnion.ContainsCellID binary search
  (cellunion.go:118-133), here one parent-key hash probe into a
  single-level grid plus a leaf-range predicate on bias-encoded ids;
- refinement == Loop.Contains crossing parity (loop.go:532-558) seeded with
  the broadcast origin_inside;
- kNN == 3x3 cell-block rounds with the MinWidth finish guarantee
  (metric.go:44-54), or one face-blocked cross join while queries x points
  is small, + exact angle distances (point.go:328-330) + deterministic
  (dist, key) tie-break.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..cover import CellUnion, RegionCoverer
from ..geometry import Cap, Loop, Polygon, Rect
from ..kernels import hilbert as H
from ..kernels import predicates as PR
from ..kernels import projection as PJ
from .functions import pandas_udf
from .pages import s2_parent_sql
from .session import literal_frame

_BIAS = np.uint64(1 << 63)


def _biased(u: np.ndarray | list) -> list[int]:
    arr = np.asarray(u, dtype=np.uint64)
    return [int(x) for x in (arr ^ _BIAS).view(np.int64)]


class _MemoRegion:
    """Region adapter memoizing per-cell verdicts by cell id.

    The exterior and interior coverer passes visit overlapping candidate
    sets; loop-relation tests per cell are the expensive part, so caching
    them roughly halves TileSet build time with identical results.
    """

    def __init__(self, region):
        self._region = region
        self._may: dict[int, bool] = {}
        self._contains: dict[int, bool] = {}

    def cap_bound(self):
        return self._region.cap_bound()

    def may_intersect_cell(self, cell) -> bool:
        v = self._may.get(cell.id)
        if v is None:
            v = self._region.may_intersect_cell(cell)
            self._may[cell.id] = v
        return v

    def contains_cell(self, cell) -> bool:
        v = self._contains.get(cell.id)
        if v is None:
            v = self._region.contains_cell(cell)
            self._contains[cell.id] = v
        return v


def _build_tile_entry(args):
    """Per-tile build (coverer + interior classification) — module-level so
    the parallel TileSet path can dispatch it to worker processes; the
    computation is identical to the serial path (pure function of one
    tile)."""
    region, max_cells, min_level, max_level = args
    from ..geometry.cell import Cell as _Cell

    poly = Polygon.from_loop(region) if isinstance(region, Loop) else region
    memo = _MemoRegion(poly)
    coverer = RegionCoverer(min_level, max_level, 1, max_cells)
    covering = coverer.cell_union_covering(memo)
    # classify covering cells directly: fully-contained cells skip
    # refinement (same ContainsCell test the coverer's terminal
    # logic uses, regioncoverer.go:70-96)
    interior_ids = [
        cid for cid in covering.ids if memo.contains_cell(_Cell(cid))
    ]
    return {
        "poly": poly,  # driver-side only; never broadcast
        "covering": covering,
        "interior": CellUnion(interior_ids),
        "loops": [
            (loop.vertices_array(), loop.origin_inside) for loop in poly.loops
        ],
        "bound": (
            poly.rect_bound().lat.lo, poly.rect_bound().lat.hi,
            poly.rect_bound().lng.lo, poly.rect_bound().lng.hi,
        ),
    }


class TileSet:
    """Broadcast build side of the spatial join: per-tile coverings + loops.

    Built once on the driver from small polygon sets (the reference's
    in-memory Loop/Polygon world); ships to executors as plain numpy arrays
    inside a Spark broadcast.

    ``workers``: per-tile builds are independent pure functions, so large
    tile sets (the ~60ms/tile coverer + interior classification would cost
    100 driver-minutes at 100k tiles) can fan out over a process pool with
    results identical to the serial path. Default serial.
    """

    def __init__(
        self,
        tiles: dict[object, Loop | Polygon],
        max_cells: int = 64,
        min_level: int = 0,
        max_level: int = 30,
        workers: int | None = None,
    ):
        items = list(tiles.items())
        arg_list = [(r, max_cells, min_level, max_level) for _, r in items]
        if workers and workers > 1 and len(items) > 1:
            import concurrent.futures as _cf

            with _cf.ProcessPoolExecutor(max_workers=workers) as pool:
                entries = list(pool.map(
                    _build_tile_entry, arg_list,
                    chunksize=max(1, len(items) // (workers * 4)),
                ))
        else:
            entries = [_build_tile_entry(a) for a in arg_list]
        self.tiles = {tile_id: e for (tile_id, _), e in zip(items, entries)}

    def tile_ids(self) -> list:
        """Stable tile ordering; ``tile_idx`` columns index into this."""
        return sorted(self.tiles.keys(), key=str)

    def covering_df(self, spark: SparkSession) -> DataFrame:
        """(tile_idx, cov_cell, cov_rmin, cov_rmax, is_interior) rows.

        Tiles are referenced by INTEGER index inside the join: string ids
        must never cross the Python channel (string->pandas conversion
        serializes badly at high worker counts); names are mapped back via a
        literal array at the very end. A covering cell is marked interior
        when the tile fully contains it — rows landing there skip
        refinement.
        """
        ids = self.tile_ids()
        out = []
        for idx, tile_id in enumerate(ids):
            t = self.tiles[tile_id]
            interior = set(t["interior"].ids)
            for cid in t["covering"].ids:
                lsb = cid & (-cid)
                out.append((
                    idx,
                    _biased([cid])[0],
                    _biased([cid - (lsb - 1)])[0],
                    _biased([cid + (lsb - 1)])[0],
                    cid in interior,
                ))
        return spark.createDataFrame(
            out, "tile_idx int, cov_cell long, cov_rmin long, cov_rmax long, is_interior boolean"
        )

    def payload(self) -> dict:
        """Executor-side payload (broadcast), keyed by integer tile index."""
        return {
            idx: {
                "loops": self.tiles[tile_id]["loops"],
                "bound": self.tiles[tile_id]["bound"],
            }
            for idx, tile_id in enumerate(self.tile_ids())
        }

    def spark_artifacts(self, spark: SparkSession) -> dict:
        """Per-session join-side artifacts, built once and memoized: the
        covering DataFrame, the executor payload broadcast, the refine UDF,
        the prefilter ranges and the single-level grid. Rebuilding these per
        join call cost ~2s of driver/scheduling time per query.

        The two side frames (``cov``, ``grid``) are cached in the JVM and
        counted once here. Built from a driver-side list, each execution
        would otherwise re-serialize the rows through a Python RDD: four
        Python-worker tasks in every join's broadcast stage (0.11 s of a
        0.43-s ``pip_staged`` op on 4 cores, 0.01 s once cached). ``cache``,
        not a local checkpoint: the frames live for the whole session and
        stay recomputable from their lineage if an executor is lost."""
        key = id(spark.sparkContext)
        cached = getattr(self, "_artifacts", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        art = {
            "cov": _cached_in_jvm(self.covering_df(spark)),
            "bc": spark.sparkContext.broadcast(self.payload()),
            "ranges": self.merged_ranges(),
        }
        art["grid_level"], grid = self.grid_df(spark)
        art["grid"] = _cached_in_jvm(grid)
        art["refine"] = _make_refine_udf(art["bc"])
        self._artifacts = (key, art)
        return art

    def grid_table(self, budget: int = 65536) -> tuple[int, list[tuple]]:
        """Single-level grid index over the covering, the build side of
        the point-in-polygon join: (grid_level L, rows), rows =
        (tile_idx, grid_key, is_interior, rmin, rmax) with BIASED ids.

        Each covering cell becomes rows keyed by level-L cells: cells
        COARSER than L expand to their 4^(L-l) level-L descendants; cells
        FINER than L group under their level-L ancestor. Either way the
        row keeps the ORIGINAL cell's [rmin, rmax] leaf range, so
        ``grid_key == Parent(point, L) AND point BETWEEN rmin AND rmax``
        matches a point exactly when the original covering cell contains
        it (CellUnion.ContainsCellID), with ONE ancestor key and ONE hash
        probe per point rather than one per covering level. L is the finest
        level whose
        expansion stays under ``budget`` rows (a coarser L never expands,
        it only packs more disjoint ranges per key, which the BETWEEN
        prunes post-probe)."""
        cells = []  # (tile_idx, cid_raw, level, interior, rmin_raw, rmax_raw)
        for idx, tile_id in enumerate(self.tile_ids()):
            t = self.tiles[tile_id]
            interior = set(t["interior"].ids)
            for cid in t["covering"].ids:
                lsb = cid & (-cid)
                cells.append((
                    idx, cid, H.level_scalar(cid), cid in interior,
                    cid - (lsb - 1), cid + (lsb - 1),
                ))
        if not cells:
            return 0, []
        lvls = sorted({c[2] for c in cells})
        grid_level = lvls[0]
        for cand in range(lvls[0], lvls[-1] + 1):
            cost = sum(
                4 ** (cand - l) if l <= cand else 1
                for (_, _, l, _, _, _) in cells
            )
            if cost <= budget:
                grid_level = cand
            else:
                break
        lsb_l = 1 << (2 * (30 - grid_level))
        rows = []
        for idx, cid, l, inter, rmin, rmax in cells:
            if l <= grid_level:
                lsb = cid & (-cid)
                first = cid - lsb + lsb_l  # ChildBeginAtLevel arithmetic
                for i in range(4 ** (grid_level - l)):
                    g = first + 2 * lsb_l * i
                    rows.append((
                        idx, _biased([g])[0], inter,
                        _biased([rmin])[0], _biased([rmax])[0],
                    ))
            else:
                g = (cid & ~(lsb_l - 1)) | lsb_l  # Parent(grid_level)
                rows.append((
                    idx, _biased([g])[0], inter,
                    _biased([rmin])[0], _biased([rmax])[0],
                ))
        return grid_level, rows

    def grid_df(self, spark: SparkSession, budget: int = 65536):
        level, rows = self.grid_table(budget)
        df = spark.createDataFrame(
            rows,
            "tile_idx int, grid_key long, is_interior boolean, "
            "g_rmin long, g_rmax long",
        )
        return level, df

    def merged_ranges(self) -> list[tuple[int, int]]:
        """Disjoint (rmin, rmax) biased-id ranges covering ALL tiles.

        Drives the pushdown-friendly prefilter: an OR-chain of BETWEENs in
        whole-stage codegen that rejects the vast majority of rows before
        the grid probe (and prunes parquet row groups on cell-sorted
        data). The union covering is coarsened (cells lifted to parents)
        until at most 64 spans remain — a superset, so the prefilter only
        ever passes extra rows to the exact join.

        Memoized: the CellUnion normalize + coarsening loop is pure driver
        work that otherwise re-runs on every join build (~0.1 s per call on
        a 2k-cell covering; a TileSet is immutable after construction).
        """
        memo = getattr(self, "_ranges_memo", None)
        if memo is not None:
            return memo
        cu = CellUnion([c for t in self.tiles.values() for c in t["covering"].ids])
        while len(cu.ids) > 64:
            lifted = []
            for cid in cu.ids:
                lvl = H.level_scalar(cid)
                if lvl > 0:
                    plsb = 1 << (2 * (30 - (lvl - 1)))
                    cid = (cid & ~(plsb - 1)) | plsb
                lifted.append(cid)
            cu = CellUnion(lifted)
        rmin, rmax = cu.ranges()
        spans = sorted(zip(_biased(rmin), _biased(rmax)))
        merged: list[list[int]] = []
        for lo, hi in spans:
            if merged and lo <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        self._ranges_memo = [(lo, hi) for lo, hi in merged]
        return self._ranges_memo


def _cached_in_jvm(df: DataFrame) -> DataFrame:
    """``df`` cached and materialized by one count."""
    df = df.cache()
    df.count()
    return df


def _make_refine_udf(bc):
    """Pandas UDF: exact containment for (tile_id, lat, lng) batches.

    Groups each Arrow batch by tile, then one vectorized crossing-parity
    pass per tile (kernels.predicates.contains_points_in_loop) — XORed
    across the polygon's loops, with the reference's bound prefilter.

    ``interior`` is the skip mask: rows whose covering cell is fully
    contained are already known inside, so they pass through with zero
    geometry work (just the Arrow transfer). Folding the mask into the
    kernel keeps the join SINGLE-BRANCH — a split into interior/boundary
    sub-plans made Catalyst execute the whole scan+geoparse+join upstream
    once per branch (filters get pushed through any shared exchange, so
    ReuseExchange never fires).
    """

    @pandas_udf(BooleanType())
    def s2_refine(
        tile_idx: pd.Series, lat: pd.Series, lng: pd.Series, interior: pd.Series
    ) -> pd.Series:
        tiles = bc.value
        skip = interior.to_numpy(bool)
        out = skip.copy()  # interior rows are inside by construction
        todo = np.nonzero(~skip)[0]
        if len(todo) == 0:
            return pd.Series(out)
        lat_rad = np.radians(lat.to_numpy(np.float64)[todo])
        lng_rad = np.radians(lng.to_numpy(np.float64)[todo])
        x, y, z = PJ.latlng_to_xyz(lat_rad, lng_rad)
        pts = np.stack([x, y, z], axis=1)
        tix = tile_idx.to_numpy(np.int32)[todo]
        for tid in np.unique(tix):
            t = tiles.get(int(tid))
            if t is None:
                continue
            sel = np.nonzero(tix == tid)[0]
            lat_lo, lat_hi, lng_lo, lng_hi = t["bound"]
            in_bound = (lat_rad[sel] >= lat_lo) & (lat_rad[sel] <= lat_hi)
            if lng_lo <= lng_hi:
                in_bound &= (lng_rad[sel] >= lng_lo) & (lng_rad[sel] <= lng_hi)
            else:  # wrapping interval
                in_bound &= (lng_rad[sel] >= lng_lo) | (lng_rad[sel] <= lng_hi)
            inside = np.zeros(len(sel), dtype=bool)
            live = sel[in_bound]
            if len(live):
                acc = np.zeros(len(live), dtype=bool)
                for verts, origin_inside in t["loops"]:
                    acc ^= PR.contains_points_in_loop(pts[live], verts, origin_inside)
                inside[in_bound] = acc
            out[todo[sel]] = inside
        return pd.Series(out)

    return s2_refine


def point_in_polygon_join(
    points: DataFrame,
    tileset: TileSet,
    how: str = "inner",
    point_key: str = "url",
    cell_col: str = "cell_id",
    rebalance: bool = True,
) -> DataFrame:
    """Join points (with a leaf ``cell_col``) against polygon tiles.

    Plan: codegen range prefilter -> ONE bitwise ancestor key per point
    probed against the broadcast single-level grid of the covering (see
    TileSet.grid_table) -> vectorized refine of boundary rows -> per-tile
    rows. Pytest pins the match set against a pure-Python oracle.

    how: 'inner' (rows + tile_id), 'semi' (distinct matching points),
    'anti' (points matching no tile).

    The join stays SINGLE-BRANCH: interior-by-construction candidates
    (rows whose covering cell is fully inside a tile) ride the refine
    kernel with a skip mask and do zero geometry, so the plan below the
    join executes once whatever its cost.
    """
    spark = points.sparkSession
    art = tileset.spark_artifacts(spark)
    refine = art["refine"]
    grid = art["grid"]

    # Every DataFrame step re-analyzes the whole input plan, so the join is
    # built in as few steps as the plan allows (one per Project, Join and
    # Filter that cannot be folded into another).
    #
    # cheap codegen prefilter: disjoint covering ranges reject rows far from
    # every tile BEFORE the grid probe. It sits in the join condition, and
    # the optimizer pushes it below the probe onto the points side
    # (built as ONE parsed SQL string: a per-range Column chain costs ~2
    # py4j roundtrips per range per plan build)
    pre = F.expr(
        " OR ".join(
            f"(`{cell_col}` BETWEEN {lo} AND {hi})" for lo, hi in art["ranges"]
        )
        or "false"
    )

    # one ancestor key + one broadcast hash probe per point: the grid table
    # carries each covering cell's original leaf range, so the equi probe +
    # BETWEEN yields exactly the covering's match set
    pts = points.select("*", s2_parent_sql(F.col(cell_col), art["grid_level"]).alias("_gk"))
    joined = pts.join(
        F.broadcast(grid),
        pre
        & (pts["_gk"] == grid["grid_key"])
        & (F.col(cell_col) >= F.col("g_rmin"))
        & (F.col(cell_col) <= F.col("g_rmax")),
        "inner",
    )

    # REBALANCE matched rows before refinement: with cell-clustered FILES
    # (e.g. one file per coarse cell / per city) all rows matching a tile
    # live in a handful of input partitions, so without this shuffle the
    # refine stage runs on ~2 tasks regardless of cluster size (salted
    # round-robin — the skew handling the engine owes). NOTE: a table
    # written by write_points_cell_sorted range-partitions by EQUAL ROW
    # COUNTS, so a cluster holding x% of rows already spans ~x% of the
    # partitions — measured at 50M rows the exchange there is pure
    # overhead (+20% wall at 8 and 32 cores) and callers should pass
    # rebalance=False; so should inputs that are NOT cell-clustered (e.g.
    # crawl-ordered pages), whose matches are already spread across the
    # scan partitions. Keep it on for hot-file layouts.
    if rebalance:
        joined = joined.repartition(spark.sparkContext.defaultParallelism * 2)

    # refine in the filter (one ArrowEvalPython below it), then map the
    # integer index back to the user-facing tile id
    name_arr = F.array(*[F.lit(str(t)) for t in tileset.tile_ids()])
    inner = joined.where(
        refine(F.col("tile_idx"), F.col("lat"), F.col("lng"), F.col("is_interior"))
    ).select(
        *points.columns, F.element_at(name_arr, F.col("tile_idx") + 1).alias("tile_id")
    )

    if how == "inner":
        return inner
    if how == "semi":
        return inner.select(*points.columns).dropDuplicates([point_key])
    if how == "anti":
        keys = inner.select(point_key).distinct()
        return points.join(keys, on=point_key, how="left_anti")
    raise ValueError(f"unknown how {how!r}")


# --- cap / rect range queries ----------------------------------------------

def _covering_prefilter(region, cell_col: Column, max_cells: int = 8) -> Column:
    """Disjunction of biased-id range predicates from a covering — pushdown-
    friendly (min/max row-group pruning on cell-sorted data)."""
    cov = RegionCoverer(max_cells=max_cells).cell_union_covering(region)
    rmin, rmax = cov.ranges()
    pred = F.lit(False)
    for lo, hi in zip(_biased(rmin), _biased(rmax)):
        pred = pred | ((cell_col >= lo) & (cell_col <= hi))
    return pred


def cap_query(
    points: DataFrame, center_lat: float, center_lng: float, radius_deg: float,
    cell_col: str = "cell_id", use_prefilter: bool = True,
) -> DataFrame:
    """All points within a spherical cap: covering prune + exact
    Cap.ContainsPoint (cap.go:253-255) — both native SQL."""
    import math

    from .functions import cap_contains

    out = points
    if use_prefilter:
        cap = Cap.from_latlng_deg(center_lat, center_lng, radius_deg)
        out = out.where(_covering_prefilter(cap, F.col(cell_col)))
    return out.where(
        cap_contains(center_lat, center_lng, radius_deg, F.col("lat"), F.col("lng"))
    )


def rect_query(
    points: DataFrame, lat_lo: float, lng_lo: float, lat_hi: float, lng_hi: float,
    cell_col: str = "cell_id", use_prefilter: bool = True,
) -> DataFrame:
    """All points in a lat-lng rect (wrap-aware) — exact in pure SQL."""
    import math

    from .functions import rect_contains

    out = points
    if use_prefilter:
        rect = Rect.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
        out = out.where(_covering_prefilter(rect, F.col(cell_col)))
    return out.where(
        rect_contains(lat_lo, lng_lo, lat_hi, lng_hi, F.col("lat"), F.col("lng"))
    )


# --- kNN --------------------------------------------------------------------

def distance_rad_sql(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """[SQL] great-circle angle atan2(|a×b|, a·b) (r3/vector.go:96-98) —
    identical op order to the reference, fully codegen."""
    rl1, rg1, rl2, rg2 = F.radians(lat1), F.radians(lng1), F.radians(lat2), F.radians(lng2)
    ax = F.cos(rg1) * F.cos(rl1)
    ay = F.sin(rg1) * F.cos(rl1)
    az = F.sin(rl1)
    bx = F.cos(rg2) * F.cos(rl2)
    by = F.sin(rg2) * F.cos(rl2)
    bz = F.sin(rl2)
    cx = ay * bz - az * by
    cy = az * bx - ax * bz
    cz = ax * by - ay * bx
    return F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), ax * bx + ay * by + az * bz)


def _dist_from_xyz() -> Column:
    """atan2(|q x p|, q . p) from precomputed xyz columns — float-identical
    to distance_rad_sql(qlat, qlng, lat, lng)."""
    cx = F.col("_qy") * F.col("_pz") - F.col("_qz") * F.col("_py")
    cy = F.col("_qz") * F.col("_px") - F.col("_qx") * F.col("_pz")
    cz = F.col("_qx") * F.col("_py") - F.col("_qy") * F.col("_px")
    dot = (
        F.col("_qx") * F.col("_px") + F.col("_qy") * F.col("_py")
        + F.col("_qz") * F.col("_pz")
    )
    return F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot)


def _knn_start_level(
    cells: "np.ndarray", level_mean: int, k: int, frac: float = 1.0
) -> int:
    """Start level for the knn_join_df ladder, from a (possibly sampled)
    array of RAW uint64 leaf cell ids: the FINEST level that is both
    admissible (estimated max block <= cap, so no hot block floods a
    round) and still dense (size-biased mean block occupancy
    >= max(6, 2k+2)). The size-biased mean sum(c^2)/sum(c) is E[|block
    of a random query|] — the candidate volume a round moves per query
    is ~9x it, so clumpy data (occupancy far above target at the
    mean-density level) starts several levels finer. The target is
    2k+2, floored at 6, because the FINISH guarantee needs the k-th
    neighbor within one block width (MinWidth), i.e. roughly within the
    query's own block — a typical block must hold comfortably more than
    k points or the round only moves candidates without settling
    queries (a target of k+1 measured one level too fine on
    uniform-density sets: most queries missed the distance guarantee
    and paid an extra escalation round). Falls back to leaf level 30
    when no level is admissible
    (e.g. massive coincident duplicates — their block is the same cell
    at every level). Sampled counts scale ~frac x true, so both
    estimates divide by frac. Performance-only: the ladder's exactness
    is per (query, level) and independent of where it starts.
    """
    cap = max(512, 16 * k)
    occ_target = float(max(6, 2 * k + 2))
    level_skew = None
    for lv in range(level_mean, 31):
        lsb = np.uint64(1 << (2 * (30 - lv)))
        # Parent(lv) on raw ids: (id & -lsb) | lsb (cellid.go:168-171)
        parents = (cells & ~(lsb - np.uint64(1))) | lsb
        _, counts = np.unique(parents, return_counts=True)
        if not len(counts):
            break
        est_max = counts.max() / frac
        if est_max > cap:
            continue  # inadmissible: a hot block would flood a round
        cf = counts.astype(np.float64)
        # UNBIASED size-biased mean under Bernoulli(frac) sampling:
        # E[sum c(c-1)] = frac^2 * sum C(C-1), so sum(c(c-1))/(frac*sum c)
        # estimates (sum C^2 / sum C) - 1. The naive sum(c^2)/sum(c)/frac
        # is biased up by ~(1-frac)/frac: once sampled blocks are mostly
        # singletons it floors at 1/frac, so for n >> sample_cap it could
        # NEVER go below the occupancy target and the ladder started at
        # leaf level 30 — reintroducing the face-blocked stall this guard
        # exists to prevent, at exactly the advertised scale.
        est_sb = (cf * (cf - 1.0)).sum() / (frac * cf.sum()) + 1.0
        if est_sb < occ_target and level_skew is not None:
            break  # gone lean: keep the finest still-dense level
        level_skew = lv
        if est_sb < occ_target:
            break  # cap forced us straight into lean territory
    return level_skew if level_skew is not None else 30


# Largest queries x points product that skips the level ladder. The face
# round's exact cross join moves that many candidate rows through one
# window sort, so its time grows with the product, while the ladder's
# start-level sample and per-round persist + count cost about 2 s at any
# query count. Face vs ladder on 15,000 points, local[4]: 1.34 vs 2.32 s
# at 450k pairs, 2.37 vs 2.26 s at 1.05M, 6.1 vs 1.9 s at 4.05M.
KNN_CROSS_MAX_PAIRS = 1 << 20
# Levels the ladder may visit before the face round takes the rest.
_KNN_MAX_LEVELS = 16


def knn_join_df(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_key: str = "url",
    query_key: str = "qid",
    cell_col: str = "cell_id",
) -> DataFrame:
    """k nearest points for EVERY row of a query DataFrame. The driver
    holds only counts and the round counter — both sides stay
    distributed end to end, from two queries to millions.

    The plan follows the candidate volume, which the two input counts
    give before any round runs: while queries x points is at most
    ``KNN_CROSS_MAX_PAIRS`` every query goes straight to the face round
    below (an exact cross join), otherwise to the level ladder.

    Ladder round r blocks both sides at level L_r (L_0 from point density
    with a sampled-max-block SKEW GUARD — see inline comment; each round
    coarsens one level = 4x the area): queries explode to their 3x3 cell
    neighborhood (AppendAllNeighbors, cellid.go:257-287), points key by
    Parent(L_r) (pure bitwise SQL), one shuffle hash join, window top-k
    per query. Dense-region queries finish in the first rounds (their
    blocks are small by the guard and their k-th distance is tiny); the
    queries that survive to coarse rounds are in sparse regions by
    construction, so their candidate sets stay small — per-query work is
    O(k) expected at every density.

    EXACTNESS: a query finishes only when it holds >= k candidates AND its
    k-th candidate distance <= MinWidth(L_r) — the same guarantee
    distance_join relies on (any point within MinWidth(L_r) of q shares
    q's 3x3 block at L_r, metric.go:44-54), so no unseen point can beat
    the k-th. Queries still unfinished after the level schedule (or with
    fewer than k points in range of it) resolve in a final face-blocked
    round, which is complete by construction.

    ``queries`` needs (query_key, lat, lng, cell_col) with LEAF cell ids —
    the engine-wide point-table convention (see distance_join's warning on
    coarse ids). Output: (query_key, point_key, knn_rank, dist_rad) with
    the deterministic (dist, point_key) tie-break.
    """
    import math

    from pyspark.sql.window import Window

    from ..geometry.metric import MIN_WIDTH
    from ..pipeline.graph import _default_materialize
    from .functions import s2_neighborhood

    spark = points.sparkSession

    def _xyz(df: DataFrame, prefix: str) -> DataFrame:
        rl, rg = F.radians(F.col("lat")), F.radians(F.col("lng"))
        return (
            df.withColumn(f"_{prefix}x", F.cos(rg) * F.cos(rl))
            .withColumn(f"_{prefix}y", F.sin(rg) * F.cos(rl))
            .withColumn(f"_{prefix}z", F.sin(rl))
        )

    from .functions import widen_to_parallelism

    caller_sl = points.storageLevel
    own_cache = not (caller_sl.useMemory or caller_sl.useDisk)
    # widen a narrow scan BEFORE the persist: the per-round explodes
    # (xyz trig + one parent key per ladder level) run map-side over the
    # persisted layout, and a one-row-group parquet scan would pin them
    # all to a single core. Gated on the QUERY COUNT too: ladder work
    # scales with the query count, and for a handful-of-queries call the
    # per-round 32-task scheduling never pays for the exchange (measured
    # +0.9s on the 30-query demo vs -6s on the 150k-query all-NN
    # workloads). The count is exact (size estimates do not see filter
    # selectivity) and is reused as the pending counter below; with the
    # point count it also picks between the ladder and the cross join.
    n_queries = queries.count()
    _widen_knn = (
        (lambda df: widen_to_parallelism(df, min_bytes=512 << 10))
        if n_queries >= 10_000
        else (lambda df: df)
    )
    pts = _xyz(_widen_knn(points), "p").select(
        F.col(point_key).alias("_pkey"), F.col(cell_col).alias("_pcell"),
        "_px", "_py", "_pz",
    )
    if own_cache:
        pts = pts.persist()
    n = max(pts.count(), 1)  # also materializes the cache
    ladder = n_queries * n > KNN_CROSS_MAX_PAIRS

    if ladder:
        r0 = math.radians(min(45.0, max(0.05, 114.0 * math.sqrt(k / n))))
        level_mean = max(0, min(30, MIN_WIDTH.max_level(r0)))
        # SKEW + OCCUPANCY GUARD: the mean-density level is
        # catastrophically coarse for clustered data (a web corpus is
        # city-skewed by nature): at the mean level a hot-city block can
        # hold 100k+ points, and every query in it drags the whole block
        # through the per-query window sort — measured as a multi-hour
        # stall at 100k queries x 4M city-mixture points. The candidate
        # VOLUME a round moves is ~ 9 x the SIZE-BIASED mean block
        # occupancy (E[|block of a random query|] = sum c_b^2 / n) per
        # query, so the start level is chosen from a bounded sample
        # (driver traffic <= 500k int64s) as the FINEST level whose
        # size-biased occupancy still holds >= max(6, 2k+2) points (see
        # _knn_start_level's rationale for the target) — fine
        # enough that a typical 3x3 neighborhood carries only a few
        # dozen candidates, coarse enough that dense-bulk queries finish
        # in round 1. (A max-block-<=cap rule alone picks the COARSEST
        # admissible level: measured 3x slower on a 5k-point global set
        # — 4.2M candidate rows through the window vs ~0.3M.) Sparse
        # stragglers just take a few more (cheap, batched, shrinking)
        # rounds; the max-block cap stays as a backstop since going
        # finer only ever shrinks blocks. Hot blocks are exactly the
        # ones a uniform sample estimates well. Start-level choice is
        # performance-only — exactness is per (query, level) and does
        # not depend on where the ladder starts.
        frac = min(1.0, 500_000.0 / n)
        cells = np.array(
            [r[0] for r in (
                pts.sample(fraction=frac, seed=7).select("_pcell").collect()
                if frac < 1.0 else pts.select("_pcell").collect()
            )],
            dtype=np.int64,
        ).view(np.uint64) ^ np.uint64(1 << 63)
        level = max(level_mean, _knn_start_level(cells, level_mean, k, frac))

    pending = _xyz(_widen_knn(queries), "q").select(
        F.col(query_key).alias("_qkey"), F.col(cell_col).alias("_qcell"),
        "_qx", "_qy", "_qz",
    )

    w = Window.partitionBy("_qkey").orderBy(F.col("dist_rad"), F.col("_pkey"))

    def _ranked(cand: DataFrame) -> DataFrame:
        return (
            cand.withColumn("dist_rad", _dist_from_xyz())
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .select("_qkey", "_pkey", "knn_rank", "dist_rad")
        )

    parts: list[DataFrame] = []
    intermediates: list[DataFrame] = []
    nq_left = n_queries  # counted above for the widen gate
    # BATCHED LADDER: evaluate `levels_per_round` consecutive levels in ONE
    # shuffle round instead of one level per round. Exactness is per
    # (query, level) — a query finishes at level l iff it holds >= k
    # candidates in its 3x3 neighborhood at l AND its k-th distance is
    # <= MinWidth(l), exactly the single-level rule — and the exact top-k
    # (with the deterministic tie-break) is UNIQUE, so which passing level
    # supplies it cannot change the rows; we pick the finest. The trade:
    # each batch round moves levels_per_round x the candidate volume (both
    # sides explode by the batch size) but runs 1/levels_per_round the
    # shuffle rounds — at cluster scale, round count is scheduler latency
    # and stage barriers, the dominant term for the ladder's tail.
    # The FIRST round runs the guard-picked level ALONE: it settles the
    # dense bulk (hot-city queries) at the cap the skew guard chose, so
    # they never touch a coarser level whose blocks can be 4^batch x
    # bigger. Only the sparse stragglers pay the batched coarser rounds.
    levels_per_round = 4
    budget = _KNN_MAX_LEVELS
    first = True
    while ladder and budget > 0 and level >= 1 and nq_left > 0:
        width = 1 if first else min(levels_per_round, budget)
        first = False
        lvls = [level - i for i in range(width) if level - i >= 1]
        budget -= len(lvls)
        lvl_nbrs = F.array(
            *[
                F.struct(
                    F.lit(l).alias("_lvl"),
                    s2_neighborhood(F.col("_qcell"), F.lit(l)).alias("_nbrs"),
                )
                for l in lvls
            ]
        )
        blk_q = (
            pending.select("*", F.explode(lvl_nbrs).alias("_ls"))
            .select(
                "*",
                F.col("_ls._lvl").alias("_lvl"),
                F.explode(F.col("_ls._nbrs")).alias("_blk"),
            )
            .drop("_ls")
        )
        # parent ids at different levels are distinct values (the level is
        # encoded in the trailing set bit), so a single _blk equi-join key
        # carries the whole batch without level collisions
        blk_p = pts.select(
            "*",
            F.explode(
                F.array(*[s2_parent_sql(F.col("_pcell"), l) for l in lvls])
            ).alias("_blk"),
        )
        wl = Window.partitionBy("_qkey", "_lvl").orderBy(
            F.col("dist_rad"), F.col("_pkey")
        )
        ranked = (
            blk_q.join(blk_p, "_blk")
            .withColumn("dist_rad", _dist_from_xyz())
            .withColumn("knn_rank", F.row_number().over(wl))
            .where(F.col("knn_rank") <= k)
            .select("_qkey", "_lvl", "_pkey", "knn_rank", "dist_rad")
            .persist()
        )
        guar = F.lit(None).cast("double")
        for l in lvls:
            guar = F.when(F.col("_lvl") == l, F.lit(MIN_WIDTH.value(l))).otherwise(guar)
        # finest passing level per query (any passing level yields the
        # identical exact top-k; finest keeps candidate sets minimal)
        fin = (
            ranked.groupBy("_qkey", "_lvl")
            .agg(F.count("*").alias("_n"), F.max("dist_rad").alias("_kth"))
            .where((F.col("_n") >= k) & (F.col("_kth") <= guar))
            .groupBy("_qkey")
            .agg(F.max("_lvl").alias("_flvl"))
            .persist()
        )
        intermediates += [ranked, fin]
        # ONE driver-visible number per batch round (materializes ranked + fin)
        n_fin = fin.count()
        if n_fin:
            # fin derives from ranked: alias its columns so the re-join is
            # not an ambiguous self-join
            fin_j = fin.select(
                F.col("_qkey").alias("_fq"), F.col("_flvl").alias("_flvl2")
            )
            parts.append(
                ranked.join(
                    fin_j,
                    (F.col("_qkey") == F.col("_fq"))
                    & (F.col("_lvl") == F.col("_flvl2")),
                ).select("_qkey", "_pkey", "knn_rank", "dist_rad")
            )
            pending = pending.join(
                fin.select(F.col("_qkey")), "_qkey", "left_anti"
            )
            nq_left -= n_fin
        level -= len(lvls)

    # face-blocked round: every remaining query sees every point (the
    # same all-6-faces trick distance_join uses past the level-0
    # MinWidth), so it is exact with no guarantee check and also settles
    # queries when the corpus holds fewer than k points.
    if nq_left:
        if ladder and nq_left > 10_000:
            import logging

            logging.getLogger(__name__).warning(
                "knn_join_df: %d queries left after the level ladder fall "
                "through to the face round, a cross join against all %d "
                "points.",
                nq_left, n,
            )
        face_ids = F.array(
            *[F.lit(b) for b in _biased([(2 * f + 1) << 60 for f in range(6)])]
        )
        blk_q = pending.select("*", F.explode(face_ids).alias("_blk"))
        blk_p = pts.withColumn("_blk", s2_parent_sql(F.col("_pcell"), 0))
        last = _ranked(blk_q.join(blk_p, "_blk")).persist()
        intermediates.append(last)
        parts.append(last)

    if not parts:
        if own_cache:
            pts.unpersist()
        return literal_frame(
            spark, [], "_qkey string, _pkey string, knn_rank int, dist_rad double"
        ).select(
            F.col("_qkey").alias(query_key), F.col("_pkey").alias(point_key),
            "knn_rank", "dist_rad",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    out = out.select(
        F.col("_qkey").alias(query_key), F.col("_pkey").alias(point_key),
        "knn_rank", "dist_rad",
    )
    # ONE eager checkpoint of the final (bounded, <= queries*k rows)
    # result cuts the lineage over the per-round persisted frames, so
    # every intermediate can be released NOW instead of living for the
    # session (a per-round checkpoint variant cost two extra jobs per
    # round — this is the cheap point to materialize).
    # It is a reliable checkpoint when a checkpoint dir is configured
    # (``_default_materialize``); local checkpoint blocks are freed by
    # the ContextCleaner when the caller drops the result.
    # the result is bounded (<= queries*k rows) but unioned from
    # shuffle-partitioned parts: coalesce narrows the checkpoint job's
    # task count (and the caller's downstream scans) ~8x for free
    out = _default_materialize(spark)(
        out.coalesce(max(2, spark.sparkContext.defaultParallelism // 8))
    )
    for df in intermediates:
        df.unpersist()
    if own_cache:
        pts.unpersist()
    return out


# --- within-radius distance join ---------------------------------------------

def distance_join(
    points_a: DataFrame,
    radius_deg: float,
    points_b: DataFrame | None = None,
    point_key: str = "url",
    b_key: str | None = None,
    cell_col: str = "cell_id",
    broadcast_b: bool = False,
    time_col: str | None = None,
    time_window: int | None = None,
) -> DataFrame:
    """All (a, b) pairs within great-circle distance ``radius_deg``.

    Plan: pick the deepest level L whose MinWidth is >= the radius
    (metric.go:44-54) — then any pair within the radius lands in the same
    or an adjacent level-L cell, so the A side explodes to its 3x3 cell
    neighborhood (AppendAllNeighbors, cellid.go:257-287), the B side keys
    by its own Parent(L) (pure bitwise SQL), and a hash equi-join on the
    cell blocks candidates. The exact filter is the reference's angle
    distance atan2(|a x b|, a . b) (r3/vector.go:96-98) in whole-stage
    codegen. Each true pair is produced exactly once (B contributes one
    key; A's neighborhood array is deduped).

    Scale shape: no driver collect, shuffle-partitioned hash join on
    bounded-fanout (<=9x) exploded keys; hot cells split by AQE skew join.
    ``points_b=None`` -> self-join, deduped to key_a < key_b.
    ``broadcast_b`` hints the B side when it is dimension-sized.

    ``cell_col`` must hold LEAF cell ids (as produced by geoparsed_pages /
    s2_cellid — the engine-wide convention for point tables): Parent() on a
    cell COARSER than the blocking level returns a descendant, not an
    ancestor, which would silently mis-block pairs.

    ``time_col``/``time_window`` (both or neither) additionally restrict
    pairs to |t_a - t_b| <= time_window (an INTEGER column, e.g. epoch
    microseconds, and an integer window in the same unit) and — the point
    — push the constraint INTO the blocking key: the B side explodes to
    its three adjacent floor(t/window) buckets, the A side keys by its own
    bucket, and the equi-join runs on (cell_block, time_bucket). Any pair
    within the window spans at most adjacent buckets, so recall is exact,
    and each pair still matches exactly one (block, bucket) combination,
    preserving the emit-once guarantee. For a spatio-temporal eps-graph
    (ST-DBSCAN, Knox) this prunes candidates by the time selectivity
    BEFORE the exchange and the distance math, instead of filtering a
    fully-built spatial pair set afterwards. Bucketing uses exact integer
    floor division (sign-safe), so the adjacency guarantee cannot be lost
    to float rounding.

    Output: (key_a, key_b, dist_rad).
    """
    import math

    from ..geometry.metric import MIN_WIDTH
    from .functions import s2_neighborhood, widen_to_parallelism

    radius_rad = math.radians(radius_deg)
    level = max(0, min(30, MIN_WIDTH.max_level(radius_rad)))

    self_join = points_b is None
    if self_join:
        points_b = points_a
    b_key = b_key or point_key

    if radius_rad > MIN_WIDTH.value(0):
        # radius exceeds the level-0 MinWidth (~54 deg): the 3x3 adjacency
        # guarantee no longer holds, so block on ALL 6 faces (A replicates
        # 6x == a cross join expressed through the same machinery).
        face_ids = F.array(
            *[F.lit(b) for b in _biased([(2 * f + 1) << 60 for f in range(6)])]
        )
        blk = F.explode(face_ids).alias("_blk")
    else:
        blk = F.explode(
            s2_neighborhood(F.col(cell_col), F.lit(level))
        ).alias("_blk")

    # project each input row to unit xyz ONCE (the exact expressions
    # distance_rad_sql would emit, so downstream floats are bit-identical)
    # — per-CANDIDATE work after the join is then pure multiply-add: the
    # 10-trig-op per-pair evaluation dominated dense runs (measured on the
    # 1.15B-pair city workload).
    def _xyz_cols(suffix: str):
        rl, rg = F.radians(F.col("lat")), F.radians(F.col("lng"))
        return [
            (F.cos(rg) * F.cos(rl)).alias(f"x{suffix}"),
            (F.sin(rg) * F.cos(rl)).alias(f"y{suffix}"),
            (F.sin(rl)).alias(f"z{suffix}"),
        ]

    # Pre-join projection (trig xyz + the A-side 9x neighborhood explode)
    # runs BEFORE any exchange, so it inherits the scan layout: a single
    # fat parquet file pins the whole projection to one core. Rebalance
    # only when the scan is narrower than the cluster (an exchange of the
    # slim point rows is cheap; forcing one on an already-wide 100 TB
    # table would not be).
    wa = widen_to_parallelism(points_a, min_bytes=0)
    wb = wa if self_join else (
        points_b if broadcast_b else widen_to_parallelism(points_b, min_bytes=0)
    )

    if (time_col is None) != (time_window is None):
        raise ValueError("time_col and time_window must be set together")
    t_cols_a: list = []
    t_cols_b: list = []
    join_keys = ["_blk"]
    if time_col is not None:
        w = int(time_window)
        # exact floor division for any sign: (t - pmod(t, w)) is a
        # multiple of w, so the integer DIV below is exact
        tb = F.expr(
            f"CAST(({time_col} - pmod({time_col}, {w})) DIV {w} AS BIGINT)"
        )
        t_cols_a = [F.col(time_col).alias("_ta"), tb.alias("_tblk")]
        t_cols_b = [
            F.col(time_col).alias("_tb2"),
            F.explode(
                F.array(tb - F.lit(1), tb, tb + F.lit(1))
            ).alias("_tblk"),
        ]
        join_keys = ["_blk", "_tblk"]

    a = wa.select(
        F.col(point_key).alias("key_a"), *_xyz_cols("a"), blk, *t_cols_a,
    )
    b = wb.select(
        F.col(b_key).alias("key_b"), *_xyz_cols("b"),
        s2_parent_sql(F.col(cell_col), level).alias("_blk"), *t_cols_b,
    )
    if broadcast_b:
        b = F.broadcast(b)
    pairs = a.join(b, on=join_keys, how="inner").drop(*join_keys)
    if time_col is not None:
        # the cheap integer window test runs before any distance math
        pairs = pairs.where(
            F.abs(F.col("_ta") - F.col("_tb2")) <= F.lit(int(time_window))
        ).drop("_ta", "_tb2")
    if self_join:
        pairs = pairs.where(F.col("key_a") < F.col("key_b"))

    # chord-squared prefilter: |a-b|^2 = (2 sin(theta/2))^2 is monotone in
    # the angle, so theta <= r  <=>  chord^2 <= (2 sin(r/2))^2. A 1e-9
    # relative slack absorbs float rounding; the canonical atan2 test then
    # decides the exact boundary on the (tiny) surviving band only.
    chord2_limit = (2.0 * math.sin(0.5 * radius_rad)) ** 2 * (1.0 + 1e-9)
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dz = F.col("za") - F.col("zb")
    pairs = pairs.where(dx * dx + dy * dy + dz * dz <= F.lit(chord2_limit))

    cx = F.col("ya") * F.col("zb") - F.col("za") * F.col("yb")
    cy = F.col("za") * F.col("xb") - F.col("xa") * F.col("zb")
    cz = F.col("xa") * F.col("yb") - F.col("ya") * F.col("xb")
    dot = (
        F.col("xa") * F.col("xb") + F.col("ya") * F.col("yb")
        + F.col("za") * F.col("zb")
    )
    return (
        pairs.withColumn(
            "dist_rad", F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot)
        )
        .where(F.col("dist_rad") <= F.lit(radius_rad))
        .select("key_a", "key_b", "dist_rad")
    )


# --- polygon-polygon (tile overlap) join ------------------------------------

def _ranges_intersect(ra: list[tuple[int, int]], rb: list[tuple[int, int]]) -> bool:
    """Two-pointer overlap test over sorted disjoint (lo, hi) range lists."""
    i = j = 0
    while i < len(ra) and j < len(rb):
        lo_a, hi_a = ra[i]
        lo_b, hi_b = rb[j]
        if hi_a < lo_b:
            i += 1
        elif hi_b < lo_a:
            j += 1
        else:
            return True
    return False


def polygon_overlap_join(a: TileSet, b: TileSet) -> list[tuple]:
    """Polygon-polygon join over two tile sets (SURVEY §2.6).

    Candidate pairs come from covering-range intersection (the cell-prefix
    blocking the reference's sorted CellID lists provide,
    cellunion.go:118-143); survivors are verified with exact loop
    relations (loop.go:465-754 via Polygon.contains/intersects). Runs on
    the driver — tile sets are broadcast-scale by design; the N×M blocking
    keeps the exact tests to genuinely overlapping pairs.

    Returns sorted (a_id, b_id, relation) with relation in
    {'contains', 'within', 'overlaps'}.
    """
    out = []
    b_ranges = {
        tid: list(zip(*map(list, b.tiles[tid]["covering"].ranges())))
        for tid in b.tile_ids()
    }
    for aid in a.tile_ids():
        a_cov = a.tiles[aid]["covering"]
        a_ranges = list(zip(*map(list, a_cov.ranges())))
        pa = a.tiles[aid]["poly"]
        for bid in b.tile_ids():
            if not _ranges_intersect(a_ranges, b_ranges[bid]):
                continue
            pb = b.tiles[bid]["poly"]
            if not pa.intersects_polygon(pb):
                continue
            if pa.contains_polygon(pb):
                rel = "contains"
            elif pb.contains_polygon(pa):
                rel = "within"
            else:
                rel = "overlaps"
            out.append((aid, bid, rel))
    return sorted(out, key=lambda t: (str(t[0]), str(t[1])))


def route_proximity_join(
    points: DataFrame,
    waypoints: list,
    radius_deg: float,
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """All points within great-circle distance ``radius_deg`` of the
    geodesic polyline through ``waypoints`` [(lat, lng), ...]; returns
    (key, lat, lng, route_dist_rad).

    Blocking (provably a superset — the refine is exact, so any superset
    is correct):

    1. L = deepest level with MinWidth >= radius (metric.go:44-54), so a
       point within the radius of any route point sits within ONE level-L
       cell width of it.
    2. Each segment is subdivided (slerp) into pieces of arc length
       <= MinWidth(L). A piece fits inside the 3x3 neighborhood of its
       midpoint's level-L cell (length <= one cell width), hence every
       point within the radius of the piece lies in the 5x5 neighborhood.
    3. The union of those 5x5 neighborhoods — O(route_length / radius)
       cells, computed driver-side from the dimension-sized route — is
       BROADCAST and equi-joined against Parent(L) of the point cells
       (pure bitwise codegen, s2_parent_sql).

    Refine: one Arrow-batched kernel call per candidate batch — the
    vectorized min-over-segments DistanceToEdge — then the exact
    ``<= radius`` filter. No shuffle anywhere: broadcast prefilter +
    stateless refine; the output inherits the scan partitioning.
    """
    import math

    import numpy as np

    from ..geometry.metric import MIN_WIDTH
    from ..kernels import hilbert as H
    from ..kernels import projection as PJ
    from .functions import route_distance_udf
    from .pages import s2_parent_sql

    r = math.radians(radius_deg)
    level = max(0, min(30, MIN_WIDTH.max_level(r)))
    w = MIN_WIDTH.value(level)

    lat = np.array([p[0] for p in waypoints], dtype=np.float64)
    lng = np.array([p[1] for p in waypoints], dtype=np.float64)
    x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
    V = np.stack([x, y, z], axis=1)
    mids_lat, mids_lng = [], []
    for a, b in zip(V[:-1], V[1:]):
        cosang = float(np.clip(a @ b, -1.0, 1.0))
        theta = math.acos(cosang)
        n = max(1, math.ceil(theta / w)) if theta > 0 else 1
        ts = (np.arange(n) + 0.5) / n
        if theta < 1e-12:
            pts = np.repeat(a[None, :], n, axis=0)
        else:
            s = math.sin(theta)
            pts = (
                (np.sin((1.0 - ts) * theta)[:, None] * a[None, :]
                 + np.sin(ts * theta)[:, None] * b[None, :]) / s
            )
            pts = pts / np.sqrt((pts * pts).sum(axis=1))[:, None]
        mids_lat.append(np.degrees(np.arctan2(pts[:, 2], np.sqrt(pts[:, 0] ** 2 + pts[:, 1] ** 2))))
        mids_lng.append(np.degrees(np.arctan2(pts[:, 1], pts[:, 0])))
    mlat = np.concatenate(mids_lat)
    mlng = np.concatenate(mids_lng)
    base = H.parent(PJ.cellid_from_latlng(mlat, mlng), level)
    n1 = np.unique(PJ.neighborhood(base, level).ravel())
    n2 = np.unique(PJ.neighborhood(n1, level).ravel())
    cand = sorted(int(v) for v in H.to_signed(n2))

    spark = points.sparkSession
    cells_df = F.broadcast(
        literal_frame(spark, [(c,) for c in cand], "_rc long")
    )
    pref = points.join(
        cells_df, s2_parent_sql(F.col(cell_col), level) == F.col("_rc")
    ).drop("_rc")
    udf = route_distance_udf(list(waypoints))
    out = pref.withColumn("route_dist_rad", udf(F.col("lat"), F.col("lng")))
    return out.where(F.col("route_dist_rad") <= F.lit(r)).select(
        point_key, "lat", "lng", "route_dist_rad"
    )


def tileset_from_geojson(
    geojson: dict,
    max_cells: int = 64,
    id_property: str = "name",
    workers: int | None = None,
) -> TileSet:
    """GeoJSON FeatureCollection -> TileSet (the standard interchange
    format for polygon tile sets).

    Per RFC 7946: coordinates are [lng, lat] order; a Polygon's first ring
    is the exterior, subsequent rings are holes; rings close by repeating
    the first position (dropped here — Loop vertices are implicit-closed).
    Ring orientation is NOT trusted: Loop construction normalizes each
    ring and the Polygon depth forest assigns hole parity, so files that
    violate the RFC winding convention (most in the wild) still load
    correctly. MultiPolygon parts merge into one multi-loop Polygon per
    feature. Tile id: feature ``id``, else properties[id_property], else
    the feature ordinal."""
    from ..geometry import Polygon

    def _ring_to_loop(ring):
        pts = [(lat, lng) for lng, lat, *_ in ring]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        return Loop.from_latlngs_deg(pts)

    tiles: dict = {}
    for i, feat in enumerate(geojson.get("features", [])):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        if gtype == "Polygon":
            ring_sets = [geom["coordinates"]]
        elif gtype == "MultiPolygon":
            ring_sets = geom["coordinates"]
        else:
            raise ValueError(f"unsupported GeoJSON geometry: {gtype!r}")
        loops = [
            _ring_to_loop(ring) for rings in ring_sets for ring in rings
        ]
        tid = (
            feat.get("id")
            or (feat.get("properties") or {}).get(id_property)
            or f"tile_{i}"
        )
        tiles[tid] = loops[0] if len(loops) == 1 else Polygon(loops)
    return TileSet(tiles, max_cells=max_cells, workers=workers)


def nearest_feature_join(
    points: DataFrame,
    features: list,
    lat_col: str = "lat",
    lng_col: str = "lng",
    closed: bool = True,
) -> DataFrame:
    """Nearest-feature classification: for every point, the closest member
    of a small feature set (polygon boundaries or polylines) by exact
    great-circle distance-to-edge — the engine analogue of a
    ClosestEdgeQuery against a feature collection (edgeutil.go:77-106 per
    segment, min over segments, argmin over features).

    ``features`` is ``[(feature_id, [(lat, lng), ...]), ...]``; with
    ``closed=True`` each waypoint list is treated as a ring (a closing
    edge is appended). Ties break to the list's lowest-index feature.

    Scale shape: features are dimension-sized and ride the UDF closure
    (broadcast), so the whole join is ONE Arrow round-trip over two
    double columns — no shuffle, output inherits the scan partitioning.
    For feature sets too large for a closure, compose the covering-cell
    prefilter of :func:`route_proximity_join` per feature first; the
    refine here is exact, so any superset prefilter is correct.

    Adds ``nearest_fid`` (long) and ``nearest_dist_rad`` (double).
    """
    import math

    def _xyz(lat, lng):
        return (
            math.cos(math.radians(lng)) * math.cos(math.radians(lat)),
            math.sin(math.radians(lng)) * math.cos(math.radians(lat)),
            math.sin(math.radians(lat)),
        )

    feats = []
    for fid, way in features:
        w = [_xyz(la, ln) for la, ln in way]
        segs = list(zip(w[:-1], w[1:]))
        if closed and len(w) >= 3:
            segs.append((w[-1], w[0]))
        if not segs:
            raise ValueError(f"feature {fid} needs at least 2 waypoints")
        feats.append((int(fid), segs))

    @pandas_udf("nearest_fid long, nearest_dist_rad double")
    def s2_nearest_feature(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
        from ..kernels import predicates as PR
        from ..kernels import projection as PJ

        x, y, z = PJ.latlng_to_xyz(
            np.radians(lat.to_numpy(np.float64)),
            np.radians(lng.to_numpy(np.float64)),
        )
        pts = np.stack([x, y, z], axis=1)
        per_feat = []
        for _, segs in feats:
            d = None
            for a, b in segs:
                di = PR.distance_to_edges(pts, np.array(a), np.array(b))
                d = di if d is None else np.minimum(d, di)
            per_feat.append(d)
        D = np.stack(per_feat, axis=0)
        arg = np.argmin(D, axis=0)
        fids = np.array([fid for fid, _ in feats], dtype=np.int64)
        return pd.DataFrame(
            {
                "nearest_fid": fids[arg],
                "nearest_dist_rad": D[arg, np.arange(D.shape[1])],
            }
        )

    nf = s2_nearest_feature(F.col(lat_col), F.col(lng_col))
    return points.withColumn("_nf", nf).select(
        "*",
        F.col("_nf.nearest_fid").alias("nearest_fid"),
        F.col("_nf.nearest_dist_rad").alias("nearest_dist_rad"),
    ).drop("_nf")


def segment_crossing_join(
    segs: DataFrame,
    id_col: str = "seg_id",
    group_col: str = "group_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    seq_col: str | None = None,
    within_group: bool = False,
    tile_deg: float = 4.0,
) -> DataFrame:
    """Segment-intersection join in chart space: pairs of line segments
    that PROPERLY cross (strict sign tests — shared endpoints and
    touches excluded), the planar sibling of the spherical EdgeCrosser
    chain (kernels/predicates.py::loop_crossing_batch; reference
    edge_crossings.go SimpleCrossing). Trajectory use: conflicting
    paths between users (``within_group=False``) or self-intersections
    of one path (``within_group=True``, excluding adjacent segments via
    ``seq_col``).

    Blocking: each segment explodes to every ``tile_deg`` grid tile its
    bounding box overlaps — a segment pair that crosses shares at least
    one tile (the crossing point lies in both boxes), so candidate
    recall is exact. Multi-tile duplicates are collapsed WITHOUT a
    shuffle by the canonical-tile rule: a pair is evaluated only in the
    lexicographically smallest tile both bounding boxes overlap
    (component-wise max of the two boxes' min tiles — always a member
    of both tile ranges, so exactly one candidate row per pair
    survives). The previous ``distinct`` shuffled the full 12-double
    candidate payload — at dense-cohort scale that exchange was ~100x
    the final result and dominated the join. At 10^12 rows the explode
    factor is bounded by segment length / tile_deg — short GPS legs
    cost ~1-4 tiles; the join shuffles on (tile_x, tile_y), the usual
    spatial-grid co-location.

    Crossing test (both engines replay the same doubles):
      ccw(p,q,r) = (qx-px)*(ry-py) - (qy-py)*(rx-px)
      cross iff ccw(a,b,c)*ccw(a,b,d) < 0 AND ccw(c,d,a)*ccw(c,d,b) < 0.

    Output: one row per unordered pair, left side = smaller ``id_col``:
    (group_a, seg_a, group_b, seg_b).
    """
    t = float(tile_deg)
    xmin = F.least(F.col(ax), F.col(bx))
    xmax = F.greatest(F.col(ax), F.col(bx))
    ymin = F.least(F.col(ay), F.col(by))
    ymax = F.greatest(F.col(ay), F.col(by))
    cols = [id_col, group_col, ax, ay, bx, by] + ([seq_col] if seq_col else [])
    tiled = segs.select(
        *cols,
        F.explode(
            F.sequence(
                F.floor(xmin / t).cast("long"), F.floor(xmax / t).cast("long")
            )
        ).alias("_tx"),
        ymin.alias("_ymin"),
        ymax.alias("_ymax"),
    ).select(
        *cols,
        "_tx",
        F.explode(
            F.sequence(
                F.floor(F.col("_ymin") / t).cast("long"),
                F.floor(F.col("_ymax") / t).cast("long"),
            )
        ).alias("_ty"),
    )
    left = tiled.select(
        *[F.col(c).alias(f"{c}_l") for c in cols], "_tx", "_ty"
    )
    right = tiled.select(
        *[F.col(c).alias(f"{c}_r") for c in cols], "_tx", "_ty"
    )
    cand = left.join(right, ["_tx", "_ty"]).where(
        F.col(f"{id_col}_l") < F.col(f"{id_col}_r")
    )
    if within_group:
        cand = cand.where(
            (F.col(f"{group_col}_l") == F.col(f"{group_col}_r"))
            & (
                F.abs(F.col(f"{seq_col}_l") - F.col(f"{seq_col}_r")) >= 2
                if seq_col
                else F.lit(True)
            )
        )
    else:
        cand = cand.where(F.col(f"{group_col}_l") != F.col(f"{group_col}_r"))

    # canonical-tile dedup (no shuffle): keep the pair only in the
    # smallest tile of the intersection of both tile ranges
    def _tmin(axis_a, axis_b):
        return F.floor(F.least(F.col(axis_a), F.col(axis_b)) / t).cast("long")

    cand = cand.where(
        (F.col("_tx") == F.greatest(_tmin(f"{ax}_l", f"{bx}_l"),
                                    _tmin(f"{ax}_r", f"{bx}_r")))
        & (F.col("_ty") == F.greatest(_tmin(f"{ay}_l", f"{by}_l"),
                                      _tmin(f"{ay}_r", f"{by}_r")))
    )
    cand = cand.select(
        f"{group_col}_l", f"{id_col}_l", f"{ax}_l", f"{ay}_l", f"{bx}_l", f"{by}_l",
        f"{group_col}_r", f"{id_col}_r", f"{ax}_r", f"{ay}_r", f"{bx}_r", f"{by}_r",
    )

    def ccw(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    a_x, a_y = F.col(f"{ax}_l"), F.col(f"{ay}_l")
    b_x, b_y = F.col(f"{bx}_l"), F.col(f"{by}_l")
    c_x, c_y = F.col(f"{ax}_r"), F.col(f"{ay}_r")
    d_x, d_y = F.col(f"{bx}_r"), F.col(f"{by}_r")
    abc = ccw(a_x, a_y, b_x, b_y, c_x, c_y)
    abd = ccw(a_x, a_y, b_x, b_y, d_x, d_y)
    cda = ccw(c_x, c_y, d_x, d_y, a_x, a_y)
    cdb = ccw(c_x, c_y, d_x, d_y, b_x, b_y)
    out = cand.where((abc * abd < 0) & (cda * cdb < 0))
    return out.select(
        F.col(f"{group_col}_l").alias("group_a"),
        F.col(f"{id_col}_l").alias("seg_a"),
        F.col(f"{group_col}_r").alias("group_b"),
        F.col(f"{id_col}_r").alias("seg_b"),
    )
