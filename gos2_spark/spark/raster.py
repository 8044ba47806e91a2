"""Raster <-> vector over the S2 cell grid (north_rule: "raster<->vector").

Rasterization = polygon tiles -> fixed-level cell grid:

- ``rasterize_centers``: DISTRIBUTED center-mode rasterization (the GDAL
  default semantics): a level-L cell belongs to a tile iff its center point
  is inside the tile's polygon. The global level-L grid is enumerated as
  ``spark.range(6 * 4**L)`` — level-L ids are contiguous in Hilbert order,
  ``id_k = (2k+1) * lsb`` (ChildBeginAtLevel/Next, cellid.go:325-360) — so
  generation is pure codegen arithmetic, pruned by a covering-range
  intersect prefilter before any Python runs. Centers come from the
  inverse-Hilbert decode kernel and membership from the exact
  crossing-parity refine (loop.go:532-558).

- ``rasterize_intersect``: driver-side intersect-mode rasterization: all
  level-L cells that MAY intersect the tile, labeled interior/boundary —
  the denormalized-covering expansion (Cell.may_intersect / contains
  callbacks, the coverer's terminal tests, regioncoverer.go:70-96).

Vectorization = cell set -> polygon outline:

- ``vectorize_cells``: union of the cells' boundary loops via the
  smallest-pair-first n-way union (polygon.go:531-564) over
  Polygon.from_cell pieces. At engine scale the same op runs as a GROUP BY
  cell-prefix + per-group driver union (see destructive_union docstring).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geometry import Polygon
from ..geometry.cell import Cell
from ..geometry.boolean_ops import destructive_union
from ..kernels import hilbert as H
from .joins import TileSet


def level_cell_ids_df(spark: SparkSession, level: int) -> DataFrame:
    """All ``6 * 4**level`` level-``level`` cell ids (biased signed int64)
    as a distributed DataFrame — pure codegen arithmetic, no Python.

    biased(id_k) = (2k+1)*lsb - 2^63 = (2k + 1 - 2^(2L+3)) * lsb, which
    stays inside signed-int64 range for every k.
    """
    lsb = 1 << (2 * (30 - level))
    c = 1 << (2 * level + 3)
    return spark.range(6 * (4 ** level)).selectExpr(
        f"CAST((2 * id + 1 - {c}) * {lsb} AS BIGINT) AS cell_id"
    )


def level_cells_intersecting_ranges_df(
    spark: SparkSession, ranges_biased: list[tuple[int, int]], level: int
) -> DataFrame:
    """Level-``level`` cells whose leaf range INTERSECTS any of the given
    biased (lo, hi) ranges — enumerated directly per range (union of
    ``spark.range`` fragments over the Hilbert index k), so work is
    proportional to the covered area, never to the 6*4^L global grid.
    Overlapping expansions may emit a cell twice; consumers dedupe."""
    lsb = 1 << (2 * (30 - level))
    step = 2 * lsb
    c = 1 << (2 * level + 3)
    n_total = 6 * (4 ** level)
    frags = []
    for lo, hi in ranges_biased:
        # unbias, widen by the cell half-range (intersect semantics), then
        # bound the Hilbert index k of cells with id (2k+1)*lsb in range
        ulo = max(0, (lo + (1 << 63)) - (lsb - 1))
        uhi = min(6 << 61, (hi + (1 << 63)) + (lsb - 1))
        k0 = max(0, (ulo - lsb + step - 1) // step)
        k1 = min(n_total - 1, (uhi - lsb) // step)
        if k1 >= k0:
            # partition each fragment by ITS size: spark.range defaults to
            # defaultParallelism partitions PER fragment, so a 20-range
            # covering spawned ~600 near-empty tasks whose scheduling
            # overhead dominated the enumerate stage (measured ~25% of the
            # rasterize query). 64k Hilbert indices per task keeps the
            # downstream decode batches full.
            size = k1 - k0 + 1
            parts = max(1, min(
                spark.sparkContext.defaultParallelism,
                (size + 65535) // 65536,
            ))
            frags.append(
                spark.range(k0, k1 + 1, 1, parts).selectExpr(
                    f"CAST((2 * id + 1 - {c}) * {lsb} AS BIGINT) AS cell_id"
                )
            )
    if not frags:
        return level_cell_ids_df(spark, level).limit(0)
    out = frags[0]
    for f in frags[1:]:
        out = out.union(f)
    return out


def rasterize_centers(
    spark: SparkSession, tileset: TileSet, level: int, grid: str = "pruned"
) -> DataFrame:
    """(tile_id, cell_id) for every level-``level`` cell whose CENTER point
    lies inside the tile polygon (center-mode rasterization).

    Plan: cell enumeration -> broadcast range join to covering cells for
    the tile label -> dedupe -> inverse-Hilbert centers + exact refine.
    Fully distributed; the only Python is the Arrow-batched decode/refine
    kernels on candidate cells.

    ``grid="pruned"`` (default) enumerates only cells intersecting the
    tileset's coarsened covering ranges — O(covered area), the scale path
    for deep levels. ``grid="global"`` enumerates all 6*4^L cells and
    filters with a codegen prefilter — the oracle-simple reference path.
    """
    from .functions import s2_cell_lat, s2_cell_lng

    art = tileset.spark_artifacts(spark)
    cov = art["cov"]
    refine = art["refine"]
    k = (1 << (2 * (30 - level))) - 1  # lsb - 1: half-range of an L-cell

    if grid == "pruned":
        cells = level_cells_intersecting_ranges_df(spark, art["ranges"], level)
    elif grid == "global":
        cells = level_cell_ids_df(spark, level)
        pre = F.expr(
            " OR ".join(
                f"(cell_id + {k} >= {lo} AND cell_id - {k} <= {hi})"
                for lo, hi in art["ranges"]
            )
            or "false"
        )
        cells = cells.where(pre)
    else:
        raise ValueError(f"unknown grid {grid!r}")

    # broadcast range join: L-cell leaf-range intersects covering range.
    # is_interior holds when the covering cell fully contains the L-cell
    # (then the center is inside with no geometry work); a cell may touch
    # several covering cells of one tile -> aggregate before refining.
    joined = cells.join(
        F.broadcast(cov),
        (F.col("cell_id") + k >= F.col("cov_rmin"))
        & (F.col("cell_id") - k <= F.col("cov_rmax")),
        "inner",
    ).select(
        "cell_id",
        "tile_idx",
        (
            F.col("is_interior")
            & (F.col("cov_rmin") <= F.col("cell_id") - k)
            & (F.col("cell_id") + k <= F.col("cov_rmax"))
        ).alias("covered"),
    )
    cand = joined.groupBy("cell_id", "tile_idx").agg(
        F.max("covered").alias("covered")
    )
    cand = cand.withColumn("lat", s2_cell_lat(F.col("cell_id"))).withColumn(
        "lng", s2_cell_lng(F.col("cell_id"))
    )
    matched = (
        cand.withColumn(
            "inside",
            refine(F.col("tile_idx"), F.col("lat"), F.col("lng"), F.col("covered")),
        )
        .where(F.col("inside"))
    )
    name_arr = F.array(*[F.lit(str(t)) for t in tileset.tile_ids()])
    return matched.select(
        F.element_at(name_arr, F.col("tile_idx") + 1).alias("tile_id"),
        "cell_id",
    )


def _rasterize_intersect_one(args) -> list[tuple[str, int, bool]]:
    """Per-tile intersect-mode expansion — module-level pure function so
    many-tile rasterizations can fan out over a process pool."""
    tile_id, covering_ids, poly, level = args
    seen: dict[int, bool] = {}
    stack: list[int] = []
    lifted: set[int] = set()
    for cid in covering_ids:
        lvl = H.level_scalar(cid)
        if lvl > level:
            # covering cells deeper than the target lift to their level-L
            # parent — push it for the EXACT contains/may-intersect
            # classification below (marking it boundary outright would
            # bake the coverer's subdivision choices into the labels).
            pid = int(H.parent(np.array([cid], dtype=np.uint64), level)[0])
            if pid not in lifted:
                lifted.add(pid)
                stack.append(pid)
        else:
            stack.append(cid)
    while stack:
        cid = stack.pop()
        cell = Cell(cid)
        lvl = H.level_scalar(cid)
        if lvl == level:
            if poly.contains_cell(cell):
                seen[cid] = True
            elif poly.may_intersect_cell(cell):
                if cid not in seen:
                    seen[cid] = False
            continue
        if poly.contains_cell(cell):
            # whole subtree interior: enumerate its level-L descendants
            lo = H.child_begin_at_level(np.array([cid], dtype=np.uint64), level)[0]
            hi = H.child_end_at_level(np.array([cid], dtype=np.uint64), level)[0]
            step = np.uint64(2) * np.uint64(H.lsb_for_level(level))
            for c in range(int(lo), int(hi), int(step)):
                seen[c] = True
            continue
        if poly.may_intersect_cell(cell):
            stack.extend(cell.children())
    return [(str(tile_id), cid, interior) for cid, interior in seen.items()]


def rasterize_intersect(
    tileset: TileSet, level: int, workers: int | None = None
) -> list[tuple[str, int, bool]]:
    """Driver-side intersect-mode rasterization: sorted
    (tile_id, cell_id_unsigned, is_interior) for every level-``level`` cell
    that may intersect each tile. Covering cells shallower than the target
    expand child-by-child with the region callbacks; deeper covering cells
    lift to their level-``level`` parent (boundary label). ``workers``
    fans the independent per-tile expansions over a process pool (results
    identical to serial)."""
    arg_list = [
        (tid, tileset.tiles[tid]["covering"].ids, tileset.tiles[tid]["poly"], level)
        for tid in tileset.tile_ids()
    ]
    if workers and workers > 1 and len(arg_list) > 1:
        import concurrent.futures as _cf

        with _cf.ProcessPoolExecutor(max_workers=workers) as pool:
            parts = list(pool.map(_rasterize_intersect_one, arg_list))
    else:
        parts = [_rasterize_intersect_one(a) for a in arg_list]
    out: list[tuple[str, int, bool]] = []
    for p in parts:
        out.extend(p)
    return sorted(out)


def vectorize_cells(cell_ids: list[int], vertex_merge_radius: float | None = None) -> Polygon:
    """Cell set -> boundary polygon: n-way union of the cells' 4-vertex
    boundary loops (raster -> vector). Input ids are unsigned cell ids."""
    pieces = [Polygon.from_cell(Cell(int(c))) for c in cell_ids]
    if vertex_merge_radius is None:
        return destructive_union(pieces)
    return destructive_union(pieces, vertex_merge_radius)

