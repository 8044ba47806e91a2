"""Point-in-polygon workloads: the staged cell-sorted layout and the
geoparse-on-read layout over the same synthetic pages.

One op is ``point_in_polygon_join`` against four city tiles plus a
per-tile count, collected to the driver. Both layouts join the same
pages against the same seeded tiles, so both must return the count made
outside Spark (``reference_counts``) and hence agree with each other.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Pages per input table; both layouts read the same pages.
ROWS = 1_000_000
# Files (and so row groups) of the staged cell-sorted table.
STAGED_FILES = 8
# (name, lat, lng, radius_deg, vertices): the four pages.CITIES hot spots.
CITIES = (
    ("nyc", 40.7128, -74.0060, 1.5, 16),
    ("london", 51.5074, -0.1278, 2.0, 12),
    ("tokyo", 35.6762, 139.6503, 2.0, 16),
    ("sydney", -33.8688, 151.2093, 1.0, 12),
)
# Same pattern as the engine's geoparse (functions._GEO_RE), named groups.
GEO_RE = r"(?P<lat>-?\d{1,2}\.\d{3,}),\s*(?P<lng>-?\d{1,3}\.\d{3,})"

LAYOUTS = {
    # name: (covering max_cells, staged?)
    "pip_staged": (512, True),
    "pip_geoparse": (32, False),
}


def city_loops(seed: int) -> dict:
    """Seeded jitter of the four tiles: centre +-0.1 deg, vertex count
    +-2. The city hot spots stay inside their tile; the boundary band
    moves."""
    from gos2_spark.geometry import Loop

    rng = random.Random(seed)
    loops = {}
    for name, lat, lng, radius, nv in CITIES:
        loops[name] = Loop.regular(
            lat + rng.uniform(-0.1, 0.1), lng + rng.uniform(-0.1, 0.1),
            radius, nv + rng.randint(-2, 2),
        )
    return loops


def page_points(pages_dir: str, path: str) -> None:
    """Write ``<path>/latlng.npy``: the first lat/lng mention of every page
    (radians, 2 x n), extracted outside Spark with pyarrow."""
    text = pq.read_table(pages_dir, columns=["text"]).column("text")
    m = pc.extract_regex(text, GEO_RE).drop_null()
    lat = pc.cast(pc.struct_field(m, "lat"), "float64").to_numpy()
    lng = pc.cast(pc.struct_field(m, "lng"), "float64").to_numpy()
    ok = (lat >= -90) & (lat <= 90) & (lng >= -180) & (lng <= 180)
    os.makedirs(path, exist_ok=True)
    np.save(os.path.join(path, "latlng.npy"),
            np.radians(np.stack([lat[ok], lng[ok]])))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def reference_counts(latlng: np.ndarray, loops: dict) -> dict[str, int]:
    """Per-tile counts made outside Spark: the exact loop-containment
    kernel decides each page point (``page_points``) against each tile's
    loop."""
    from gos2_spark.geometry import Polygon
    from gos2_spark.kernels import predicates as PR
    from gos2_spark.kernels import projection as PJ

    lat_r, lng_r = latlng
    out = {}
    for name, loop in loops.items():
        b = Polygon.from_loop(loop).rect_bound()
        sel = ((lat_r >= b.lat.lo) & (lat_r <= b.lat.hi)
               & (lng_r >= b.lng.lo) & (lng_r <= b.lng.hi))
        x, y, z = PJ.latlng_to_xyz(lat_r[sel], lng_r[sel])
        inside = PR.contains_points_in_loop(
            np.stack([x, y, z], axis=1), loop.vertices_array(),
            loop.origin_inside)
        out[name] = int(inside.sum())
    return out


def _prime(path: str) -> None:
    """Read every byte once so the OS page cache holds the input."""
    for root, _, files in os.walk(path):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as fh:
                while fh.read(1 << 24):
                    pass


def _cached(cache_dir: str, name: str, key: str, build) -> str:
    """``<cache_dir>/<name>-<key>``, built by ``build(path)`` on a miss.
    Entries of ``name`` under other keys (older engine sources) go."""
    path = os.path.join(cache_dir, f"{name}-{key}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    for old in glob.glob(os.path.join(cache_dir, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    build(path)
    return path


def _row_groups(path: str, ranges: list[tuple[int, int]] | None):
    """(total, read): row groups of the parquet table at ``path``, and how
    many a min/max-statistics reader must open for a ``cell_id`` BETWEEN
    ``ranges`` filter (all of them when ``ranges`` is None)."""
    total = read = 0
    for fn in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(fn).metadata
        col = meta.schema.to_arrow_schema().get_field_index("cell_id")
        for i in range(meta.num_row_groups):
            total += 1
            if ranges is None:
                read += 1
                continue
            st = meta.row_group(i).column(col).statistics
            if any(lo <= st.max and st.min <= hi for lo, hi in ranges):
                read += 1
    return total, read


class PipWorkload:
    """One pip layout. ``build_tiles`` and ``setup`` prepare the coverings
    and inputs; ``op`` runs one join; ``check`` compares an op's output
    with the outside-Spark count."""

    setup_passes = 0

    def __init__(self, name: str, ctx):
        self.name = name
        self.ctx = ctx
        self.max_cells, self.staged = LAYOUTS[name]
        self.loops = city_loops(ctx.seed)
        self.rows_per_pass = ROWS

    def build_tiles(self) -> None:
        """Covering build, before the JVM starts: forking the cover worker
        pool is only safe while this process has a single thread."""
        from gos2_spark.spark.joins import TileSet

        t0 = time.perf_counter()
        self.tiles = TileSet(self.loops, max_cells=self.max_cells,
                             workers=self.ctx.cpus)
        self.tileset_build_s = time.perf_counter() - t0
        self.ctx.log(f"tiles {self.tileset_build_s:.2f}s")

    def _synth(self, path: str) -> None:
        from gos2_spark.spark.pages import synth_pages

        synth_pages(self.ctx.spark, ROWS).write.mode("overwrite").parquet(path)

    def _stage(self, path: str) -> None:
        from gos2_spark.spark.pages import geoparsed_pages
        from gos2_spark.spark.source import write_points_cell_sorted

        pages = self.ctx.spark.read.parquet(self.pages_dir)
        write_points_cell_sorted(geoparsed_pages(pages), path,
                                 num_files=STAGED_FILES)

    def setup(self) -> None:
        from gos2_spark.spark.pages import geoparsed_pages

        spark, cache, key = self.ctx.spark, self.ctx.cache_dir, self.ctx.engine_key
        self.pages_dir = _cached(cache, f"pages{ROWS}", key, self._synth)
        self.pages = spark.read.parquet(self.pages_dir)
        if self.staged:
            self.input_dir = _cached(cache, f"points{ROWS}", key, self._stage)
            self.points = spark.read.parquet(self.input_dir)
        else:
            self.input_dir = self.pages_dir
            self.points = geoparsed_pages(self.pages)
        _prime(self.input_dir)

    def ops(self):
        return [("pip", self.op)]

    def op(self, tracer) -> dict[str, int]:
        from gos2_spark.spark.joins import point_in_polygon_join

        with tracer.span("build"):
            df = (point_in_polygon_join(self.points, self.tiles, how="inner",
                                        rebalance=False)
                  .groupBy("tile_id").count())
        with tracer.span("action"):
            rows = df.collect()
        return {r["tile_id"]: r["count"] for r in rows}

    def prepare_check(self) -> None:
        geo = _cached(self.ctx.cache_dir, f"pagegeo{ROWS}", self.ctx.engine_key,
                      lambda path: page_points(self.pages_dir, path))
        latlng = np.load(os.path.join(geo, "latlng.npy"))
        self.reference = reference_counts(latlng, self.loops)
        self.ctx.log(f"reference per-tile counts {self.reference}")

    def check(self, name: str, result) -> bool:
        return result == self.reference

    # --- traced run only ------------------------------------------------

    def layers(self, tracer) -> dict[str, float]:
        """Per-layer numbers from cumulative sub-pipelines (scan, covering
        join, full op) and fresh rebuilds of the cached inputs."""
        from pyspark.sql import functions as F

        from gos2_spark.spark.pages import geoparsed_pages, s2_parent_sql

        spark, scratch = self.ctx.spark, self.ctx.scratch_dir
        out: dict[str, float] = {}
        art = self.tiles.spark_artifacts(spark)
        pre = F.expr(" OR ".join(f"(`cell_id` BETWEEN {lo} AND {hi})"
                                 for lo, hi in art["ranges"]))
        grid = art["grid"]
        gkey = s2_parent_sql(F.col("cell_id"), art["grid_level"])

        def candidates():
            pts = self.points.where(pre).withColumn("_gk", gkey)
            return pts.join(F.broadcast(grid),
                            (pts["_gk"] == grid["grid_key"])
                            & (F.col("cell_id") >= F.col("g_rmin"))
                            & (F.col("cell_id") <= F.col("g_rmax")), "inner")

        def timed(name, fn, reps=3):
            fn()  # warm-up
            ts = []
            for _ in range(reps):
                with tracer.span(name):
                    t0 = time.perf_counter()
                    v = fn()
                    ts.append(time.perf_counter() - t0)
            return statistics.median(ts), v

        out["source.scan_s"], _ = timed(
            "source.scan", lambda: self.points.where(pre).count())
        out["joins.candidates_s"], cand = timed(
            "joins.candidates", lambda: candidates().count())
        out["joins.candidate_rows"] = cand
        out["kernels.refine_rows"] = candidates().where(~F.col("is_interior")).count()
        out["joins.output_rows"] = sum(self.reference.values())
        out["joins.refine_yield"] = out["joins.output_rows"] / max(cand, 1)
        out["cover.cells"] = sum(len(t["covering"].ids)
                                 for t in self.tiles.tiles.values())
        out["cover.tileset_build_s"] = self.tileset_build_s
        total, read = _row_groups(self.input_dir,
                                  art["ranges"] if self.staged else None)
        out["source.row_groups_total"] = total
        out["source.row_groups_read"] = read
        out["source.prune_ratio"] = read / total
        out["pages.geoparse_s"], _ = timed(
            "pages.geoparse", lambda: geoparsed_pages(self.pages).count())
        rebuilds = [("pages.synth", self._synth)]
        if self.staged:
            rebuilds.append(("source.stage_write", self._stage))
        for name, build in rebuilds:
            path = os.path.join(scratch, name)
            with tracer.span(name):
                t0 = time.perf_counter()
                build(path)
                out[f"{name}_s"] = time.perf_counter() - t0
            shutil.rmtree(path)
        return out
