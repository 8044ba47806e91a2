"""Public UDF/function surface: vectorized S2 kernels as Spark columns.

Every function here is either a native Column expression ([SQL] — stays in
whole-stage codegen) or an Arrow-batched pandas UDF wrapping the numpy
kernels ([K] — one vectorized pass per batch, never per-row Python).
SURVEY §2.8 lists the planned surface; kernels cite the reference lines.

CellID convention in DataFrames: **biased signed int64** (raw uint64 XOR
2^63) so that native LongType ordering == unsigned Hilbert ordering. Use
``s2_token`` / ``s2_from_token`` at the edges for display/interop.
"""

from __future__ import annotations

import functools
import inspect
import sys
import weakref
import zipimport

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf as _pyspark_pandas_udf
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, LongType, StringType,
)

from ..kernels import hilbert as H
from ..kernels import projection as PJ

# Pin pyarrow's internal thread pool: this module is imported inside every
# Python UDF worker, and each executor core runs its own worker — letting
# arrow spawn #cores threads per worker oversubscribes quadratically
# (32 workers x 32 arrow threads) and collapses UDF throughput ~12x.
try:  # pragma: no cover
    import pyarrow as _pa

    _pa.set_cpu_count(1)
    _pa.set_io_thread_count(1)
except Exception:
    pass


def drop_zip_importers() -> None:
    """Forget the cached finders of zip archives on the import path.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11/3.12 that makes every cached
    ``zipimporter`` re-read its whole archive directory. A worker holds
    about 16 of them over ``pyspark.zip``, the py4j zip and the Spark core
    jar (26,672 entries), which cost ~0.1 s of every UDF task. A dropped
    finder is rebuilt on the next lookup from ``zipimport``'s own directory
    cache, without reading the archive again.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def dropping_zip_importers(f):
    """``f`` that first runs :func:`drop_zip_importers` at every call: the
    wrapper for engine ``mapInPandas`` / ``applyInPandas`` callables (the
    engine ``pandas_udf`` applies it itself). It keeps ``f``'s signature,
    because PySpark reads a grouped-map function's arity with
    ``inspect.getfullargspec``, which does not follow ``__wrapped__``."""
    @functools.wraps(f)
    def run(*args, **kwargs):
        drop_zip_importers()
        return f(*args, **kwargs)

    run.__signature__ = inspect.signature(f)
    return run


def pandas_udf(f=None, returnType=None, functionType=None):
    """``pyspark.sql.functions.pandas_udf`` for engine UDFs: same forms and
    eval-type inference (``functools.wraps`` keeps the type hints), and
    every call first runs :func:`drop_zip_importers`, so the next task's
    cache invalidation in that worker finds no archive to re-read. Clearing
    once is not enough: later first imports rebuild the root importers."""
    if f is None or isinstance(f, (str, DataType)):  # decorator form
        make = _pyspark_pandas_udf(f, returnType, functionType)
        return lambda fn: make(dropping_zip_importers(fn))
    return _pyspark_pandas_udf(dropping_zip_importers(f), returnType, functionType)


_BIAS = np.uint64(1 << 63)


def _to_u64(biased: pd.Series) -> np.ndarray:
    return biased.to_numpy(dtype=np.int64).view(np.uint64) ^ _BIAS


def _to_biased(u: np.ndarray) -> pd.Series:
    return pd.Series((u ^ _BIAS).view(np.int64))


# --- point -> cell ----------------------------------------------------------

@pandas_udf(LongType())
def s2_cellid(lat_deg: pd.Series, lng_deg: pd.Series) -> pd.Series:
    """Leaf CellID (biased int64) from lat/lng degrees (cellid.go:57-59)."""
    ids = PJ.cellid_from_latlng(lat_deg.to_numpy(np.float64), lng_deg.to_numpy(np.float64))
    return _to_biased(ids)


# --- hierarchy (pure bit arithmetic — also [SQL]-expressible) ---------------

@pandas_udf(LongType())
def s2_parent(cell: pd.Series, level: pd.Series) -> pd.Series:
    return _to_biased(H.parent(_to_u64(cell), level.to_numpy(np.int64)))


@pandas_udf(ArrayType(LongType()))
def s2_edge_neighbors(cell: pd.Series) -> pd.Series:
    nbrs = PJ.edge_neighbors(_to_u64(cell))
    biased = (nbrs ^ _BIAS).view(np.int64)
    return pd.Series(list(biased))


@pandas_udf(ArrayType(LongType()))
def s2_neighborhood(cell: pd.Series, level: pd.Series) -> pd.Series:
    """Parent-at-level + its 8 same-level neighbors (3x3 block), deduped —
    the candidate-cell generator for the within-radius distance join
    (AppendAllNeighbors, cellid.go:257-287, specialized + vectorized)."""
    lvl = int(level.iloc[0]) if len(level) else 0
    if len(cell) == 0:
        return pd.Series([], dtype=object)
    nbrs = PJ.neighborhood(_to_u64(cell), lvl)
    biased = (nbrs ^ _BIAS).view(np.int64)
    # dedupe per row (cube-corner wrap duplicates an edge neighbor)
    return pd.Series([np.unique(row) for row in biased])


# --- codecs -----------------------------------------------------------------

@pandas_udf(StringType())
def s2_token(cell: pd.Series) -> pd.Series:
    return pd.Series(H.to_token(_to_u64(cell)))


@pandas_udf(LongType())
def s2_from_token(token: pd.Series) -> pd.Series:
    return _to_biased(H.from_token(token.to_numpy(object)))


# --- geometry ---------------------------------------------------------------

@pandas_udf(DoubleType())
def s2_cell_lat(cell: pd.Series) -> pd.Series:
    lat, _ = PJ.cellid_to_latlng(_to_u64(cell))
    return pd.Series(lat)


@pandas_udf(DoubleType())
def s2_cell_lng(cell: pd.Series) -> pd.Series:
    _, lng = PJ.cellid_to_latlng(_to_u64(cell))
    return pd.Series(lng)


# SparkContext -> the LOOKUP_POS Literal column (see _lookup_pos_column)
_LOOKUP_POS_COLUMNS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _lookup_pos_column(spark) -> Column:
    """H.LOOKUP_POS as one array<int> ``Literal``, built once per
    SparkContext. ``F.lit(list)`` would convert the 1024 ints one py4j call
    at a time, and a SQL ``array(...)`` string is re-parsed and re-folded in
    every plan that uses it; here the analyzed ``CreateArray`` is evaluated
    once in the JVM and its value wrapped as a Literal."""
    sc = spark.sparkContext
    col = _LOOKUP_POS_COLUMNS.get(sc)
    if col is None:
        sql = "array(" + ",".join(str(int(v)) for v in H.LOOKUP_POS) + ")"
        arr = (spark.range(1).selectExpr(sql)._jdf.queryExecution()
               .analyzed().expressions().apply(0).child())
        jvm = sc._jvm
        lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal(
            arr.eval(None), arr.dataType())
        col = Column(jvm.org.apache.spark.sql.classic.ExpressionUtils.column(lit))
        _LOOKUP_POS_COLUMNS[sc] = col
    return col


def add_cellid_sql(df, lat_col: str, lng_col: str, out_col: str = "cell_id"):
    """Add a leaf cell id (bias-encoded int64) as PURE native SQL — no
    Python worker in the loop at all.

    Same pipeline as kernels.projection.cellid_from_latlng
    (cellid.go:503-509): lat/lng -> xyz -> face/uv -> st -> ij -> 8 unrolled
    Hilbert rounds gathering from the 1024-entry LOOKUP_POS table
    (cellid.go:551-576), which enters the plan as ONE array<int> Literal
    built once per SparkContext (:func:`_lookup_pos_column`), so neither the
    parser nor the optimizer sees a 1024-child ``array(...)`` per plan.
    Built as STAGED projections (one per Hilbert
    round): a single Column would nest the recursive ``bits`` chain into a
    2^8-node tree (measured 1.7 MB plan, codegen fallback); with column
    barriers each round references the previous round's *attributes*, the
    plan stays linear, and whole-stage codegen fuses all the projections
    back into one pass. All integer arithmetic is shift/bitwise (unchecked
    under ANSI mode).

    Parity note: trig here is java.lang.Math while the Arrow kernel uses
    numpy — tests assert empirical bit-equality over large corpora; the
    pandas-UDF kernel remains the golden-vector reference implementation.
    """
    base = [c for c in df.columns]
    tmp = [c for c in base if not c.startswith("_s2_")]

    # Every stage is a selectExpr over SQL STRINGS: semantically identical
    # to the Column-API form but ~1 py4j roundtrip per stage instead of one
    # per operator (plan build was 2.4s/call with Column chains, ~0.25s with
    # strings — a fixed per-job driver cost).
    lat_q, lng_q = f"`{lat_col}`", f"`{lng_col}`"
    df = df.selectExpr(
        "*",
        f"cos(radians({lng_q})) * cos(radians({lat_q})) AS _s2_x",
        f"sin(radians({lng_q})) * cos(radians({lat_q})) AS _s2_y",
        f"sin(radians({lat_q})) AS _s2_z",
    )

    # face() (stuv.go:47-63): largest-|component| axis, sign picks the
    # antipodal face. az > (ay>ax ? ay : ax) == az > greatest(ax, ay).
    df = df.selectExpr(
        "*",
        "CASE WHEN abs(_s2_z) > greatest(abs(_s2_x), abs(_s2_y)) THEN 2"
        " WHEN abs(_s2_y) > abs(_s2_x) THEN 1 ELSE 0 END AS _s2_fid",
    ).selectExpr(
        *[f"`{c}`" for c in (*tmp, "_s2_x", "_s2_y", "_s2_z")],
        "CASE WHEN (CASE WHEN _s2_fid = 2 THEN _s2_z"
        " WHEN _s2_fid = 1 THEN _s2_y ELSE _s2_x END) < 0"
        " THEN _s2_fid + 3 ELSE _s2_fid END AS _s2_face",
    )

    # (face, xyz) -> (u, v) (stuv.go:68-82)
    u_sql = (
        "CASE _s2_face WHEN 0 THEN _s2_y / _s2_x WHEN 1 THEN -_s2_x / _s2_y"
        " WHEN 2 THEN -_s2_x / _s2_z WHEN 3 THEN _s2_z / _s2_x"
        " WHEN 4 THEN _s2_z / _s2_y ELSE -_s2_y / _s2_z END"
    )
    v_sql = (
        "CASE _s2_face WHEN 0 THEN _s2_z / _s2_x WHEN 1 THEN _s2_z / _s2_y"
        " WHEN 2 THEN -_s2_y / _s2_z WHEN 3 THEN _s2_y / _s2_x"
        " WHEN 4 THEN -_s2_x / _s2_y ELSE -_s2_x / _s2_z END"
    )
    df = df.selectExpr("*", f"{u_sql} AS _s2_u", f"{v_sql} AS _s2_v")

    max_size = H.MAX_SIZE  # 2^30

    def ij_sql(w: str) -> str:
        # stToUV quadratic (stuv.go:38-43) then stToIJ clamp (cellid.go:499-501)
        st = (
            f"CASE WHEN {w} >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * {w})"
            f" ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * {w}) END"
        )
        return (
            f"CAST(greatest(0, least({max_size - 1},"
            f" floor({float(max_size)!r} * ({st})))) AS BIGINT)"
        )

    df = df.selectExpr(
        "*", f"{ij_sql('_s2_u')} AS _s2_i", f"{ij_sql('_s2_v')} AS _s2_j"
    )

    # The table rides along as the column _s2_lut (FoldablePropagation
    # inlines the literal into each round's element_at), so the whole
    # 8-round loop stays SQL STRINGS: per-Column operator chains cost one
    # py4j roundtrip each (~0.7s/plan for the loop's ~240 ops); selectExpr
    # parses each round in ~1ms driver-side.
    carried = [f"`{c}`" for c in (*tmp, "_s2_x", "_s2_y", "_s2_z", "_s2_face",
                                  "_s2_u", "_s2_v", "_s2_i", "_s2_j", "_s2_lut")]
    df = df.select(
        "*",
        _lookup_pos_column(df.sparkSession).alias("_s2_lut"),
        F.expr(f"shiftleft(CAST(_s2_face AS BIGINT), {H.POS_BITS - 1})").alias("_s2_n"),
        F.expr("CAST(_s2_face AS BIGINT) & 1").alias("_s2_bits"),
    )
    for k in range(7, -1, -1):
        key = (
            f"(_s2_bits + shiftleft(shiftright(_s2_i, {k * 4}) & 15, 6)"
            f" + shiftleft(shiftright(_s2_j, {k * 4}) & 15, 2))"
        )
        df = df.selectExpr(
            *carried,
            f"CAST(element_at(_s2_lut, CAST({key} + 1 AS INT)) AS BIGINT)"
            " AS _s2_nb",
            "_s2_n AS _s2_n0",
        ).selectExpr(
            *carried,
            f"(_s2_n0 | shiftleft(shiftright(_s2_nb, 2), {k * 8})) AS _s2_n",
            "(_s2_nb & 3) AS _s2_bits",
        )
    leaf = F.shiftleft(F.col("_s2_n"), 1).bitwiseOR(F.lit(1))
    biased = leaf.bitwiseXOR(F.lit(-(1 << 63)))  # bias ^ 2^63
    # Generate barrier: without it, PushDownPredicate substitutes consumer
    # predicates (e.g. the pip join's 64-range prefilter) through every
    # staged projection above, regrowing the exponential tree the staging
    # exists to prevent (measured: optimizer hang on the full join plan).
    # explode(array(x)) makes cell_id a concrete attribute predicates stop at.
    return df.select(*tmp, F.explode(F.array(biased)).alias(out_col))


def edge_distance_udf(a_lat: float, a_lng: float, b_lat: float, b_lng: float):
    """Pandas-UDF factory: distance (radians) from (lat,lng) points to ONE
    fixed geodesic segment A-B — vectorized DistanceToEdge
    (edgeutil.go:77-106) with the edge captured in the closure so only two
    double columns cross the Arrow channel."""
    import math

    ax = math.cos(math.radians(a_lng)) * math.cos(math.radians(a_lat))
    ay = math.sin(math.radians(a_lng)) * math.cos(math.radians(a_lat))
    az = math.sin(math.radians(a_lat))
    bx = math.cos(math.radians(b_lng)) * math.cos(math.radians(b_lat))
    by = math.sin(math.radians(b_lng)) * math.cos(math.radians(b_lat))
    bz = math.sin(math.radians(b_lat))
    a = (ax, ay, az)
    b = (bx, by, bz)

    @pandas_udf(DoubleType())
    def s2_edge_distance(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernels import predicates as PR

        x, y, z = PJ.latlng_to_xyz(
            np.radians(lat.to_numpy(np.float64)),
            np.radians(lng.to_numpy(np.float64)),
        )
        pts = np.stack([x, y, z], axis=1)
        return pd.Series(PR.distance_to_edges(pts, a, b))

    return s2_edge_distance


def edge_interpolate_udf(a_lat: float, a_lng: float, b_lat: float, b_lng: float):
    """Pandas-UDF factory: EdgeInterpolate + GetDistanceFraction
    (edgeutil.go:335-354, 394-398) of a fraction column along ONE fixed
    geodesic segment A-B (captured in the closure — one double column in,
    one struct out across the Arrow channel). Returns
    struct(ilat, ilng, frac): the interpolated point in degrees and its
    recovered distance fraction (== t up to float error; the recovery runs
    the independent GetDistanceFraction formula, not algebraic identity)."""
    import math

    from pyspark.sql.types import DoubleType as _D
    from pyspark.sql.types import StructField, StructType

    a = (
        math.cos(math.radians(a_lng)) * math.cos(math.radians(a_lat)),
        math.sin(math.radians(a_lng)) * math.cos(math.radians(a_lat)),
        math.sin(math.radians(a_lat)),
    )
    b = (
        math.cos(math.radians(b_lng)) * math.cos(math.radians(b_lat)),
        math.sin(math.radians(b_lng)) * math.cos(math.radians(b_lat)),
        math.sin(math.radians(b_lat)),
    )
    schema = StructType([
        StructField("ilat", _D()),
        StructField("ilng", _D()),
        StructField("frac", _D()),
    ])

    @pandas_udf(schema)
    def s2_edge_interpolate(t: pd.Series) -> pd.DataFrame:
        from ..kernels import predicates as PR

        pts = PR.interpolate_on_edge(t.to_numpy(np.float64), a, b)
        return pd.DataFrame({
            "ilat": np.degrees(np.arctan2(pts[:, 2], np.hypot(pts[:, 0], pts[:, 1]))),
            "ilng": np.degrees(np.arctan2(pts[:, 1], pts[:, 0])),
            "frac": PR.distance_fractions(pts, a, b),
        })

    return s2_edge_interpolate


def haversine_rad(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """[SQL] haversine (latlng.go:32-40 op order) — native Catalyst
    expression, stays in whole-stage codegen AND is DuckDB-oracle friendly.
    Inputs in degrees, output radians."""
    rlat1, rlng1 = F.radians(lat1), F.radians(lng1)
    rlat2, rlng2 = F.radians(lat2), F.radians(lng2)
    dlat = F.sin((rlat2 - rlat1) * 0.5)
    dlng = F.sin((rlng2 - rlng1) * 0.5)
    x = dlat * dlat + dlng * dlng * F.cos(rlat1) * F.cos(rlat2)
    return 2.0 * F.atan2(F.sqrt(x), F.sqrt(F.greatest(F.lit(0.0), 1.0 - x)))


def initial_bearing_rad(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column
) -> Column:
    """[SQL] Initial great-circle bearing (forward azimuth) from p1 to p2,
    radians in [0, 2pi). Standard atan2 formulation; the reference exposes
    only the xyz primitives this reduces to (Vector.Angle, s2.go) — this is
    the lat/lng-native composition a trajectory pipeline shuffles on.
    Native codegen, DuckDB-mirrorable (same float-op order)."""
    import math

    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlng = F.radians(lng2) - F.radians(lng1)
    y = F.sin(dlng) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlng)
    b = F.atan2(y, x)
    return F.when(b < 0.0, b + (2.0 * math.pi)).otherwise(b)


def spherical_midpoint(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column
) -> Column:
    """[SQL] Great-circle midpoint of two lat/lng-degree points as a
    struct(mid_lat, mid_lng) in degrees. Computed as latlng(a_xyz + b_xyz)
    — the atan2 form is scale-invariant so the vector sum needs NO
    normalization (latlng.go:87-92 LatLngFromPoint uses the same atan2
    shape). Antipodal pairs degrade to atan2(0, 0) = 0 deterministically.
    Pure per-row codegen; no shuffle, no UDF."""
    rlat1, rlng1 = F.radians(lat1), F.radians(lng1)
    rlat2, rlng2 = F.radians(lat2), F.radians(lng2)
    sx = F.cos(rlng1) * F.cos(rlat1) + F.cos(rlng2) * F.cos(rlat2)
    sy = F.sin(rlng1) * F.cos(rlat1) + F.sin(rlng2) * F.cos(rlat2)
    sz = F.sin(rlat1) + F.sin(rlat2)
    mid_lat = F.degrees(F.atan2(sz, F.sqrt(sx * sx + sy * sy)))
    mid_lng = F.degrees(F.atan2(sy, sx))
    return F.struct(mid_lat.alias("mid_lat"), mid_lng.alias("mid_lng"))


def gc_destination(
    lat: Column, lng: Column, bearing_rad: Column, dist_rad: Column
) -> Column:
    """[SQL] Great-circle destination point: travel ``dist_rad`` radians
    from (lat, lng) along initial bearing ``bearing_rad``. The inverse of
    initial_bearing_rad (standard direct-geodesy formula on the unit
    sphere). Returns struct(dst_lat, dst_lng) in degrees, longitude
    normalized to [-180, 180). Native codegen, DuckDB-mirrorable."""
    rlat, rlng = F.radians(lat), F.radians(lng)
    sin_lat2 = F.sin(rlat) * F.cos(dist_rad) + F.cos(rlat) * F.sin(dist_rad) * F.cos(
        bearing_rad
    )
    lat2 = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sin_lat2)))
    lng2 = rlng + F.atan2(
        F.sin(bearing_rad) * F.sin(dist_rad) * F.cos(rlat),
        F.cos(dist_rad) - F.sin(rlat) * sin_lat2,
    )
    lng2d = F.degrees(lng2)
    dst_lng = lng2d - 360.0 * F.floor((lng2d + 180.0) / 360.0)
    return F.struct(
        F.degrees(lat2).alias("dst_lat"), dst_lng.alias("dst_lng")
    )


def nearest_center(
    lat: Column, lng: Column, centers: list[tuple[str, float, float]]
) -> Column:
    """[SQL] 1-NN classification against a small literal center list:
    struct(dist_rad, name) per center -> array_min (lexicographic struct
    compare == min distance, name tiebreak). The center table rides in the
    plan as literals — the degenerate broadcast form a 10^12-row nearest-
    POI classify takes: zero shuffle, zero join, whole-stage codegen.
    Returns struct(dist, name)."""
    arr = F.array(
        *[
            F.struct(
                haversine_rad(lat, lng, F.lit(cla), F.lit(clng)).alias("dist"),
                F.lit(name).alias("name"),
            )
            for name, cla, clng in centers
        ]
    )
    return F.array_min(arr)


def cap_contains(
    center_lat: float, center_lng: float, radius_deg: float, lat: Column, lng: Column
) -> Column:
    """[SQL] Cap.ContainsPoint (cap.go:253-255): squared chord distance vs
    2*height, as a native expression over lat/lng-degree columns."""
    import math

    from ..geometry import _vec as V
    from ..geometry.cap import radius_to_height

    cx, cy, cz = V.from_degrees(center_lat, center_lng)
    height = radius_to_height(math.radians(radius_deg))
    rlat, rlng = F.radians(lat), F.radians(lng)
    px = F.cos(rlng) * F.cos(rlat)
    py = F.sin(rlng) * F.cos(rlat)
    pz = F.sin(rlat)
    dist2 = (px - cx) ** 2 + (py - cy) ** 2 + (pz - cz) ** 2
    return dist2 <= 2.0 * height


def rect_contains(
    lat_lo: float, lng_lo: float, lat_hi: float, lng_hi: float, lat: Column, lng: Column
) -> Column:
    """[SQL] Rect.Contains (rect.go:161-163) over degree columns, wrap-aware:
    if lng_lo > lng_hi the interval wraps through the date line."""
    lat_ok = (lat >= lat_lo) & (lat <= lat_hi)
    if lng_lo <= lng_hi:
        lng_ok = (lng >= lng_lo) & (lng <= lng_hi)
    else:
        lng_ok = (lng >= lng_lo) | (lng <= lng_hi)
    return lat_ok & lng_ok


# --- geoparse ---------------------------------------------------------------

_GEO_RE = r"(-?\d{1,2}\.\d{3,}),\s*(-?\d{1,3}\.\d{3,})"


def geoparse_all(text: Column) -> Column:
    """[SQL] ALL lat/lng mentions in document order as
    ``array<struct<lat,lng>>`` (the multi-mention geoparse surface of
    SURVEY §2.8); pairs outside the lat/lng domain are dropped. Native
    regexp_extract_all + higher-order functions — codegen, no UDF."""
    ms = F.regexp_extract_all(text, F.lit(_GEO_RE), 0)
    arr = F.transform(
        ms,
        lambda m: F.struct(
            F.trim(F.split(m, ",").getItem(0)).cast("double").alias("lat"),
            F.trim(F.split(m, ",").getItem(1)).cast("double").alias("lng"),
        ),
    )
    return F.filter(
        arr,
        lambda p: (p["lat"] >= -90.0) & (p["lat"] <= 90.0)
        & (p["lng"] >= -180.0) & (p["lng"] <= 180.0),
    )


def route_distance_udf(waypoints):
    """Pandas-UDF factory: distance (radians) from (lat,lng) points to a
    geodesic POLYLINE — the vectorized per-segment DistanceToEdge
    (edgeutil.go:77-106) folded with a running minimum over the route's
    segments. The route is captured in the closure (segments are
    dimension-sized), so only two double columns cross the Arrow channel.
    """
    import math

    def _xyz(lat, lng):
        return (
            math.cos(math.radians(lng)) * math.cos(math.radians(lat)),
            math.sin(math.radians(lng)) * math.cos(math.radians(lat)),
            math.sin(math.radians(lat)),
        )

    w = [_xyz(la, ln) for la, ln in waypoints]
    segs = list(zip(w[:-1], w[1:]))
    if not segs:
        raise ValueError("route needs at least 2 waypoints")

    @pandas_udf(DoubleType())
    def s2_route_distance(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernels import predicates as PR

        x, y, z = PJ.latlng_to_xyz(
            np.radians(lat.to_numpy(np.float64)),
            np.radians(lng.to_numpy(np.float64)),
        )
        pts = np.stack([x, y, z], axis=1)
        d = None
        for a, b in segs:
            di = PR.distance_to_edges(pts, a, b)
            d = di if d is None else np.minimum(d, di)
        return pd.Series(d)

    return s2_route_distance


def morton_encode(lat: Column, lng: Column, bits: int = 16) -> Column:
    """[SQL] Z-order (Morton) key over equirectangular-quantized lat/lng:
    x = floor((lng+180)/360 * 2^bits), y = floor((lat+90)/180 * 2^bits),
    key = interleave(x, y) — the space-filling-curve clustering key the
    lakehouse engines expose as OPTIMIZE ZORDER. The engine's native
    clustering is the Hilbert CellID (strictly better locality); Morton is
    provided because 100-TB tables written by OTHER systems are commonly
    Z-order-clustered and range queries against them need the same key
    arithmetic. Pure codegen bit ops (bounded unrolled interleave),
    DuckDB-mirrorable term for term."""
    n = F.lit(float(1 << bits))
    x = F.least(
        F.lit((1 << bits) - 1),
        F.floor((lng + F.lit(180.0)) / F.lit(360.0) * n),
    ).cast("long")
    y = F.least(
        F.lit((1 << bits) - 1),
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * n),
    ).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def gc_interpolate(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column, f: Column
) -> Column:
    """[SQL] Point at fraction ``f`` along the great circle from p1 to p2,
    as struct(lat, lng) in degrees — route densification / midpoint
    generalization (slerp on the unit sphere: the reference's
    EdgeInterpolate, edgeutil.go, re-expressed in lat/lng-native codegen).
    A = sin((1-f)θ)/sinθ, B = sin(fθ)/sinθ over the xyz embedding, with θ
    the haversine central angle; degenerate θ→0 falls back to p1. Pure
    per-row codegen, deterministic op order, DuckDB-mirrorable."""
    rlat1, rlng1 = F.radians(lat1), F.radians(lng1)
    rlat2, rlng2 = F.radians(lat2), F.radians(lng2)
    theta = haversine_rad(lat1, lng1, lat2, lng2)
    st = F.sin(theta)
    a = F.when(st > 1e-12, F.sin((F.lit(1.0) - f) * theta) / st).otherwise(
        F.lit(1.0) - f
    )
    b = F.when(st > 1e-12, F.sin(f * theta) / st).otherwise(f)
    x = a * F.cos(rlat1) * F.cos(rlng1) + b * F.cos(rlat2) * F.cos(rlng2)
    y = a * F.cos(rlat1) * F.sin(rlng1) + b * F.cos(rlat2) * F.sin(rlng2)
    z = a * F.sin(rlat1) + b * F.sin(rlat2)
    lat_o = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    lng_o = F.degrees(F.atan2(y, x))
    return F.struct(lat_o.alias("lat"), lng_o.alias("lng"))


def cross_track_rad(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column,
    lat3: Column, lng3: Column,
) -> Column:
    """[SQL] Signed cross-track distance (radians) of point 3 from the
    great circle through 1->2: asin(sin(d13) * sin(brg13 - brg12)) —
    positive = right of track. Composes the engine haversine
    (latlng.go:32-40) with the forward azimuth; native codegen,
    DuckDB-mirrorable (same float-op order). The reference exposes the
    xyz primitive (edgeutil.go DistanceFromSegment); this is the
    navigation-chart composition."""
    d13 = haversine_rad(lat1, lng1, lat3, lng3)
    b13 = initial_bearing_rad(lat1, lng1, lat3, lng3)
    b12 = initial_bearing_rad(lat1, lng1, lat2, lng2)
    return F.asin(
        F.least(
            F.lit(1.0),
            F.greatest(F.lit(-1.0), F.sin(d13) * F.sin(b13 - b12)),
        )
    )


def along_track_rad(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column,
    lat3: Column, lng3: Column,
) -> Column:
    """[SQL] Along-track distance (radians): how far along the 1->2 great
    circle the closest-point foot of point 3 sits from point 1 —
    acos(cos(d13)/cos(xt)), clamped. With cross_track_rad this is the
    full (cross, along) route-relative decomposition."""
    d13 = haversine_rad(lat1, lng1, lat3, lng3)
    xt = cross_track_rad(lat1, lng1, lat2, lng2, lat3, lng3)
    return F.acos(
        F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.cos(d13) / F.cos(xt)))
    )


# sessions whose widen_to_parallelism size gate has failed (and warned)
_WIDEN_GATE_WARNED: weakref.WeakSet = weakref.WeakSet()


def widen_to_parallelism(
    df, min_fraction: float = 0.5, min_bytes: int = 4 << 20
):
    """Round-robin repartition a DataFrame to the session's default
    parallelism when it arrives in fewer than ``min_fraction`` x that
    many partitions AND is estimated larger than ``min_bytes``.

    A single-row-group parquet file (common for mid-sized tables) is ONE
    scan partition no matter what ``maxPartitionBytes`` says — parquet
    cannot split below a row group — so every narrow operation before
    the first exchange (tokenize + explode, per-row trig, a broadcast
    join's stream side) runs on one core. The repartition costs one
    exchange of the slim input rows; callers apply it only where the
    pre-exchange work dominates (quadratic candidate generation, n-gram
    explosion), never blanket. Wide inputs pass through untouched, so an
    already-parallel 100-TB scan pays nothing — and TINY inputs (the
    size-estimate gate) also pass through, because below a few MB the
    exchange plus 32-task scheduling costs more than the single-core
    stage it parallelizes (measured: the same widen that wins 2x on a
    16MB corpus loses ~0.5s per query on the 1.6MB one). An unknown
    estimate counts as large, with one warning per session.
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= max(2, int(slots * min_fraction)):
            return df
    except Exception:
        return df
    try:
        est = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
        if est < min_bytes:
            return df
    except Exception as exc:  # unknown estimate counts as large: widen
        if df.sparkSession not in _WIDEN_GATE_WARNED:
            _WIDEN_GATE_WARNED.add(df.sparkSession)
            import logging

            logging.getLogger(__name__).warning(
                "widen_to_parallelism: no size estimate (%r), so inputs "
                "below %d bytes are widened too; warned once per session",
                exc, min_bytes,
            )
    return df.repartition(slots)
