"""Hexagonal binning over the Web-Mercator plane.

A pointy-top hexagonal grid (axial coordinates, cube rounding — the
H3-style aggregation cell, minus the icosahedral projection) expressed
as ONE whole-stage-codegen column expression: no UDF, no shuffle beyond
the final count aggregation. Hexagons are the preferred density-map bin
because every neighbor shares an identical border length and
center-to-center distance — square grids overweight diagonals.

Geometry: points project to the Web-Mercator plane (x = lng in radians,
y = ln(tan(lat) + sec(lat)), the same formulas as
``spark/webmercator.py``), then to fractional axial hex coordinates

    qf = (sqrt(3)/3 * x - y/3) / size        rf = (2/3 * y) / size

and cube rounding (round each of x=qf, y=-qf-rf, z=rf to the nearest
integer, then recompute the axis with the largest rounding error from
the other two so x+y+z == 0 stays exact) snaps to the containing hex.

Determinism: rounding is ``floor(v + 0.5)`` — IEEE-exact and
engine-identical (ROUND's half-rule is engine-defined); the tie-breaks
in the max-error comparison are strict ``>`` in a fixed order. The
DuckDB oracle replays the identical expression tree, so results are
value-checked bit-for-bit cross-engine.

Scale shape: pure per-row column algebra -> map-side-combined count per
(hq, hr). At 10^12 rows this is scan-bound; the only exchange is the
final aggregation on the (already low-cardinality) hex key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# sqrt(3)/3 to the double closest to the real value, inlined as the same
# literal in the SQL oracle so neither engine computes sqrt(3) itself
_SQRT3_OVER_3 = 0.5773502691896258


def _round_half_up(c: Column) -> Column:
    return F.floor(c + F.lit(0.5))


def hex_axial(lat_col: Column, lng_col: Column, size: float) -> tuple[Column, Column]:
    """(hq, hr) integer axial hex coordinates for a lat/lng point.

    ``size`` is the hex circumradius in Web-Mercator radians (x spans
    [-pi, pi], so size=0.2 gives ~31 columns across the equator).
    """
    x = F.radians(lng_col)
    y = F.log(F.tan(F.radians(lat_col)) + F.lit(1.0) / F.cos(F.radians(lat_col)))
    qf = (F.lit(_SQRT3_OVER_3) * x - y / F.lit(3.0)) / F.lit(size)
    rf = (F.lit(2.0) * y / F.lit(3.0)) / F.lit(size)
    # cube rounding: x + y + z == 0 must survive the per-axis rounding
    xf, zf = qf, rf
    yf = -qf - rf
    rx = _round_half_up(xf)
    ry = _round_half_up(yf)
    rz = _round_half_up(zf)
    dx = F.abs(rx - xf)
    dy = F.abs(ry - yf)
    dz = F.abs(rz - zf)
    hq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    hr = F.when((dx > dy) & (dx > dz), rz).when(dy > dz, rz).otherwise(-rx - ry)
    return hq.cast("long"), hr.cast("long")


def hexbin_counts(
    points: DataFrame,
    size: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Count points per hexagonal bin: (hq, hr, n)."""
    hq, hr = hex_axial(F.col(lat_col), F.col(lng_col), size)
    return (
        points.select(hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("n"))
    )


def hex_axial_sql(size: float, lat_expr: str = "lat", lng_expr: str = "lng") -> str:
    """DuckDB SELECT-fragment replaying ``hex_axial`` expression-for-
    expression: yields columns hq, hr. Keep in lockstep with the Column
    form above — the oracle harness compares values bit-for-bit."""
    x = f"radians({lng_expr})"
    y = f"ln(tan(radians({lat_expr})) + 1.0 / cos(radians({lat_expr})))"
    qf = f"(({_SQRT3_OVER_3!r} * {x} - ({y}) / 3.0) / {size!r})"
    rf = f"((2.0 * ({y}) / 3.0) / {size!r})"
    return f"""
        SELECT
          CAST(CASE WHEN abs(floor(({qf}) + 0.5) - ({qf}))
                         > abs(floor((-({qf}) - ({rf})) + 0.5) - (-({qf}) - ({rf})))
                    AND abs(floor(({qf}) + 0.5) - ({qf}))
                         > abs(floor(({rf}) + 0.5) - ({rf}))
               THEN -floor((-({qf}) - ({rf})) + 0.5) - floor(({rf}) + 0.5)
               ELSE floor(({qf}) + 0.5) END AS BIGINT) AS hq,
          CAST(CASE WHEN abs(floor(({qf}) + 0.5) - ({qf}))
                         > abs(floor((-({qf}) - ({rf})) + 0.5) - (-({qf}) - ({rf})))
                    AND abs(floor(({qf}) + 0.5) - ({qf}))
                         > abs(floor(({rf}) + 0.5) - ({rf}))
               THEN floor(({rf}) + 0.5)
               WHEN abs(floor((-({qf}) - ({rf})) + 0.5) - (-({qf}) - ({rf})))
                    > abs(floor(({rf}) + 0.5) - ({rf}))
               THEN floor(({rf}) + 0.5)
               ELSE -floor(({qf}) + 0.5)
                    - floor((-({qf}) - ({rf})) + 0.5) END AS BIGINT) AS hr
    """


_HEX_DIRS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def hex_kring_smooth(counts: DataFrame) -> DataFrame:
    """Focal (k=1 ring) mean smoothing over an occupied-hex count table
    (hq, hr, n) — the hex-grid density smoother (H3 kRing analogue; the
    axial neighbor topology is pure integer arithmetic, no projection
    wrap cases). Occupied-only semantics: the mean divides by the number
    of OCCUPIED cells in the ring, self included.

    Exactness: ring sums/counts are exact BIGINTs; the mean is one
    division. Scale shape: one bounded 7x explode + one co-partitioned
    equi-join + keyed agg — the same envelope as the S2 edge-neighbor
    statistics."""
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in [(0, 0), *_HEX_DIRS]
        ]
    )
    probe = counts.select(
        F.col("hq").alias("_hq"),
        F.col("hr").alias("_hr"),
        F.explode(offs).alias("_o"),
    ).select(
        "_hq",
        "_hr",
        (F.col("_hq") + F.col("_o.dq")).alias("_nq"),
        (F.col("_hr") + F.col("_o.dr")).alias("_nr"),
    )
    occ = counts.select(
        F.col("hq").alias("_nq"),
        F.col("hr").alias("_nr"),
        F.col("n").alias("_nn"),
    )
    ring = (
        probe.join(occ, ["_nq", "_nr"])
        .groupBy("_hq", "_hr")
        .agg(
            F.count("*").alias("ring_cells"),
            F.sum("_nn").alias("ring_sum"),
        )
    )
    return counts.join(
        ring,
        (counts["hq"] == ring["_hq"]) & (counts["hr"] == ring["_hr"]),
    ).select(
        "hq",
        "hr",
        "n",
        "ring_cells",
        "ring_sum",
        (
            F.col("ring_sum").cast("double")
            / F.col("ring_cells").cast("double")
        ).alias("smooth"),
    )


def hex_flow_directions(cells: DataFrame, elev_col: str = "elev") -> DataFrame:
    """Steepest-descent flow direction over a hex elevation field — the
    D8 hydrology kernel on the hex grid (D6): each occupied cell flows
    to its lowest STRICTLY-lower occupied axial neighbor; cells with no
    lower neighbor are sinks (local minima / basin seeds).

    Input: (hq, hr, elev_col) with integer elevations. Deterministic
    tie-break: lowest elevation first, then smallest direction index
    (directions 0-5 in axial order E, NE, NW, W, SW, SE). All
    comparisons are BIGINT — exact cross-engine.

    Output: (hq, hr, elev, flow_dir [-1 = sink], is_sink)."""
    probes = []
    for d, (dq, dr) in enumerate(_HEX_DIRS):
        probes.append(
            F.struct(
                F.lit(d).alias("d"),
                (F.col("hq") + F.lit(dq)).alias("nq"),
                (F.col("hr") + F.lit(dr)).alias("nr"),
            )
        )
    probe = cells.select(
        "hq", "hr", F.col(elev_col).alias("_e"),
        F.explode(F.array(*probes)).alias("_p"),
    ).select(
        "hq", "hr", "_e",
        F.col("_p.d").alias("_d"),
        F.col("_p.nq").alias("_nq"),
        F.col("_p.nr").alias("_nr"),
    )
    occ = cells.select(
        F.col("hq").alias("_nq"),
        F.col("hr").alias("_nr"),
        F.col(elev_col).alias("_ne"),
    )
    lower = probe.join(occ, ["_nq", "_nr"]).where(F.col("_ne") < F.col("_e"))
    best = lower.groupBy("hq", "hr").agg(
        F.min(F.struct(F.col("_ne").alias("e"), F.col("_d").alias("d"))).alias(
            "_best"
        )
    )
    return cells.join(best, ["hq", "hr"], "left").select(
        "hq",
        "hr",
        F.col(elev_col).alias("elev"),
        F.coalesce(F.col("_best.d"), F.lit(-1)).cast("int").alias("flow_dir"),
        F.col("_best").isNull().alias("is_sink"),
    )


def hex_flow_accumulation(
    cells: DataFrame,
    elev_col: str = "elev",
    max_steps: int = 16,
) -> DataFrame:
    """Flow accumulation over the D6 steepest-descent drainage graph —
    the second half of the hex hydrology kernel (after
    ``hex_flow_directions``): ``flow_acc(c)`` counts every cell whose
    descent path passes through ``c`` (itself included) — the upstream
    catchment size, the standard stream-extraction / drainage-density
    primitive.

    Distributed shape: token walking. Every cell starts one unit token
    at itself; each round, tokens sitting on non-sink cells advance one
    step along ``flow_dir`` and are RE-AGGREGATED per cell, so the
    moving frontier never exceeds the occupied-cell count regardless of
    catchment size (no per-origin fan-out, no transitive-closure row
    blowup). Accumulation is the sum of arrivals across rounds. Each
    round is ONE equi-join against the (hq, hr)-keyed next-cell table
    plus one map-side-combined sum — the same per-round scale shape as
    the BFS/CC operators.

    Paths strictly descend in elevation so they terminate at sinks;
    with ``max_steps`` >= the longest descent path the result is the
    exact fixpoint. The FIXED step cap keeps the computation statically
    unrollable so a step-capped recursive-CTE oracle replays it exactly
    (both engines cap at the same depth by construction). All counts
    are BIGINTs — exact cross-engine.

    Output: (hq, hr, elev, flow_dir, is_sink, flow_acc).
    """
    from ..pipeline.graph import (
        _broadcast_bounded,
        _checkpoint_any,
        _default_materialize,
    )

    mat = _default_materialize(cells.sparkSession)
    # flow feeds three consumers (the next-cell table, the initial token
    # frame, and the final join) — materialize it once or each one
    # re-runs the hexbin aggregation + D6 neighbor join upstream
    flow = mat(hex_flow_directions(cells, elev_col))
    dq = F.element_at(
        F.array(*[F.lit(d) for d, _ in _HEX_DIRS]), F.col("flow_dir") + 1
    )
    dr = F.element_at(
        F.array(*[F.lit(d) for _, d in _HEX_DIRS]), F.col("flow_dir") + 1
    )
    # the next-cell table is bounded by the OCCUPIED cell count; while
    # small it rides every round's join as a broadcast, so a round is one
    # map-side job (join + partial agg) instead of a shuffle join
    nxt = _broadcast_bounded(
        flow.where(~F.col("is_sink")).select(
            "hq",
            "hr",
            (F.col("hq") + dq).alias("_nq"),
            (F.col("hr") + dr).alias("_nr"),
        )
    )
    moving = flow.select("hq", "hr", F.lit(1).cast("long").alias("w"))
    arrivals = moving
    for _ in range(max_steps):
        # ONE job per round: the checkpoint fused with the emptiness test
        moving, moved = _checkpoint_any(
            moving.join(nxt, ["hq", "hr"])
            .groupBy(F.col("_nq").alias("hq"), F.col("_nr").alias("hr"))
            .agg(F.sum("w").alias("w"))
        )
        if not moved:
            break
        arrivals = arrivals.union(moving)
    acc = arrivals.groupBy("hq", "hr").agg(F.sum("w").alias("flow_acc"))
    return flow.join(acc, ["hq", "hr"]).select(
        "hq", "hr", "elev", "flow_dir", "is_sink", "flow_acc"
    )
