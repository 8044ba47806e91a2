"""Spatial point-pattern statistics over S2 cell grids.

Getis-Ord Gi* hotspot z-scores and Ripley's K function, expressed as
pure DataFrame plans over the engine's cell/distance primitives — the
standard exploratory statistics a geo analyst runs over a web-scale
point extraction (geoparsed pages, check-ins, events) before deciding
where to drill down.

Both operators are built from INTEGER sufficient statistics (counts and
count-sums) so their results are exactly reproducible cross-engine: the
only floating-point work is one fixed-order scalar expression at the
very end.

Reference parity: the cell grid and 4-neighbor topology are gos2's
(EdgeNeighbors, cellid.go:210-220); the distance kernel is the angle
distance atan2(|a x b|, a . b) (r3/vector.go:96-98) reused from
``joins.distance_join``.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .session import literal_frame


def getis_ord_gistar(
    counts: DataFrame,
    cell_col: str = "cell",
    count_col: str = "n",
) -> DataFrame:
    """Per-cell Getis-Ord Gi* z-score with binary self+4-edge-neighbor
    weights over the OCCUPIED cells of one S2 level.

    ``counts`` holds one row per occupied cell: (cell_col: biased int64
    cell id at a single level, count_col: integer attribute, e.g. point
    count). The statistic per cell i with weights w_ij = 1 for j in
    {i} union edge_neighbors(i) intersect occupied:

        Gi* = (S_i - xbar * W_i) / (s * sqrt((n*W_i - W_i^2) / (n - 1)))

    with S_i = sum_j w_ij x_j, W_i = sum_j w_ij, xbar = sum x / n,
    s = sqrt(sum x^2 / n - xbar^2). |Gi*| > ~2 flags hot/cold spots.

    Exactness: S_i, W_i, n, sum x, sum x^2 are all BIGINTs aggregated
    exactly; Gi* is one fixed-order double expression over them, so the
    result is bit-identical cross-engine (no float-sum-order exposure).

    Scale shape (10^9 occupied cells): one bounded 4x neighbor explode,
    one co-partitioned hash join + keyed agg, one broadcast of the 1-row
    global moment table. No driver traffic, no windows.
    """
    from .functions import s2_edge_neighbors

    nbr = counts.select(
        F.col(cell_col).alias("_ci"),
        F.explode(s2_edge_neighbors(F.col(cell_col))).alias("_cj"),
    )
    occ = counts.select(
        F.col(cell_col).alias("_cj"), F.col(count_col).alias("_xj")
    )
    nj = (
        nbr.join(occ, "_cj")
        .groupBy("_ci")
        .agg(
            F.count("*").alias("_w_nbrs"),
            F.sum("_xj").alias("_nbr_sum"),
        )
    )
    per = (
        counts.join(nj, counts[cell_col] == nj["_ci"], "left")
        .select(
            F.col(cell_col),
            F.col(count_col).cast("long").alias("x_count"),
            (F.coalesce(F.col("_w_nbrs"), F.lit(0)) + F.lit(1))
            .cast("long")
            .alias("w_i"),
            (
                F.coalesce(F.col("_nbr_sum"), F.lit(0))
                + F.col(count_col)
            )
            .cast("long")
            .alias("local_sum"),
        )
    )
    glob = counts.agg(
        F.count("*").alias("n_cells"),
        F.sum(count_col).alias("sx"),
        F.sum(F.col(count_col) * F.col(count_col)).alias("sxx"),
    )
    j = per.crossJoin(F.broadcast(glob))
    n_d = F.col("n_cells").cast("double")
    xb = F.col("sx").cast("double") / n_d
    s = F.sqrt(F.col("sxx").cast("double") / n_d - xb * xb)
    w_d = F.col("w_i").cast("double")
    gi = (F.col("local_sum").cast("double") - xb * w_d) / (
        s * F.sqrt((n_d * w_d - w_d * w_d) / (n_d - F.lit(1.0)))
    )
    return j.select(
        cell_col, "x_count", "w_i", "local_sum", gi.alias("gi_star")
    )


def ripley_k(
    points: DataFrame,
    radii_rad: Sequence[float],
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Ripley's K function of a spherical point pattern at the given
    angular radii: K(r) = A * #{ordered pairs with d <= r} / (n*(n-1))
    with A = 4*pi (whole-sphere study region, steradians). K(r) above
    the CSR expectation pi*r^2 indicates clustering at scale r.

    Pair counting runs through ``joins.distance_join`` at max(radii) —
    the cell-blocked within-radius join (3x3 neighborhood explode + hash
    equi-join + codegen exact filter), NEVER an all-pairs product — then
    one conditional aggregation buckets each surviving pair into every
    radius it satisfies. Pair counts are exact BIGINTs; K is one final
    double expression per radius.

    Output: (r_rad, n_points, n_pairs, k_hat, csr_pi_r2) ordered by r.
    """
    from .joins import distance_join

    rmax = max(radii_rad)
    pairs = distance_join(
        points,
        radius_deg=math.degrees(rmax),
        point_key=point_key,
        cell_col=cell_col,
    )
    n_df = points.agg(F.count("*").alias("n_points"))
    aggs = [
        F.sum(
            (F.col("dist_rad") <= F.lit(float(r))).cast("long")
        ).alias(f"_c{i}")
        for i, r in enumerate(radii_rad)
    ]
    cnt = pairs.agg(*aggs).crossJoin(F.broadcast(n_df))
    rows = None
    for i, r in enumerate(radii_rad):
        n_d = F.col("n_points").cast("double")
        # unordered pairs from the self-join -> ordered pair count is 2x
        k_hat = (
            F.lit(4.0 * math.pi)
            * (F.lit(2.0) * F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("double"))
            / (n_d * (n_d - F.lit(1.0)))
        )
        one = cnt.select(
            F.lit(float(r)).alias("r_rad"),
            F.col("n_points").cast("long").alias("n_points"),
            F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("long").alias("n_pairs"),
            k_hat.alias("k_hat"),
            (F.lit(math.pi) * F.lit(float(r)) * F.lit(float(r))).alias(
                "csr_pi_r2"
            ),
        )
        rows = one if rows is None else rows.union(one)
    return rows


def clark_evans(
    points: DataFrame,
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Clark-Evans nearest-neighbor index over a spherical point set.

    R = observed mean NN distance / expected mean NN distance under CSR
    (complete spatial randomness): R << 1 clustered, ~1 random, ~2.15
    maximally dispersed. The planar expectation 0.5 / sqrt(lambda) is
    used with lambda = n / 4pi (points per steradian) and distances in
    radians — the convention the oracle replays.

    Per-point NN distances come from the distributed kNN join
    (``joins.knn_join_df`` with k=2 against the set itself; self-matches
    drop and the min over the remaining candidates is exact for any
    geometry — rank 1 may be the self row at distance 0). Everything
    after is one global aggregation: no windows, no driver loops.

    Output: ONE row (n_points, mean_nn_rad, expected_rad, r_index).
    """
    from .joins import knn_join_df

    qs = points.select(
        F.col(point_key).alias("qid"),
        F.col("lat"),
        F.col("lng"),
        F.col(cell_col),
    )
    nn = knn_join_df(
        points, qs, k=2, point_key=point_key, query_key="qid",
        cell_col=cell_col,
    )
    d = (
        nn.where(F.col("qid") != F.col(point_key))
        .groupBy("qid")
        .agg(F.min("dist_rad").alias("nn_rad"))
    )
    agg = d.agg(
        F.count("*").alias("n_points"),
        F.sum("nn_rad").alias("_s"),
    )
    n_d = F.col("n_points").cast("double")
    mean_nn = F.col("_s") / n_d
    expected = F.lit(0.5) / F.sqrt(n_d / F.lit(4.0 * math.pi))
    return agg.select(
        F.col("n_points").cast("long").alias("n_points"),
        F.round(mean_nn, 9).alias("mean_nn_rad"),
        F.round(expected, 9).alias("expected_rad"),
        F.round(mean_nn / expected, 9).alias("r_index"),
    )


def k_anonymity_levels(
    points: DataFrame,
    k: int,
    levels: Sequence[int] = (4, 6, 8, 10, 12),
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Spatial k-anonymity generalization: the FINEST S2 level at which
    each point's ancestor cell still holds >= k points.

    The location-privacy primitive for publishing a point extraction:
    report each point at the finest cell that k-anonymizes it, or
    suppress (level -1) when even the coarsest candidate level fails.

    Plan: one explode of each point to its |levels| ancestor keys ->
    one map-side-combined (level, cell) count -> one hash join back on
    the exploded keys -> max(level meeting k) per point. Shuffle volume
    is |levels| * n rows of two longs; no per-level driver loop, no
    window over the raw points.

    Output: (level, n_points) histogram of chosen levels, level -1 =
    suppressed.
    """
    from .pages import s2_parent_sql

    lv = sorted(levels)
    anc = points.select(
        F.col(point_key).alias("key"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(l).alias("level"),
                    s2_parent_sql(F.col(cell_col), l).alias("cell"),
                )
                for l in lv
            ])
        ).alias("_a"),
    ).select("key", F.col("_a.level").alias("level"), F.col("_a.cell").alias("cell"))
    counts = anc.groupBy("level", "cell").agg(F.count("*").alias("_n"))
    ok = anc.join(counts, ["level", "cell"]).where(F.col("_n") >= k)
    per_point = ok.groupBy("key").agg(F.max("level").alias("chosen"))
    chosen = points.select(F.col(point_key).alias("key")).join(
        per_point, "key", "left"
    ).select(F.coalesce(F.col("chosen"), F.lit(-1)).alias("level"))
    return chosen.groupBy("level").agg(F.count("*").alias("n_points"))


def spatial_entropy(
    points: DataFrame,
    group_col: str,
    level: int = 4,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Per-group spatial Shannon entropy over level-``level`` S2 cells.

    For each group (host, event type, language...): H = -sum p_c ln p_c
    over its distribution across cells, plus exp(H) — the "effective
    number of locations" — and the raw cell count. H == 0 means the
    group is single-cell (geo-concentrated); ln(n_cells) means uniform.

    Exactness: per-(group, cell) and per-group totals are exact BIGINT
    counts; the entropy is one fixed-order double expression over them
    (sum of c*ln(c) then the algebraic rearrangement
    H = ln(N) - sum(c ln c)/N), so cross-engine values match to the ulp.

    Scale shape: two map-side-combined aggregations, both keyed by the
    group — no self-joins, no windows.
    """
    from .pages import s2_parent_sql

    g = points.select(
        F.col(group_col).alias("grp"),
        s2_parent_sql(F.col(cell_col), level).alias("cell"),
    )
    per_cell = g.groupBy("grp", "cell").agg(F.count("*").alias("c"))
    agg = per_cell.groupBy("grp").agg(
        F.count("*").alias("n_cells"),
        F.sum("c").alias("n_points"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "_clnc"
        ),
    )
    n_d = F.col("n_points").cast("double")
    h = F.log(n_d) - F.col("_clnc") / n_d
    return agg.select(
        F.col("grp"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_points").cast("long").alias("n_points"),
        F.round(h, 9).alias("entropy"),
        F.round(F.exp(h), 9).alias("effective_cells"),
    )


def kde_points(
    points: DataFrame,
    bandwidth_rad: float,
    cutoff_rad: float,
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Gaussian kernel density estimate AT each sample point.

    density(i) = sum_{j != i, d_ij <= cutoff} exp(-d_ij^2 / (2 h^2)) —
    the classic hotspot-intensity surface, evaluated at the points
    themselves (truncated kernel: the cutoff bounds the candidate join,
    and with cutoff >= 3h the dropped tail mass is < 1.2%).

    Plan: the cell-blocked within-radius self-join supplies exact pair
    distances (the reference's angle metric); one map-side-combined sum
    per point finishes it. Isolated points (no neighbor in range) get
    density 0 via the left join back to the point set.

    Exactness note: per-point neighbor sums are floating-point adds in
    shuffle order — callers compare cross-engine after rounding (the
    registered query rounds to 9 dp; per-point neighbor counts are small
    so accumulated order error is ~1e-15 relative).
    """
    from .joins import distance_join

    # distance_join takes its radius in degrees
    eps_deg = float(cutoff_rad) * 180.0 / math.pi
    pairs = distance_join(
        points, eps_deg, point_key=point_key, cell_col=cell_col
    )
    sym = pairs.select(
        F.col("key_a").alias("key"), F.col("dist_rad").alias("d")
    ).unionByName(
        pairs.select(F.col("key_b").alias("key"), F.col("dist_rad").alias("d"))
    )
    h2 = 2.0 * float(bandwidth_rad) * float(bandwidth_rad)
    dens = sym.groupBy("key").agg(
        F.count("*").alias("n_neighbors"),
        F.sum(F.exp(-(F.col("d") * F.col("d")) / F.lit(h2))).alias("_dens"),
    )
    return (
        points.select(F.col(point_key).alias("key"))
        .join(dens, "key", "left")
        .select(
            "key",
            F.coalesce(F.col("n_neighbors"), F.lit(0)).cast("long").alias(
                "n_neighbors"
            ),
            F.round(F.coalesce(F.col("_dens"), F.lit(0.0)), 9).alias("density"),
        )
    )


def local_moran(
    counts: DataFrame,
    cell_col: str = "cell",
    count_col: str = "n",
) -> DataFrame:
    """Anselin Local Moran's I (LISA) per occupied cell with binary
    4-edge-neighbor weights — the cluster/outlier classifier run after a
    global Moran's I flags autocorrelation.

        I_i = (x_i - xbar) * (S_i - W_i * xbar) / m2,
        m2  = sum x^2 / n - xbar^2   (population variance)

    with S_i = sum of neighbor counts, W_i = occupied-neighbor count.
    Quadrants label the (z_i, spatial lag) signs: HH/LL clusters,
    HL/LH outliers, NA for exact zeros.

    Exactness: x_i, S_i, W_i, n, Σx, Σx² are exact BIGINTs; I_i is ONE
    fixed-order double expression over them, so both engines agree
    bit-for-bit (no float-sum-order exposure). The neighbor topology is
    gos2's EdgeNeighbors (cellid.go:210-220) with cross-face wrap.

    Scale shape (10^9 occupied cells): one bounded 4x neighbor explode,
    one co-partitioned hash join + keyed agg, one 1-row global-moment
    broadcast. No windows, no driver traffic.
    """
    from .functions import s2_edge_neighbors

    nbr = counts.select(
        F.col(cell_col).alias("_ci"),
        F.explode(s2_edge_neighbors(F.col(cell_col))).alias("_cj"),
    )
    occ = counts.select(
        F.col(cell_col).alias("_cj"), F.col(count_col).alias("_xj")
    )
    nj = (
        nbr.join(occ, "_cj")
        .groupBy("_ci")
        .agg(
            F.count("*").alias("_w_nbrs"),
            F.sum("_xj").alias("_nbr_sum"),
        )
    )
    glob = counts.agg(
        F.count("*").alias("_n_cells"),
        F.sum(count_col).alias("_sx"),
        F.sum(F.col(count_col) * F.col(count_col)).alias("_sxx"),
    )
    per = (
        counts.join(nj, counts[cell_col] == nj["_ci"], "left")
        .select(
            F.col(cell_col),
            F.col(count_col).cast("long").alias("x_count"),
            F.coalesce(F.col("_w_nbrs"), F.lit(0)).cast("long").alias("w_i"),
            F.coalesce(F.col("_nbr_sum"), F.lit(0)).cast("long").alias(
                "nbr_sum"
            ),
        )
        .crossJoin(F.broadcast(glob))
    )
    xb = F.col("_sx").cast("double") / F.col("_n_cells").cast("double")
    m2 = (
        F.col("_sxx").cast("double") / F.col("_n_cells").cast("double")
        - xb * xb
    )
    z = F.col("x_count").cast("double") - xb
    lag = F.col("nbr_sum").cast("double") - F.col("w_i").cast("double") * xb
    li = z * lag / m2
    quad = (
        F.when((z > 0.0) & (lag > 0.0), F.lit("HH"))
        .when((z < 0.0) & (lag < 0.0), F.lit("LL"))
        .when((z > 0.0) & (lag < 0.0), F.lit("HL"))
        .when((z < 0.0) & (lag > 0.0), F.lit("LH"))
        .otherwise(F.lit("NA"))
    )
    return per.select(
        F.col(cell_col),
        "x_count",
        "w_i",
        "nbr_sum",
        li.alias("local_i"),
        quad.alias("quadrant"),
    )


def std_dev_ellipse(
    points: DataFrame,
    group_col: str,
    ilat_col: str = "ilat",
    ilng_col: str = "ilng",
    lat_den: int = 1,
    lng_den: int = 1,
) -> DataFrame:
    """Standard deviational ellipse per group — the classic directional-
    distribution summary (mean center, major/minor axis, orientation) a
    geo analyst draws over each event type's point cloud.

    Input coordinates are INTEGER-scaled (ilat = lat * lat_den exactly
    representable as BIGINT) so every sufficient statistic — n, Σa, Σb,
    Σa², Σb², Σab — aggregates exactly; the eigen-decomposition of the
    2x2 covariance is ONE fixed-order closed-form double expression:

        vx, vy, cxy = central second moments / n   (x = lng, y = lat)
        common  = sqrt(((vx - vy) / 2)^2 + cxy^2)
        sigma1² = (vx + vy) / 2 + common   (major),  sigma2² = ... - common
        theta   = atan2(2 cxy, vx - vy) / 2   (principal axis, radians)

    Axis lengths follow the SDE convention axis = sqrt(2 * lambda).
    Cross-engine exposure is sqrt/atan2 on identical doubles — exact.

    Scale shape: ONE map-side-combined groupBy on integer columns, then a
    scalar projection. No joins, no windows, no shuffle beyond the agg.
    """
    a = F.col(ilat_col).cast("long")
    b = F.col(ilng_col).cast("long")
    agg = points.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(a).alias("sa"),
        F.sum(b).alias("sb"),
        F.sum(a * a).alias("saa"),
        F.sum(b * b).alias("sbb"),
        F.sum(a * b).alias("sab"),
    )
    nd = F.col("n").cast("double")
    la, lb = float(lat_den), float(lng_den)
    # central second moments per n, in degrees^2 (x = lng, y = lat)
    vx = (
        (F.col("sbb").cast("double") - F.col("sb").cast("double")
         * F.col("sb").cast("double") / nd) / nd / F.lit(lb * lb)
    )
    vy = (
        (F.col("saa").cast("double") - F.col("sa").cast("double")
         * F.col("sa").cast("double") / nd) / nd / F.lit(la * la)
    )
    cxy = (
        (F.col("sab").cast("double") - F.col("sa").cast("double")
         * F.col("sb").cast("double") / nd) / nd / F.lit(la * lb)
    )
    common = F.sqrt(
        ((vx - vy) * 0.5) * ((vx - vy) * 0.5) + cxy * cxy
    )
    l1 = (vx + vy) * 0.5 + common
    l2 = (vx + vy) * 0.5 - common
    theta = F.atan2(2.0 * cxy, vx - vy) * 0.5
    return agg.select(
        F.col(group_col),
        F.col("n").cast("long").alias("n"),
        (F.col("sb").cast("double") / nd / F.lit(lb)).alias("mean_lng"),
        (F.col("sa").cast("double") / nd / F.lit(la)).alias("mean_lat"),
        F.sqrt(2.0 * l1).alias("axis_major"),
        F.sqrt(2.0 * F.greatest(F.lit(0.0), l2)).alias("axis_minor"),
        theta.alias("theta_rad"),
    )


def mann_kendall(
    series: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    min_len: int = 10,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per key over an ordered series —
    the per-cell trend scorer behind 'emerging hot spot' analysis
    (score every tile's daily count series, flag rising/falling tiles).

        S    = sum_{i<j} sign(x_j - x_i)
        VarS = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18   (tie-corrected)
        z    = (S -+ 1) / sqrt(VarS)   (continuity-corrected, 0 if S = 0)

    Exactness: S, n, and the tie term are exact BIGINTs (sign() of an
    integer difference); z is one fixed-order double expression. Both
    engines agree bit-for-bit.

    Scale shape: series length per key is bounded (days in the window),
    so the in-key pair join is O(len^2) per key with keys distributed —
    a co-partitioned self-join + keyed agg, no windows, no driver
    traffic. Keys shorter than ``min_len`` are dropped BEFORE the pair
    join (semi-join pushdown) so sparse keys never pay the quadratic.
    """
    s = series.select(
        F.col(key_col).alias("_k"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("long").alias("_x"),
    )
    lens = s.groupBy("_k").agg(F.count("*").alias("n_obs")).where(
        F.col("n_obs") >= int(min_len)
    )
    s = s.join(F.broadcast(lens.select("_k")), "_k")
    a = s.select(
        F.col("_k"), F.col("_o").alias("_oa"), F.col("_x").alias("_xa")
    )
    b = s.select(
        F.col("_k"), F.col("_o").alias("_ob"), F.col("_x").alias("_xb")
    )
    pairs = a.join(b, "_k").where(F.col("_oa") < F.col("_ob"))
    s_stat = pairs.groupBy("_k").agg(
        F.sum(
            F.signum((F.col("_xb") - F.col("_xa")).cast("double"))
            .cast("long")
        ).alias("s_stat")
    )
    tn = F.col("_tc").cast("long")
    ties = (
        s.groupBy("_k", "_x")
        .agg(F.count("*").alias("_tc"))
        .groupBy("_k")
        .agg(
            F.sum(tn * (tn - 1) * (2 * tn + 5)).alias("tie_term")
        )
    )
    n = F.col("n_obs").cast("long")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast("double")
        / 18.0
    )
    sd = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    trend = (
        F.when(z > 1.959963984540054, F.lit("increasing"))
        .when(z < -1.959963984540054, F.lit("decreasing"))
        .otherwise(F.lit("none"))
    )
    return (
        lens.join(s_stat, "_k")
        .join(ties, "_k")
        .select(
            F.col("_k").alias(key_col),
            F.col("n_obs"),
            F.col("s_stat"),
            F.col("tie_term"),
            var_s.alias("var_s"),
            z.alias("mk_z"),
            trend.alias("trend"),
        )
    )


def circular_fold(bearings) -> tuple:
    """(C, S) resultant-vector components of an ORDERED array<double> of
    angles via one sequential left fold (init [0,0] — 0.0 + x == x in
    IEEE, so the association equals DuckDB's list_reduce over the same
    ordered list: bit-identical cross-engine). Returns (C, S) Columns;
    callers derive mean direction atan2(S, C), mean resultant length
    sqrt(C^2+S^2)/n, and circular variance 1 - Rbar.

    Scale shape: the fold runs inside codegen per key after ONE keyed
    collect — the same monster-key caveat as the EWMA fold applies
    (bearing counts per key are bounded by per-user leg counts)."""
    st = F.aggregate(
        bearings,
        F.array(F.lit(0.0), F.lit(0.0)),
        lambda acc, b: F.array(
            F.element_at(acc, 1) + F.cos(b),
            F.element_at(acc, 2) + F.sin(b),
        ),
    )
    return F.element_at(st, 1), F.element_at(st, 2)


def quadrat_vmr(
    points: DataFrame,
    size: float = 0.5,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Quadrat-count variance/mean ratio — the classic complete-spatial-
    randomness (CSR) screen: bin points into hex quadrats, then compare
    the count variance across ALL quadrats of the study region (empty
    ones included — dropping them biases VMR low) to the mean. Under
    CSR counts are Poisson and VMR ~ 1; VMR >> 1 = clustered,
    VMR << 1 = dispersed/regular.

    Study region: the axial bounding parallelogram of the occupied hex
    cells (deterministic integer bounds — no float geometry), so the
    total quadrat count Q = (qmax-qmin+1)·(rmax-rmin+1) is exact.

    Everything reduces to BIGINT sufficient statistics in TWO
    aggregations (per-cell counts, then corpus totals + integer bounds):

        mean = n/Q,  var = (sum_x2 - n^2/Q)/Q   (population form)
        VMR  = var/mean = (Q·sum_x2 - n^2) / (Q·n)     — exact integers
        index of dispersion chi^2 = (Q-1)·VMR · n/(n-1)... reported as
        the standard chi2 = sum((x-mean)^2)/mean = (Q·sum_x2 - n^2)/n,
        exact integer numerator, one final division each.

    Output: one row (q_cells, occupied, n_points, sum_x2, vmr, chi2).
    """
    from .hexgrid import hex_axial

    hq, hr = hex_axial(F.col(lat_col), F.col(lng_col), size)
    cells = points.select(hq.alias("hq"), hr.alias("hr")).groupBy(
        "hq", "hr"
    ).agg(F.count("*").alias("x"))
    agg = cells.agg(
        F.count("*").alias("occupied"),
        F.sum("x").alias("n_points"),
        F.sum(F.col("x") * F.col("x")).alias("sum_x2"),
        F.min("hq").alias("qmin"),
        F.max("hq").alias("qmax"),
        F.min("hr").alias("rmin"),
        F.max("hr").alias("rmax"),
    )
    q_cells = (F.col("qmax") - F.col("qmin") + 1) * (
        F.col("rmax") - F.col("rmin") + 1
    )
    n = F.col("n_points")
    vmr = (q_cells * F.col("sum_x2") - n * n).cast("double") / (
        q_cells * n
    ).cast("double")
    chi2 = (q_cells * F.col("sum_x2") - n * n).cast("double") / n.cast(
        "double"
    )
    return agg.select(
        q_cells.cast("long").alias("q_cells"),
        "occupied",
        "n_points",
        "sum_x2",
        F.round(vmr, 9).alias("vmr"),
        F.round(chi2, 9).alias("chi2"),
    )


def huff_market_share(
    points: DataFrame,
    attractions: list[tuple[int, float, float, float]],
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Huff gravity model of spatial choice: each point patronizes the
    literal attraction set (site_id, lat, lng, attractiveness S) with

        p_j = (S_j / (d_j^2 + eps)) / Σ_k (S_k / (d_k^2 + eps))

    (d = great-circle angle via the engine haversine, eps = 1e-6 guards
    the on-site singularity) — the classic retail-catchment / facility
    market-share estimator. Per-attraction rollup: expected demand
    (Σ p_j over points) and the hard-assignment capture count (argmax
    with deterministic smallest-index tie-break).

    Determinism: the attraction list is FIXED and ORDERED, so both the
    p_j denominator (one fixed-order sum over k) and the argmax ladder
    are single deterministic float expressions; each p_j snaps to the
    1e-9 integer grid BEFORE the per-attraction sum, making demand an
    exact BIGINT (the BM25 trick). Zero shuffles before the final
    J-row aggregation.
    """
    from .functions import haversine_rad

    eps = F.lit(1e-6)
    util = []
    for (_sid, alat, alng, s) in attractions:
        d = haversine_rad(
            F.col(lat_col), F.col(lng_col), F.lit(alat), F.lit(alng)
        )
        util.append(F.lit(float(s)) / (d * d + eps))
    denom = util[0]
    for u in util[1:]:
        denom = denom + u
    # argmax with smallest-index tie-break: strict > ladder
    best = F.lit(0)
    best_u = util[0]
    for j, u in enumerate(util[1:], start=1):
        is_better = u > best_u
        best = F.when(is_better, F.lit(j)).otherwise(best)
        best_u = F.when(is_better, u).otherwise(best_u)
    cols = [
        F.round(u / denom * 1e9, 0).cast("long").alias(f"_p{j}")
        for j, u in enumerate(util)
    ]
    proj = points.select(*cols, best.alias("_best"))
    agg = proj.agg(
        F.count("*").alias("n_points"),
        *[F.sum(f"_p{j}").alias(f"_d{j}") for j in range(len(attractions))],
        *[
            F.sum(F.when(F.col("_best") == j, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{j}")
            for j in range(len(attractions))
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(int(sid)).alias("site_id"),
                F.col(f"_d{j}").alias("demand_e9"),
                F.col(f"_c{j}").alias("captured"),
                F.col("n_points").alias("n_points"),
            )
            for j, (sid, *_rest) in enumerate(attractions)
        ]
    )
    out = agg.select(F.explode(rows).alias("r")).select(
        F.col("r.site_id").alias("site_id"),
        F.col("r.demand_e9").alias("demand_e9"),
        F.col("r.captured").alias("captured"),
        F.round(
            F.col("r.demand_e9").cast("double") / 1e9
            / F.col("r.n_points").cast("double"),
            9,
        ).alias("share"),
    )
    return out


def theil_index(
    values: DataFrame,
    group_cols: list[str],
    value_col: str = "x",
    order_col: str = "k",
) -> DataFrame:
    """Theil T inequality index per group over positive quantities —
    'how unevenly is activity distributed across spatial units':

        T = (1/Q) Σ_i (x_i/μ) ln(x_i/μ),   μ = n/Q

    0 = perfectly even, ln(Q) = all mass in one unit. The sufficient
    statistics (Q, n) are exact BIGINTs; the float log-sum is an
    ORDERED fold over the ``order_col``-sorted value list (sort_array +
    sequential F.aggregate — the EWMA/entropy determinism pattern), so
    the summation order is pinned and both engines produce bit-identical
    doubles. One group-keyed shuffle.
    """
    agg = values.groupBy(*group_cols).agg(
        F.count("*").alias("q_units"),
        F.sum(value_col).alias("n_total"),
        F.sort_array(
            F.collect_list(F.struct(F.col(order_col), F.col(value_col)))
        ).alias("_xs"),
    )
    mu = F.col("n_total").cast("double") / F.col("q_units").cast("double")
    fold = F.aggregate(
        F.col("_xs"),
        F.lit(0.0),
        lambda acc, s: acc
        + (s[value_col].cast("double") / F.col("n_total").cast("double"))
        * F.log(s[value_col].cast("double") / mu),
    )
    return agg.select(
        *group_cols,
        "q_units",
        "n_total",
        F.round(fold, 9).alias("theil_t"),
    )


def semivariogram(
    points: DataFrame,
    max_radius_deg: float,
    n_bins: int,
    value_col: str = "z",
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Empirical semivariogram of a spatially sampled quantity — step 1
    of kriging and the standard 'how far does spatial correlation reach'
    diagnostic:

        gamma(h) = (1 / 2|N(h)|) * sum over pairs in bin h of (z_i - z_j)^2

    over distance bins of width max_radius/n_bins (pairs beyond the max
    radius are not enumerated at all).

    Plan: pair enumeration is the engine's cell-blocked within-radius
    self-join (``joins.distance_join`` — MinWidth blocking level + 3x3
    neighborhood explode + exact atan2 refine, never all-pairs); the two
    sample values attach to the surviving pairs only (two hash joins on
    the point key); the binned aggregation is one group-by over at most
    ``n_bins`` groups. With an INTEGER ``value_col`` the squared-diff
    sums are exact BIGINTs, so gamma is a single final division —
    exactly reproducible cross-engine.

    Output: (bin_idx, h_lo_rad, h_hi_rad, n_pairs, ssd, gamma) ordered
    by bin.
    """
    from .joins import distance_join

    binw = math.radians(max_radius_deg) / float(n_bins)
    pairs = distance_join(
        points, radius_deg=max_radius_deg, point_key=point_key,
        cell_col=cell_col,
    )
    zs = points.select(
        F.col(point_key).alias("_zk"), F.col(value_col).alias("_zv")
    )
    pz = pairs.join(
        zs.select(F.col("_zk").alias("key_a"), F.col("_zv").alias("_za")),
        "key_a",
    ).join(
        zs.select(F.col("_zk").alias("key_b"), F.col("_zv").alias("_zb")),
        "key_b",
    )
    bin_idx = F.least(
        F.floor(F.col("dist_rad") / F.lit(binw)).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    dz = F.col("_za").cast("long") - F.col("_zb").cast("long")
    agg = (
        pz.select(bin_idx.alias("bin_idx"), (dz * dz).alias("_d2"))
        .groupBy("bin_idx")
        .agg(F.count("*").alias("n_pairs"), F.sum("_d2").alias("ssd"))
    )
    return agg.select(
        "bin_idx",
        (F.col("bin_idx").cast("double") * F.lit(binw)).alias("h_lo_rad"),
        ((F.col("bin_idx").cast("double") + F.lit(1.0)) * F.lit(binw)).alias(
            "h_hi_rad"
        ),
        "n_pairs",
        "ssd",
        F.round(
            F.col("ssd").cast("double")
            / (F.lit(2.0) * F.col("n_pairs").cast("double")),
            9,
        ).alias("gamma"),
    )


def nn_gfunction(
    points: DataFrame,
    radii_deg: Sequence[float],
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Nearest-neighbor distance distribution function G(r) — the CDF
    companion of Clark-Evans: the fraction of points whose nearest
    neighbor lies within angular radius r, evaluated at the given radii.
    G rising faster than the CSR expectation 1 - exp(-lambda*pi*r^2)
    means clustering at that scale.

    Per-point NN distances come from the distributed kNN join
    (``joins.knn_join_df`` k=2 against the set itself; the self-match
    drops and the min over remaining candidates is the exact NN). One
    conditional aggregation then buckets every point into each radius it
    satisfies — counts are exact BIGINTs, fractions one division each.

    Output: (r_deg, n_points, n_within, g_hat, g_csr) ordered by r.
    """
    from .joins import knn_join_df

    qs = points.select(
        F.col(point_key).alias("qid"), "lat", "lng", F.col(cell_col)
    )
    nn = knn_join_df(
        points, qs, k=2, point_key=point_key, query_key="qid",
        cell_col=cell_col,
    )
    d = (
        nn.where(F.col("qid") != F.col(point_key))
        .groupBy("qid")
        .agg(F.min("dist_rad").alias("nn_rad"))
    )
    aggs = [F.count("*").alias("n_points")] + [
        F.sum(
            (F.col("nn_rad") <= F.lit(math.radians(r))).cast("long")
        ).alias(f"_c{i}")
        for i, r in enumerate(radii_deg)
    ]
    cnt = d.agg(*aggs)
    lam = F.col("n_points").cast("double") / F.lit(4.0 * math.pi)
    rows = None
    for i, r in enumerate(radii_deg):
        rr = math.radians(r)
        one = cnt.select(
            F.lit(float(r)).alias("r_deg"),
            F.col("n_points").cast("long").alias("n_points"),
            F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("long").alias(
                "n_within"
            ),
            F.round(
                F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("double")
                / F.col("n_points").cast("double"),
                9,
            ).alias("g_hat"),
            F.round(
                F.lit(1.0)
                - F.exp(-lam * F.lit(math.pi) * F.lit(rr) * F.lit(rr)),
                9,
            ).alias("g_csr"),
        )
        rows = one if rows is None else rows.union(one)
    return rows


def cross_k(
    points_a: DataFrame,
    points_b: DataFrame,
    radii_rad: Sequence[float],
    point_key: str = "key",
    b_key: str | None = None,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Bivariate (cross) Ripley K function between two spherical point
    patterns at the given angular radii:

        K_ab(r) = A * #{(a, b) pairs with d <= r} / (n_a * n_b),
        A = 4*pi (whole-sphere study region, steradians).

    K_ab above the independence expectation pi*r^2 means pattern B
    clusters AROUND pattern A at scale r (attraction — e.g. error
    events around purchase venues); below means repulsion. The
    univariate ``ripley_k`` is the special case A = B.

    Pair counting runs through the engine's cell-blocked within-radius
    A-to-B join at max(radii) (never all-pairs); one conditional
    aggregation buckets each surviving pair into every radius it
    satisfies. Counts are exact BIGINTs; K is one final double
    expression per radius.

    Output: (r_rad, n_a, n_b, n_pairs, k_hat, indep_pi_r2) ordered by r.
    """
    from .joins import distance_join

    rmax = max(radii_rad)
    pairs = distance_join(
        points_a,
        radius_deg=math.degrees(rmax),
        points_b=points_b,
        point_key=point_key,
        b_key=b_key,
        cell_col=cell_col,
    )
    na_df = points_a.agg(F.count("*").alias("n_a"))
    nb_df = points_b.agg(F.count("*").alias("n_b"))
    aggs = [
        F.sum(
            (F.col("dist_rad") <= F.lit(float(r))).cast("long")
        ).alias(f"_c{i}")
        for i, r in enumerate(radii_rad)
    ]
    cnt = (
        pairs.agg(*aggs)
        .crossJoin(F.broadcast(na_df))
        .crossJoin(F.broadcast(nb_df))
    )
    rows = None
    for i, r in enumerate(radii_rad):
        k_hat = (
            F.lit(4.0 * math.pi)
            * F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        one = cnt.select(
            F.lit(float(r)).alias("r_rad"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("long").alias(
                "n_pairs"
            ),
            F.round(k_hat, 9).alias("k_hat"),
            (F.lit(math.pi) * F.lit(float(r)) * F.lit(float(r))).alias(
                "indep_pi_r2"
            ),
        )
        rows = one if rows is None else rows.union(one)
    return rows


def pair_correlation(
    points: DataFrame,
    max_radius_deg: float,
    n_bins: int,
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """O-ring / pair-correlation function: the non-cumulative companion of
    Ripley's K — pair counts per distance ANNULUS, normalized by the CSR
    expectation for that ring, so g(r) > 1 reads "clustered at this
    scale" and g(r) < 1 "inhibited", scale by scale.

        g(h) = (|pairs in ring h| / (n(n-1)/2)) / ((cos h_lo - cos h_hi)/2)

    (the denominator is the exact fraction of the sphere's area in the
    ring — spherical-cap algebra, no flat-earth approximation).

    Plan: pair enumeration is the engine's cell-blocked within-radius
    self-join (``joins.distance_join`` — never all-pairs), ring counts
    are one group-by over at most ``n_bins`` groups, and the total count
    joins via ONE broadcast scalar. Ring counts are exact BIGINTs; g is
    a fixed-order double expression.

    Output: (bin_idx, h_lo_rad, h_hi_rad, n_pairs, g) ordered by bin.
    """
    from .joins import distance_join

    binw = math.radians(max_radius_deg) / float(n_bins)
    pairs = distance_join(
        points, radius_deg=max_radius_deg, point_key=point_key,
        cell_col=cell_col,
    )
    bin_idx = F.least(
        F.floor(F.col("dist_rad") / F.lit(binw)).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    binned = (
        pairs.select(bin_idx.alias("bin_idx"))
        .groupBy("bin_idx")
        .agg(F.count("*").alias("n_pairs"))
    )
    total = points.agg(F.count("*").alias("_n"))
    lo = F.col("bin_idx").cast("double") * F.lit(binw)
    hi = (F.col("bin_idx").cast("double") + F.lit(1.0)) * F.lit(binw)
    nd = F.col("_n").cast("double")
    pair_frac = F.col("n_pairs").cast("double") / (nd * (nd - 1.0) / 2.0)
    ring_frac = (F.cos(lo) - F.cos(hi)) / 2.0
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            "bin_idx",
            lo.alias("h_lo_rad"),
            hi.alias("h_hi_rad"),
            "n_pairs",
            F.round(pair_frac / ring_frac, 9).alias("g"),
        )
        .orderBy("bin_idx")
    )


def group_diameter(
    points: DataFrame,
    group_col: str,
    point_key: str = "key",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Per-group point-set diameter: the maximum pairwise great-circle
    distance inside each group, with the achieving pair identified —
    "how spread out is this nation's footprint, and between which two
    points".

    Plan: xyz once per point, then a group-keyed self-join with
    ``key_a < key_b`` canonicalization and ONE max-struct aggregation.
    Cost is quadratic IN THE GROUP — bounded by the largest group size,
    never all-pairs across groups; for planet-scale groups prefilter to
    the convex hull first (``spark/hull.py::convex_hull_vertices``
    shrinks candidates to the boundary; chart-hull/great-circle
    disagreement makes that a heuristic, which is why the exact form
    here enumerates the group). The arg-max pair is selected through
    the struct ordering (dist, key_a, key_b) — distances are identical
    doubles cross-engine (same op order), so ties break to the largest
    key pair deterministically.

    Output: (group, n_points, key_a, key_b, diameter_rad).
    """
    v = points.select(
        F.col(group_col).alias("_g"),
        F.col(point_key).alias("_id"),
        (F.cos(F.radians(lng_col)) * F.cos(F.radians(lat_col))).alias("_x"),
        (F.sin(F.radians(lng_col)) * F.cos(F.radians(lat_col))).alias("_y"),
        F.sin(F.radians(lat_col)).alias("_z"),
    )
    a = v.select(
        F.col("_g"),
        F.col("_id").alias("_ia"),
        F.col("_x").alias("_ax"),
        F.col("_y").alias("_ay"),
        F.col("_z").alias("_az"),
    )
    b = v.select(
        F.col("_g"),
        F.col("_id").alias("_ib"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
        F.col("_z").alias("_bz"),
    )
    cx = F.col("_ay") * F.col("_bz") - F.col("_az") * F.col("_by")
    cy = F.col("_az") * F.col("_bx") - F.col("_ax") * F.col("_bz")
    cz = F.col("_ax") * F.col("_by") - F.col("_ay") * F.col("_bx")
    dot = (
        F.col("_ax") * F.col("_bx")
        + F.col("_ay") * F.col("_by")
        + F.col("_az") * F.col("_bz")
    )
    d = F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot)
    pairs = a.join(b, "_g").where(F.col("_ia") < F.col("_ib"))
    top = pairs.groupBy("_g").agg(
        F.max(
            F.struct(
                d.alias("_d"), F.col("_ia").alias("_a"), F.col("_ib").alias("_b")
            )
        ).alias("_m")
    )
    counts = v.groupBy("_g").agg(F.count("*").alias("n_points"))
    return counts.join(top, "_g", "left").select(
        F.col("_g").alias(group_col),
        "n_points",
        F.col("_m._a").alias("key_a"),
        F.col("_m._b").alias("key_b"),
        F.round(F.col("_m._d"), 9).alias("diameter_rad"),
    )


def empty_space_fj(
    points: DataFrame,
    test_points: Sequence[tuple],
    radii_deg: Sequence[float],
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Empty-space function F(r) and J-function J(r) = (1-G)/(1-F) —
    the companions of ``nn_gfunction`` that complete the classical
    distance-based point-pattern triple (G, F, J). F is the CDF of the
    distance from REFERENCE locations (a deterministic test grid, passed
    as a fixed (tid, lat, lng) list) to the nearest event; J > 1
    indicates regularity, J < 1 clustering, J = 1 CSR — without needing
    the intensity estimate either CDF alone needs.

    Plan split by cardinality: the test grid is a FIXED handful of
    reference locations, so its k=1 pass is the broadcast-brute design —
    broadcast the grid, ONE codegen pass over the events computing all
    |grid| distances per event, map-side-combined min per grid id. At
    any event scale that is |grid| multiply-adds per event with zero
    shuffle beyond a |grid|-key aggregate — cheaper and flatter than any
    multi-round kNN for a reference set this small. The event set's k=2
    self-pass stays on the distributed ``knn_join_df``. Counts are exact
    BIGINTs; each published fraction is one pinned division, and J is
    NULL where F = 1 (denominator vanishes).

    Output: (r_deg, n_test, n_points, f_hat, g_hat, j_hat) ordered by r.
    """
    from .joins import knn_join_df

    spark = points.sparkSession
    grid = literal_frame(
        spark,
        [(int(t), float(la), float(lo)) for t, la, lo in test_points],
        "tid long, glat double, glng double",
    ).select(
        "tid",
        (F.cos(F.radians("glng")) * F.cos(F.radians("glat"))).alias("gx"),
        (F.sin(F.radians("glng")) * F.cos(F.radians("glat"))).alias("gy"),
        F.sin(F.radians("glat")).alias("gz"),
    )
    ev = points.select(
        (F.cos(F.radians("lng")) * F.cos(F.radians("lat"))).alias("px"),
        (F.sin(F.radians("lng")) * F.cos(F.radians("lat"))).alias("py"),
        F.sin(F.radians("lat")).alias("pz"),
    )
    cx = F.col("gy") * F.col("pz") - F.col("gz") * F.col("py")
    cy = F.col("gz") * F.col("px") - F.col("gx") * F.col("pz")
    cz = F.col("gx") * F.col("py") - F.col("gy") * F.col("px")
    dot = (
        F.col("gx") * F.col("px") + F.col("gy") * F.col("py")
        + F.col("gz") * F.col("pz")
    )
    fd = (
        ev.crossJoin(F.broadcast(grid))  # fixed |grid|-row broadcast side
        .select(
            "tid",
            F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot).alias("d"),
        )
        .groupBy("tid")
        .agg(F.min("d").alias("nn_rad"))
    )
    qs = points.select(
        F.col(point_key).alias("__q"), "lat", "lng", F.col(cell_col)
    )
    gnn = knn_join_df(
        points, qs, k=2, point_key=point_key, query_key="__q",
        cell_col=cell_col,
    )
    gd = (
        gnn.where(F.col("__q") != F.col(point_key))
        .groupBy("__q")
        .agg(F.min("dist_rad").alias("nn_rad"))
    )

    def _cdf_counts(d: DataFrame, n_name: str, prefix: str) -> DataFrame:
        aggs = [F.count("*").alias(n_name)] + [
            F.sum(
                (F.col("nn_rad") <= F.lit(math.radians(r))).cast("long")
            ).alias(f"{prefix}{i}")
            for i, r in enumerate(radii_deg)
        ]
        return d.agg(*aggs)

    fc = _cdf_counts(fd, "n_test", "_f")
    gc = _cdf_counts(gd, "n_points", "_g")
    both = fc.crossJoin(F.broadcast(gc))  # two 1-row aggregates
    # ONE posexplode instead of a per-radius union: a union would
    # re-evaluate both kNN passes once per radius
    k = len(radii_deg)
    exploded = both.select(
        "*",
        F.posexplode(
            F.array(*[F.lit(float(r)) for r in radii_deg])
        ).alias("_i", "r_deg"),
    )
    fcnt = F.coalesce(
        F.element_at(
            F.array(*[F.col(f"_f{i}") for i in range(k)]), F.col("_i") + 1
        ),
        F.lit(0),
    )
    gcnt = F.coalesce(
        F.element_at(
            F.array(*[F.col(f"_g{i}") for i in range(k)]), F.col("_i") + 1
        ),
        F.lit(0),
    )
    f_hat = F.round(
        fcnt.cast("double") / F.col("n_test").cast("double"), 9
    )
    g_hat = F.round(
        gcnt.cast("double") / F.col("n_points").cast("double"), 9
    )
    return exploded.select(
        "r_deg",
        F.col("n_test").cast("long").alias("n_test"),
        F.col("n_points").cast("long").alias("n_points"),
        f_hat.alias("f_hat"),
        g_hat.alias("g_hat"),
        F.when(
            f_hat < 1.0, F.round((1.0 - g_hat) / (1.0 - f_hat), 9)
        ).alias("j_hat"),
    )
