"""Trajectory similarity: discrete Hausdorff distance between point sets.

The reference library stops at single-edge / single-point distances
(`edgeutil.go:108-127` ``DistanceToEdge``); this module composes the same
spherical metric (haversine, `latlng.go:32-40` op order) into a set-to-set
similarity operator the reference has no distributed analogue for:
the discrete Hausdorff distance

    h(A -> B) = max_{a in A} min_{b in B} d(a, b)      (directed)
    H(A, B)   = max(h(A -> B), h(B -> A))              (symmetric)

between per-key trajectories (point sets), as a pure DataFrame plan.

Scale notes (100 TB):
- The pair join is keyed ``key_a < key_b`` over *pre-filtered* trajectory
  sets; callers bound the candidate pairs. At web scale you do NOT compare
  all trajectory pairs — prefilter candidates with a covering-cell overlap
  semi-join (``gos2_spark.spark.joins.distance_join_pairs`` machinery /
  shared level-k cell keys) so only spatially co-located trajectories meet
  here. This module is the exact refine stage of that filter-refine pair.
- Everything below is native Catalyst expressions: one broadcast (or
  shuffle) join producing the point-pair grid, then two groupBy
  aggregations (min-per-source-point, max-per-pair). No Python UDFs, no
  driver funnels; the point-pair grid never materializes beyond the
  aggregation's map-side combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import dropping_zip_importers, haversine_rad

__all__ = [
    "directed_hausdorff",
    "trajectory_hausdorff",
    "trajectory_profile",
    "simplify_trajectories",
    "frechet_distance_col",
    "lcss_length_col",
    "edr_distance_col",
]


def _pair_distances(points: DataFrame, key_col: str, broadcast_right: bool) -> DataFrame:
    """All point pairs across distinct keys (key_a < key_b) with spherical
    distance in radians. Columns: key_a, key_b, aid, bid, dist."""
    a = points.select(
        F.col(key_col).alias("key_a"),
        F.col("pt_id").alias("aid"),
        F.col("lat").alias("lat_a"),
        F.col("lng").alias("lng_a"),
    )
    b = points.select(
        F.col(key_col).alias("key_b"),
        F.col("pt_id").alias("bid"),
        F.col("lat").alias("lat_b"),
        F.col("lng").alias("lng_b"),
    )
    if broadcast_right:
        b = F.broadcast(b)
    d = a.join(b, F.col("key_a") < F.col("key_b"))
    dist = haversine_rad(
        F.col("lat_a"), F.col("lng_a"), F.col("lat_b"), F.col("lng_b")
    )
    return d.select("key_a", "key_b", "aid", "bid", dist.alias("dist"))


def _directed(pairs: DataFrame, src_pt: str, out: str) -> DataFrame:
    """max over source points of (min over target points of dist)."""
    per_pt = pairs.groupBy("key_a", "key_b", src_pt).agg(
        F.min("dist").alias("mind")
    )
    return per_pt.groupBy("key_a", "key_b").agg(F.max("mind").alias(out))


def directed_hausdorff(
    points: DataFrame, key_col: str = "user_id", broadcast_right: bool = True
) -> DataFrame:
    """Directed discrete Hausdorff h(A -> B) for every key pair A < B.

    ``points``: (key_col, pt_id, lat, lng) — lat/lng in degrees, pt_id any
    per-point id (only used as the per-source-point group key).
    Returns (key_a, key_b, h_ab) with h_ab in radians.
    """
    return _directed(_pair_distances(points, key_col, broadcast_right), "aid", "h_ab")


def trajectory_hausdorff(
    points: DataFrame, key_col: str = "user_id", broadcast_right: bool = True
) -> DataFrame:
    """Symmetric discrete Hausdorff H(A, B) = max(h(A->B), h(B->A)) for
    every key pair A < B, plus both directed components and set sizes.

    One point-pair join feeds both directions (Spark re-runs the cheap
    join per aggregation branch; the branches are independent shuffles so
    AQE sizes them separately). Returns
    (key_a, key_b, n_a, n_b, h_ab, h_ba, h_sym), distances in radians.
    """
    pairs = _pair_distances(points, key_col, broadcast_right)
    h_ab = _directed(pairs, "aid", "h_ab")
    h_ba = _directed(pairs, "bid", "h_ba")
    sizes = points.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").alias("n")
    )
    out = (
        h_ab.join(h_ba, ["key_a", "key_b"])
        .join(
            F.broadcast(sizes.select(F.col("k").alias("key_a"), F.col("n").alias("n_a"))),
            "key_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("k").alias("key_b"), F.col("n").alias("n_b"))),
            "key_b",
        )
    )
    h_sym: Column = F.greatest(F.col("h_ab"), F.col("h_ba"))
    return out.select(
        "key_a", "key_b", "n_a", "n_b", "h_ab", "h_ba", h_sym.alias("h_sym")
    )


def trajectory_profile(
    points: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "pt_id"),
) -> DataFrame:
    """Per-key trajectory shape profile, one user-keyed shuffle, all
    native codegen:

    - ``path_rad``: ordered great-circle path length (window lag +
      haversine, same plan as the length query),
    - ``net_rad``: first-to-last-point great-circle displacement,
    - ``sinuosity``: path/net ratio (NULL for net == 0),
    - ``centroid_lat/lng``: spherical centroid — the normalized mean of
      the unit position vectors (the point-set analogue of the
      reference's ``TrueCentroid``, `loop.go` / `point.go` centroid
      family: sum 3-vectors, renormalize),
    - ``spread_rad``: angular dispersion ``arccos(|mean vector|)``
      (0 = all points coincide, pi/2 = fully dispersed ring).

    Everything reduces to sums/first/last over one window partition, so
    the whole profile is a single aggregation after the lag projection —
    scale-safe for billions of points as long as no single key is
    pathological (cap with ``capped_sample_per_key`` upstream if so).
    """
    from pyspark.sql import Window

    rlat, rlng = F.radians("lat"), F.radians("lng")
    px = (F.cos(rlng) * F.cos(rlat)).alias("px")
    py = (F.sin(rlng) * F.cos(rlat)).alias("py")
    pz = F.sin(rlat).alias("pz")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    leg = haversine_rad(
        F.lag("lat").over(w), F.lag("lng").over(w), F.col("lat"), F.col("lng")
    )
    enriched = points.select(
        key_col, "lat", "lng", px, py, pz,
        leg.alias("leg"),
        F.first("lat").over(wfull).alias("lat0"),
        F.first("lng").over(wfull).alias("lng0"),
        F.last("lat").over(wfull).alias("lat1"),
        F.last("lng").over(wfull).alias("lng1"),
    )
    agg = enriched.groupBy(key_col).agg(
        F.count("*").alias("n_pts"),
        F.sum("leg").alias("path_rad"),
        F.avg("px").alias("mx"),
        F.avg("py").alias("my"),
        F.avg("pz").alias("mz"),
        F.first("lat0").alias("lat0"),
        F.first("lng0").alias("lng0"),
        F.first("lat1").alias("lat1"),
        F.first("lng1").alias("lng1"),
    )
    net = haversine_rad(F.col("lat0"), F.col("lng0"), F.col("lat1"), F.col("lng1"))
    rlen = F.sqrt(
        F.col("mx") * F.col("mx") + F.col("my") * F.col("my") + F.col("mz") * F.col("mz")
    )
    return agg.select(
        key_col,
        "n_pts",
        F.coalesce(F.col("path_rad"), F.lit(0.0)).alias("path_rad"),
        net.alias("net_rad"),
        F.when(net > 0.0, F.col("path_rad") / net).alias("sinuosity"),
        F.degrees(
            F.atan2(F.col("mz"), F.sqrt(F.col("mx") * F.col("mx") + F.col("my") * F.col("my")))
        ).alias("centroid_lat"),
        F.degrees(F.atan2(F.col("my"), F.col("mx"))).alias("centroid_lng"),
        F.acos(F.least(F.lit(1.0), rlen)).alias("spread_rad"),
    )


def _dp_keep_mask_batched(xyz, starts, ends, tolerance_rad: float):
    """Level-synchronous Douglas-Peucker over MANY trajectories at once.

    ``xyz``: (m, 3) unit points of all trajectories concatenated in
    order; ``starts``/``ends``: first/last global index per trajectory.
    Returns the same keep mask as running ``_dp_keep_mask`` per
    trajectory — same metric arithmetic (element-wise identical IEEE
    ops, including the PointCross normalization and ortho fallback),
    same first-max split tie-break — but every DP round evaluates the
    segment metric for EVERY active segment of EVERY trajectory in one
    vectorized pass. The per-call numpy overhead that dominated the
    per-group form (~15 numpy ops on a handful of points per split,
    measured ~230us/call = 15ms per 67-point trajectory) is amortized
    over the whole Arrow batch; rounds are bounded by the deepest
    split tree, segments never overlap, and each trajectory's segments
    stay contiguous index intervals, so per-segment reductions are
    ``ufunc.reduceat`` calls.
    """
    import numpy as np

    from ..kernels.predicates import ortho

    m = len(xyz)
    keep = np.zeros(m, dtype=bool)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    # trajectories with <= 2 points keep every row (per-group contract)
    tiny = ends - starts < 2
    for s, e in zip(starts[tiny], ends[tiny]):
        keep[s : e + 1] = True
    keep[starts] = True
    keep[ends] = True
    lo = starts[~tiny].copy()
    hi = ends[~tiny].copy()
    while len(lo):
        A = xyz[lo]
        B = xyz[hi]
        S = A + B
        D = B - A
        # PointCross(a, b) = normalize((a+b) x (b-a)) with ortho fallback
        acb = np.empty_like(A)
        acb[:, 0] = S[:, 1] * D[:, 2] - S[:, 2] * D[:, 1]
        acb[:, 1] = S[:, 2] * D[:, 0] - S[:, 0] * D[:, 2]
        acb[:, 2] = S[:, 0] * D[:, 1] - S[:, 1] * D[:, 0]
        nrm = np.sqrt((acb * acb).sum(axis=1))
        # same degeneracy test as the scalar path: nrm < 1e-300 or
        # allclose(acb, 0, atol=1e-14) == max|acb_i| <= 1e-14
        degen = (nrm < 1e-300) | (np.abs(acb).max(axis=1) <= 1e-14)
        ok = ~degen
        acb[ok] = acb[ok] / nrm[ok, None]
        for i in np.flatnonzero(degen):
            acb[i] = np.array(ortho(tuple(A[i])))
        acb_nrm = np.sqrt((acb * acb).sum(axis=1))

        # concatenated interior points, segment-contiguous by construction
        lens = hi - lo - 1
        nseg = len(lo)
        tot = int(lens.sum())
        segid = np.repeat(np.arange(nseg), lens)
        offs = np.zeros(nseg, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        ii = lo[segid] + 1 + (np.arange(tot) - offs[segid])
        X = xyz[ii]
        N = acb[segid]
        # wedge test: CCW(acb, a, x) && CCW(x, b, acb); cross(acb, X) is
        # the exact negation of cross(X, acb), so the second CCW is the
        # sign flip of the same dot product
        C0 = X[:, 1] * N[:, 2] - X[:, 2] * N[:, 1]
        C1 = X[:, 2] * N[:, 0] - X[:, 0] * N[:, 2]
        C2 = X[:, 0] * N[:, 1] - X[:, 1] * N[:, 0]
        Ag = A[segid]
        Bg = B[segid]
        w1 = C0 * Ag[:, 0] + C1 * Ag[:, 1] + C2 * Ag[:, 2] > 0
        w2 = C0 * Bg[:, 0] + C1 * Bg[:, 1] + C2 * Bg[:, 2] < 0
        in_wedge = w1 & w2
        sin_dist = np.abs((X * N).sum(axis=1)) / acb_nrm[segid]
        d_interior = np.arcsin(np.minimum(1.0, sin_dist))
        xa = ((X - Ag) ** 2).sum(axis=1)
        xb = ((X - Bg) ** 2).sum(axis=1)
        d_endpoint = 2.0 * np.arcsin(
            np.minimum(1.0, 0.5 * np.sqrt(np.minimum(xa, xb)))
        )
        d = np.where(in_wedge, d_interior, d_endpoint)

        dmax = np.maximum.reduceat(d, offs)
        split_seg = np.flatnonzero(dmax > tolerance_rad)
        if not len(split_seg):
            break
        # FIRST position attaining the segment max (np.argmax tie-break)
        pos = np.arange(tot)
        first = np.minimum.reduceat(
            np.where(d == dmax[segid], pos, tot), offs
        )
        split = lo[split_seg] + 1 + (first[split_seg] - offs[split_seg])
        keep[split] = True
        new_lo = np.concatenate((lo[split_seg], split))
        new_hi = np.concatenate((split, hi[split_seg]))
        sel = new_hi - new_lo >= 2
        lo, hi = new_lo[sel], new_hi[sel]
    return keep


def _dp_keep_mask(xyz, tolerance_rad: float):
    """Iterative Douglas-Peucker over unit xyz points (numpy, stack-based —
    no recursion limits). Reuses the reference-parity segment metric
    kernels.predicates.distance_to_edges (edgeutil.go:77-106), so 'deviation'
    is the true great-circle point-to-arc distance, not a planar chord.
    Ties: the FIRST point attaining the max deviation splits (deterministic
    regardless of partitioning). Returns a bool keep-mask; endpoints always
    kept; closed/duplicate-endpoint inputs degrade gracefully (interior
    points farther than tolerance from the degenerate segment still split)."""
    import numpy as np

    from ..kernels.predicates import distance_to_edges

    n = len(xyz)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        interior = xyz[lo + 1 : hi]
        d = distance_to_edges(interior, xyz[lo], xyz[hi])
        imax = int(np.argmax(d))
        if d[imax] > tolerance_rad:
            split = lo + 1 + imax
            keep[split] = True
            # push right first so the left span pops next (pure style; the
            # result is order-independent)
            stack.append((split, hi))
            stack.append((lo, split))
    return keep


def simplify_trajectories(
    points: DataFrame,
    tolerance_rad: float,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "pt_id"),
) -> DataFrame:
    """Spherical Douglas-Peucker polyline simplification per trajectory:
    keep the minimal vertex subset such that every dropped vertex lies
    within ``tolerance_rad`` (great-circle radians) of the simplified
    chain. Returns the kept rows (key, pt_id, lat, lng) — the standard
    pre-aggregation step before trajectory storage/rendering at scale.

    Execution shape: ONE hash repartition on the key + an in-partition
    sort + ONE mapInPandas — the only shuffle — with the whole
    divide-and-conquer running vectorized numpy per trajectory
    (Arrow-batched, never per-row Python). mapInPandas instead of
    groupBy().applyInPandas because the grouped form pays a fixed
    per-GROUP cost (one Arrow slice + one pandas frame + one Python call
    per trajectory — measured 10.6s at 15k trajectories where the DP
    math itself is <1s); here whole 64k-row Arrow batches cross the
    boundary and group slicing is a numpy boundary scan. Groups are
    contiguous and pre-ordered after the sort; a group spanning two
    batches is carried over, so each trajectory is still simplified
    whole. DP is inherently sequential per polyline but trivially
    parallel across the billions of polylines a fleet corpus has;
    pathological single keys are bounded upstream with
    capped_sample_per_key. Not SQL-expressible (data-dependent
    recursion) — correctness is pinned by property tests
    (tests/test_geo_text_ops.py): endpoints kept, dropped-vertex deviation
    <= tolerance against an independent pure-python DP, monotone in
    tolerance."""
    import numpy as np
    import pandas as pd

    order_list = list(order_cols)
    cols = [key_col, "pt_id", "lat", "lng"]
    out_schema = points.select(*cols).schema

    def _simplify_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """One or more WHOLE trajectories, rows already (key, *order)
        sorted: vectorized xyz once, then the DP mask per key slice."""
        n = len(pdf)
        rlat = np.radians(pdf["lat"].to_numpy())
        rlng = np.radians(pdf["lng"].to_numpy())
        xyz = np.column_stack(
            (np.cos(rlng) * np.cos(rlat), np.sin(rlng) * np.cos(rlat), np.sin(rlat))
        )
        keys = pdf[key_col].to_numpy()
        bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [n])) - 1
        keep = _dp_keep_mask_batched(xyz, starts, ends, tolerance_rad)
        return pdf.loc[keep, cols]

    def fn(batches):
        pend = None
        for pdf in batches:
            pdf = pdf[cols]
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            # hold back the trailing (possibly batch-spanning) trajectory;
            # keys are grouped contiguously, so the trailing run is pure
            # equality scanning (no comparator assumptions)
            keys = pdf[key_col].to_numpy()
            nz = np.flatnonzero(keys != keys[-1])
            cut = int(nz[-1] + 1) if len(nz) else 0
            pend = pdf.iloc[cut:]
            if cut:
                yield _simplify_block(pdf.iloc[:cut])
        if pend is not None and len(pend):
            yield _simplify_block(pend)

    # Pin the pre-DP exchange with a USER repartition on the group key:
    # AQE coalesces shuffles by BYTE size, and trajectory rows are tiny,
    # so the CPU-heavy Python DP stage otherwise collapses onto 1-2
    # partitions and runs thousands of groups sequentially (measured 2
    # post-AQE partitions / 11.4s at sf0.1; pinned: full-width / ~1s).
    # Explicit repartitioning is exempt from AQE coalescing. The
    # in-partition sort makes every trajectory contiguous in (ts, pt_id)
    # order — exactly the order the per-group pandas sort produced.
    slots = points.sparkSession.sparkContext.defaultParallelism
    pinned = points.repartition(slots, F.col(key_col)).sortWithinPartitions(
        key_col, *order_list
    )
    return pinned.select(*cols).mapInPandas(dropping_zip_importers(fn), schema=out_schema)


def frechet_distance_col(xyz_a: Column, xyz_b: Column) -> Column:
    """Discrete Frechet distance between two ordered point sequences
    held as array<struct<x,y,z>> columns (unit xyz) — the classic
    order-aware trajectory similarity (Hausdorff ignores ordering; the
    'dog leash' distance does not).

        D(i,j) = max(d(a_i, b_j), min(D(i-1,j), D(i-1,j-1), D(i,j-1)))

    evaluated as a NESTED higher-order fold entirely in Catalyst: the
    outer aggregate walks a's points carrying the previous DP row
    (array<double>, padded with a 1e18 sentinel — no IEEE Inf so the
    DuckDB oracle parses the same literal), the inner aggregate builds
    the next row left-to-right (each cell needs its left neighbor, so
    transform() can't express it). d is the reference's angle distance
    atan2(|a x b|, a . b) (r3/vector.go:96-98), computed identically on
    both engines — the result is bit-identical cross-engine.

    Cost is O(m*n) arithmetic per pair INSIDE codegen (no shuffle, no
    Python); callers bound the candidate pairs exactly like
    trajectory_hausdorff (covering-cell overlap prefilter at scale).
    """
    big = F.lit(1.0e18)

    def _cell(R, N, xa, yb):
        cross_x = xa["y"] * yb["z"] - xa["z"] * yb["y"]
        cross_y = xa["z"] * yb["x"] - xa["x"] * yb["z"]
        cross_z = xa["x"] * yb["y"] - xa["y"] * yb["x"]
        d = F.atan2(
            F.sqrt(
                cross_x * cross_x + cross_y * cross_y + cross_z * cross_z
            ),
            xa["x"] * yb["x"] + xa["y"] * yb["y"] + xa["z"] * yb["z"],
        )
        return F.greatest(
            d,
            F.least(
                F.element_at(R, F.size(N) + 1),
                F.element_at(R, F.size(N)),
                F.element_at(N, F.size(N)),
            ),
        )

    init = F.concat(
        F.array(F.lit(0.0)), F.transform(xyz_b, lambda _: big)
    )
    dp = F.aggregate(
        xyz_a,
        init,
        lambda R, xa: F.aggregate(
            xyz_b,
            F.array(big),
            lambda N, yb: F.concat(N, F.array(_cell(R, N, xa, yb))),
        ),
    )
    return F.element_at(dp, -1)


def lcss_length_col(xyz_a: Column, xyz_b: Column, eps_rad: float) -> Column:
    """Longest-common-subsequence length between two ordered point
    sequences (array<struct<x,y,z>> unit xyz), where points 'match' when
    their angle distance is <= ``eps_rad`` — the noise-robust member of
    the trajectory-similarity family (Hausdorff / Frechet / DTW / LCSS):
    outliers simply fail to match instead of dominating the score.

        L(i,j) = L(i-1,j-1) + 1            if d(a_i, b_j) <= eps
                 max(L(i-1,j), L(i,j-1))   otherwise

    Same nested-fold DP shape as frechet_distance_col; the DP values are
    exact small integers carried as doubles, and the match predicate
    compares the identical atan2 angle on both engines — bit-identical
    cross-engine. O(m*n) inside codegen; callers bound candidate pairs.
    """
    eps = F.lit(float(eps_rad))

    def _cell(R, N, xa, yb):
        cross_x = xa["y"] * yb["z"] - xa["z"] * yb["y"]
        cross_y = xa["z"] * yb["x"] - xa["x"] * yb["z"]
        cross_z = xa["x"] * yb["y"] - xa["y"] * yb["x"]
        d = F.atan2(
            F.sqrt(
                cross_x * cross_x + cross_y * cross_y + cross_z * cross_z
            ),
            xa["x"] * yb["x"] + xa["y"] * yb["y"] + xa["z"] * yb["z"],
        )
        return F.when(
            d <= eps, F.element_at(R, F.size(N)) + F.lit(1.0)
        ).otherwise(
            F.greatest(
                F.element_at(R, F.size(N) + 1),
                F.element_at(N, F.size(N)),
            )
        )

    init = F.concat(
        F.array(F.lit(0.0)), F.transform(xyz_b, lambda _: F.lit(0.0))
    )
    dp = F.aggregate(
        xyz_a,
        init,
        lambda R, xa: F.aggregate(
            xyz_b,
            F.array(F.lit(0.0)),
            lambda N, yb: F.concat(N, F.array(_cell(R, N, xa, yb))),
        ),
    )
    return F.element_at(dp, -1).cast("long")


def edr_distance_col(xyz_a: Column, xyz_b: Column, eps_rad: float) -> Column:
    """Edit Distance on Real sequences (EDR, Chen et al. 2005) between
    two ordered point sequences (array<struct<x,y,z>> unit xyz): the
    minimum number of insert/delete/substitute edits to align them,
    where two points 'match' (substitution cost 0) when their angle
    distance is <= ``eps_rad``. The fourth member of the trajectory-
    similarity family (Hausdorff / Frechet / DTW / LCSS / EDR): unlike
    LCSS it PENALIZES unmatched gaps, so trajectories of very different
    lengths score far apart even when one embeds in the other.

        D(i,0) = i;  D(0,j) = j
        D(i,j) = min(D(i-1,j-1) + [d(a_i,b_j) > eps],
                     D(i-1,j) + 1, D(i,j-1) + 1)

    Same nested Catalyst higher-order fold as frechet_distance_col (the
    outer aggregate carries the previous DP row, the inner builds the
    next row left-to-right); DP values are exact small integers carried
    as doubles, and the match predicate compares the identical atan2
    angle on both engines — bit-identical cross-engine. O(m*n) inside
    codegen, no shuffle, no Python; callers bound candidate pairs with
    the covering-cell overlap prefilter exactly like trajectory_hausdorff.
    """
    eps = F.lit(float(eps_rad))

    def _cell(R, N, xa, yb):
        cross_x = xa["y"] * yb["z"] - xa["z"] * yb["y"]
        cross_y = xa["z"] * yb["x"] - xa["x"] * yb["z"]
        cross_z = xa["x"] * yb["y"] - xa["y"] * yb["x"]
        d = F.atan2(
            F.sqrt(
                cross_x * cross_x + cross_y * cross_y + cross_z * cross_z
            ),
            xa["x"] * yb["x"] + xa["y"] * yb["y"] + xa["z"] * yb["z"],
        )
        sub = F.when(d <= eps, F.lit(0.0)).otherwise(F.lit(1.0))
        return F.least(
            F.element_at(R, F.size(N)) + sub,
            F.element_at(R, F.size(N) + 1) + F.lit(1.0),
            F.element_at(N, F.size(N)) + F.lit(1.0),
        )

    init = F.concat(
        F.array(F.lit(0.0)),
        F.transform(xyz_b, lambda _, i: (i + F.lit(1)).cast("double")),
    )
    dp = F.aggregate(
        xyz_a,
        init,
        lambda R, xa: F.aggregate(
            xyz_b,
            F.array(F.element_at(R, 1) + F.lit(1.0)),
            lambda N, yb: F.concat(N, F.array(_cell(R, N, xa, yb))),
        ),
    )
    return F.element_at(dp, -1).cast("long")


def erp_distance_col(xyz_a: Column, xyz_b: Column) -> Column:
    """Edit distance with Real Penalty (ERP, Chen & Ng 2004) between two
    ordered point sequences (array<struct<x,y,z>> unit xyz) — the METRIC
    member of the trajectory-similarity family (Hausdorff / Frechet /
    DTW / LCSS / EDR / ERP): unlike DTW it satisfies the triangle
    inequality, and unlike EDR its gap cost is the real distance to a
    fixed gap point g rather than a unit penalty, so it supports metric
    indexing. g is the lat/lng origin, xyz (1, 0, 0), for which the
    angle distance collapses to atan2(sqrt(y^2 + z^2), x).

        D(i,0) = sum_{k<=i} d(a_k, g);   D(0,j) = sum_{k<=j} d(b_k, g)
        D(i,j) = min(D(i-1,j-1) + d(a_i, b_j),
                     D(i-1,j)   + d(a_i, g),
                     D(i,j-1)   + d(b_j, g))

    Same nested Catalyst higher-order fold as edr_distance_col (outer
    aggregate carries the previous DP row; the init row is itself a
    left-fold prefix sum, so every float add is in pinned order) —
    bit-identical to the DuckDB nested-list_reduce replay. O(m*n) in
    codegen, no shuffle, no Python; callers bound candidate pairs like
    trajectory_hausdorff.
    """

    def _gap(p):
        return F.atan2(
            F.sqrt(p["y"] * p["y"] + p["z"] * p["z"]), p["x"]
        )

    def _cell(R, N, xa, yb):
        cross_x = xa["y"] * yb["z"] - xa["z"] * yb["y"]
        cross_y = xa["z"] * yb["x"] - xa["x"] * yb["z"]
        cross_z = xa["x"] * yb["y"] - xa["y"] * yb["x"]
        d_ab = F.atan2(
            F.sqrt(
                cross_x * cross_x + cross_y * cross_y + cross_z * cross_z
            ),
            xa["x"] * yb["x"] + xa["y"] * yb["y"] + xa["z"] * yb["z"],
        )
        return F.least(
            F.element_at(R, F.size(N)) + d_ab,
            F.element_at(R, F.size(N) + 1) + _gap(xa),
            F.element_at(N, F.size(N)) + _gap(yb),
        )

    # init row: left-fold prefix sums of d(b_k, g) starting at 0.0
    init = F.aggregate(
        xyz_b,
        F.array(F.lit(0.0)),
        lambda N, yb: F.concat(
            N, F.array(F.element_at(N, -1) + _gap(yb))
        ),
    )
    dp = F.aggregate(
        xyz_a,
        init,
        lambda R, xa: F.aggregate(
            xyz_b,
            F.array(F.element_at(R, 1) + _gap(xa)),
            lambda N, yb: F.concat(N, F.array(_cell(R, N, xa, yb))),
        ),
    )
    return F.element_at(dp, -1)


def effective_area(
    points: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    lat_col: str = "lat",
    lng_col: str = "lng",
    keep_threshold_deg2: float = 0.5,
) -> DataFrame:
    """Visvalingam-Whyatt effective area, single pass: for every interior
    vertex of each key's ordered trajectory, TWICE the chart-space
    triangle area spanned with its immediate neighbors —

        area2 = |x1(y2-y3) + x2(y3-y1) + x3(y1-y2)|

    — the importance score Visvalingam simplification ranks on. This is
    the one-sweep screen (drop everything below a fixed area threshold);
    the reference's Douglas-Peucker (see simplify_trajectories) remains
    the recursive alternative. Unlike iterative V-W, one pass is
    order-independent and expressible as pure lag/lead windows —
    deterministic and exactly replayable in SQL.

    Plan: one (key, order) window sort feeding lag+lead, then ONE
    map-side-combined rollup per key. Output: (key, n_points,
    n_interior, n_keep, area2_sum) — area2 in squared chart degrees.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    x1, y1 = F.lag(lng_col).over(w), F.lag(lat_col).over(w)
    x3, y3 = F.lead(lng_col).over(w), F.lead(lat_col).over(w)
    area2 = F.abs(
        x1 * (F.col(lat_col) - y3)
        + F.col(lng_col) * (y3 - y1)
        + x3 * (y1 - F.col(lat_col))
    )
    t = points.select(
        F.col(key_col).alias("_k"),
        area2.alias("_a2"),
    )
    return (
        t.groupBy("_k")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("_a2").isNotNull().cast("long")).alias("n_interior"),
            F.sum(
                (F.col("_a2") >= float(keep_threshold_deg2)).cast("long")
            ).alias("n_keep"),
            F.round(F.sum("_a2"), 6).alias("area2_sum"),
        )
        .select(
            F.col("_k").alias(key_col),
            "n_points",
            "n_interior",
            F.coalesce("n_keep", F.lit(0)).alias("n_keep"),
            F.coalesce("area2_sum", F.lit(0.0)).alias("area2_sum"),
        )
    )


def radius_of_gyration(
    points: DataFrame,
    key_col: str = "user_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Radius of gyration per key — the standard human-mobility range
    scale (Gonzalez, Hidalgo & Barabasi 2008): the RMS great-circle
    distance of a user's points from their spherical centroid,

        rog = sqrt( mean_i angle(p_i, centroid)^2 )

    with centroid the (unnormalized) mean unit 3-vector; the angle is
    atan2(|m x p|, m . p), which is invariant to |m| so no renormalize
    step is needed — one fewer float op to replay.

    Plan: one keyed mean-vector aggregation, one hash join back to the
    points (both shuffle on the key — co-partitioned, AQE-coalesced),
    one final keyed mean. No windows, no UDFs; scale-safe at 10^12 rows
    since state per key is three doubles.

    Output: (key, n_pts, rog_rad).
    """
    rlat, rlng = F.radians(lat_col), F.radians(lng_col)
    p = points.select(
        F.col(key_col).alias("_k"),
        (F.cos(rlng) * F.cos(rlat)).alias("_px"),
        (F.sin(rlng) * F.cos(rlat)).alias("_py"),
        F.sin(rlat).alias("_pz"),
    )
    m = p.groupBy("_k").agg(
        F.avg("_px").alias("_mx"),
        F.avg("_py").alias("_my"),
        F.avg("_pz").alias("_mz"),
    )
    j = p.join(m, "_k")
    cx = F.col("_my") * F.col("_pz") - F.col("_mz") * F.col("_py")
    cy = F.col("_mz") * F.col("_px") - F.col("_mx") * F.col("_pz")
    cz = F.col("_mx") * F.col("_py") - F.col("_my") * F.col("_px")
    dot = (
        F.col("_mx") * F.col("_px")
        + F.col("_my") * F.col("_py")
        + F.col("_mz") * F.col("_pz")
    )
    ang = F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot)
    return (
        j.select("_k", (ang * ang).alias("_a2"))
        .groupBy("_k")
        .agg(F.count("*").alias("n_pts"), F.avg("_a2").alias("_ms"))
        .select(
            F.col("_k").alias(key_col),
            "n_pts",
            F.round(F.sqrt(F.col("_ms")), 9).alias("rog_rad"),
        )
    )
