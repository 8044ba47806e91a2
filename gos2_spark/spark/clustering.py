"""Distributed DBSCAN over spherical points, as a composition plan.

Density-based clustering (Ester et al., KDD'96) re-expressed in the
engine's existing distributed primitives — no new kernels:

1. the eps-neighborhood graph comes from the cell-blocked within-radius
   self-join (``spark.joins.distance_join``: level-L 3x3 neighborhood
   blocking + exact angle refine, the reference's atan2(|a x b|, a.b)
   metric, r3/vector.go:96-98);
2. core points are a degree count over that edge list (a point is core
   iff its closed eps-neighborhood has >= min_pts members, i.e. open
   degree >= min_pts - 1);
3. clusters are connected components over the core-core subgraph
   (``pipeline.graph.connected_components``: neighbor-min + pointer
   doubling, O(log D) rounds);
4. border points (non-core with a core neighbor) deterministically adopt
   the MIN cluster label among their core neighbors — classic DBSCAN
   leaves border ties order-dependent; a distributed engine must not.
   Everything else is noise.

Scale shape: every step is a bounded-fanout hash join or map-side
combined aggregation on the (already skew-handled) eps-edge list; the
only iteration is the component loop, O(log diameter) shuffles. Nothing
funnels through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dbscan"]


def dbscan(
    points: DataFrame,
    eps_deg: float,
    min_pts: int,
    point_key: str = "key",
    cell_col: str = "cell_id",
) -> DataFrame:
    """DBSCAN over a point table carrying leaf cell ids.

    ``points``: (point_key, lat, lng, cell_col) — cell_col must hold LEAF
    cell ids (the engine-wide convention; see ``distance_join``).
    Returns (key, role, cluster): role in {'core','border','noise'},
    cluster = MIN core key of the cluster (NULL for noise).
    """
    import math

    from ..geometry.metric import MAX_DIAG
    from ..pipeline.graph import _default_materialize
    from .joins import distance_join
    from .pages import s2_parent_sql

    # Materialize the eps-graph ONCE at the composition boundary: the
    # distance-join plan is deep and data-dependent (skew splitting adds
    # branches), and it is referenced by deg/quotient/border — left
    # un-truncated, Catalyst's size-product stats estimate over the
    # 6x-duplicated tree overflows BigInteger at scale (seen at sf0.1)
    # and every consumer would re-run the join besides.
    mat = _default_materialize(points.sparkSession)
    pairs = mat(
        distance_join(
            points, eps_deg, point_key=point_key, cell_col=cell_col
        ).select("key_a", "key_b")
    )
    # clique groups for the CC pre-contraction: all points in a cell with
    # MaxDiag <= eps are mutual eps-neighbors
    lc = MAX_DIAG.min_level(math.radians(eps_deg))
    return _dbscan_from_pairs(
        points, pairs, min_pts, point_key,
        contract_exprs=[s2_parent_sql(F.col(cell_col), lc)],
    )


def _dbscan_from_pairs(
    points: DataFrame,
    pairs: DataFrame,
    min_pts: int,
    point_key: str,
    contract_exprs: list | None = None,
) -> DataFrame:
    """Shared DBSCAN tail: degree -> core -> core-edge components ->
    border adoption -> noise, from an ALREADY-MATERIALIZED undirected
    neighbor pair table (key_a < key_b). Factored out so plain and
    space-time DBSCAN share one verified body.

    ``contract_exprs``: optional column expressions over ``points`` that
    define a CLIQUE GROUP — any two points sharing all group values are
    guaranteed within the eps-graph's constraints (e.g. a cell whose
    MaxDiag <= eps, plus a time bucket no wider than the window). Core
    points are then pre-contracted to their group minimum and connected
    components run on the QUOTIENT graph (distinct label pairs), not the
    raw eps-graph: a dense region's clique edges collapse to one node
    before CC ever sees them. This is pure connectivity algebra — two
    core points in one group are eps-neighbors, hence one cluster, and
    labels are group-min core keys, so the quotient fixpoint maps back
    to exactly the same min-core-key cluster labels (measured 88s -> 8s
    on a 79M-edge eps-graph at 100k points).

    The eps-graph itself is scanned a bounded number of times: once for
    degrees (explode + map-side-combined count), once to relabel into
    the quotient, once (symmetrized, pipelined) for border adoption.
    Side tables (core set, label map, core labels) are joined with an
    explicit broadcast hint while they are provably bounded (<= 4M
    rows); past that the joins fall back to shuffle hash/merge — the
    checkpointed frames carry compound size estimates Catalyst cannot
    see through, so the hint is the measurement-backed decision, not a
    local[32] hack."""
    from ..pipeline.graph import (
        _broadcast_bounded,
        _default_materialize,
        _truncate,
        connected_components,
    )

    keys = points.select(F.col(point_key).alias("key"))
    mat = _default_materialize(points.sparkSession)
    # degree without materializing the symmetrized table: each pair
    # contributes one neighbor to both endpoints; the partial aggregate
    # collapses the exploded stream before the (tiny) exchange
    deg = (
        pairs.select(F.explode(F.array("key_a", "key_b")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n_nbrs"))
    )
    # For min_pts >= 2 a zero-degree point can never be core, so core is a
    # straight filter over the degree table — no join back to the full
    # point set (points absent from ``deg`` have degree 0 < min_pts - 1).
    # The count also materializes the checkpoint: one job, not two.
    if min_pts <= 1:
        core = _truncate(keys)
    else:
        core = _truncate(
            deg.where(F.col("n_nbrs") >= min_pts - 1).select("key")
        )
    n_core = core.count()

    def _b(df: DataFrame) -> DataFrame:
        return _broadcast_bounded(df, n_core)

    if contract_exprs:
        gcols = [f"_g{i}" for i in range(len(contract_exprs))]
        cg = points.select(
            F.col(point_key).alias("key"),
            *[e.alias(c) for e, c in zip(contract_exprs, gcols)],
        ).join(_b(core), "key", "semi")
        gmin = cg.groupBy(*gcols).agg(F.min("key").alias("label"))
        cmap = mat(cg.join(gmin, gcols).select("key", "label"))
        ca = cmap.select(F.col("key").alias("key_a"), F.col("label").alias("_la"))
        cb = cmap.select(F.col("key").alias("key_b"), F.col("label").alias("_lb"))
        # inner joins against the core-only map double as the core-core
        # semi filters; the quotient dedup is map-side combined
        q_edges = (
            pairs.join(_b(ca), "key_a")
            .join(_b(cb), "key_b")
            .where(F.col("_la") != F.col("_lb"))
            .select(F.col("_la").alias("key_a"), F.col("_lb").alias("key_b"))
            .distinct()
        )
        q_nodes = cmap.select(F.col("label").alias("key")).distinct()
        comps_q = connected_components(
            q_nodes, q_edges, edges_in_universe=True
        )  # (label, component) on the quotient
        core_lab = mat(
            cmap.join(
                _b(comps_q.select(F.col("key").alias("label"), "component")),
                "label",
            ).select(
                F.col("key").alias("ckey"), F.col("component").alias("cluster")
            )
        )
    else:
        core_edges = (
            pairs.join(
                _b(core.select(F.col("key").alias("key_a"))), "key_a", "semi"
            ).join(
                _b(core.select(F.col("key").alias("key_b"))), "key_b", "semi"
            )
        )
        comps = connected_components(
            core, core_edges, edges_in_universe=True
        )  # (key, component)
        core_lab = mat(
            comps.select(
                F.col("key").alias("ckey"), F.col("component").alias("cluster")
            )
        )
    sym = pairs.union(
        pairs.select(F.col("key_b").alias("key_a"), F.col("key_a").alias("key_b"))
    )
    # border: non-core with >= 1 core neighbor; adopt MIN neighbor cluster.
    # Both side tables ride as broadcasts, so the symmetrized eps-graph
    # streams through in one pipelined pass with no exchange of its own.
    border = (
        sym.join(_b(core.select(F.col("key").alias("key_a"))), "key_a", "anti")
        .join(_b(core_lab), F.col("key_b") == F.col("ckey"))
        .groupBy(F.col("key_a").alias("key"))
        .agg(F.min("cluster").alias("cluster"))
    )
    out_core = core_lab.select(
        F.col("ckey").alias("key"), F.lit("core").alias("role"), "cluster"
    )
    out_border = border.select("key", F.lit("border").alias("role"), "cluster")
    out_noise = (
        keys.join(_b(core), "key", "anti")
        .join(border.select("key"), "key", "anti")
        .select("key", F.lit("noise").alias("role"), F.lit(None).cast("long").alias("cluster"))
    )
    return out_core.unionByName(out_border).unionByName(out_noise)


def kmeans_fixed(
    points: DataFrame,
    k: int = 8,
    rounds: int = 3,
    point_key: str = "key",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic fixed-round k-means over (lat, lng), exactly
    replayable by a chained-CTE SQL oracle.

    Two determinism choices make a DISTRIBUTED k-means value-reproducible
    (classic k-means is not: random init, and float centroid sums depend
    on reduction order):

    * init: centroids are the k smallest ``point_key`` rows (a total
      order, no RNG);
    * centroid state is kept as EXACT integer sums — coordinates are
      scaled to int64 micro-degrees, per-cluster sums are exact integer
      aggregation (order-independent), and the centroid used for distance
      is the double quotient sum/count, a pure function of exact ints.

    Assignment: argmin over the k broadcast centroids via
    ``min(struct(dist, cid))`` — ties break to the smallest cluster id.
    Fixed ``rounds`` keeps the whole computation a statically unrollable
    DAG (the oracle replays every round); k-means converges monotonically
    so extra rounds only stabilize further.

    Scale shape: each round is ONE broadcast join (k rows) + one
    map-side-combined groupBy — no shuffle grows with k, no driver loop
    over points. Returns (cluster, n, c_lat, c_lng) rounded to 9dp.
    """
    from pyspark.sql.window import Window

    # floor(x*scale + 0.5), not round(): ROUND's half-case direction is
    # engine-defined (HALF_UP vs away-from-zero), floor+0.5 is IEEE-exact
    # and identical everywhere
    pts = points.select(
        F.col(point_key).alias("key"),
        F.floor(F.col("lat") * scale + F.lit(0.5)).cast("long").alias("ilat"),
        F.floor(F.col("lng") * scale + F.lit(0.5)).cast("long").alias("ilng"),
    )
    # k smallest keys via TakeOrderedAndProject (distributed top-k);
    # the row_number window then runs over k rows only
    w = Window.orderBy("key")
    init = (
        pts.orderBy("key").limit(k)
        .withColumn("_rn", F.row_number().over(w))
        .select(
            (F.col("_rn") - 1).alias("cid"),
            F.col("ilat").alias("slat"),
            F.col("ilng").alias("slng"),
            F.lit(1).cast("long").alias("cnt"),
        )
    )
    cent = init
    for _ in range(rounds):
        c = cent.select(
            "cid",
            (F.col("slat").cast("double") / F.col("cnt")).alias("clat"),
            (F.col("slng").cast("double") / F.col("cnt")).alias("clng"),
        )
        # plain multiplication, not pow(): POWER(x, 2) is implementation-
        # defined to the ulp across engines; a*a is IEEE-exactly one rounding
        dlat = F.col("ilat").cast("double") - F.col("clat")
        dlng = F.col("ilng").cast("double") - F.col("clng")
        d2 = dlat * dlat + dlng * dlng
        assigned = (
            pts.crossJoin(F.broadcast(c))
            .groupBy("key", "ilat", "ilng")
            .agg(F.min(F.struct(d2.alias("_d"), F.col("cid"))).alias("_b"))
            .select("key", "ilat", "ilng", F.col("_b.cid").alias("cid"))
        )
        cent = assigned.groupBy("cid").agg(
            F.sum("ilat").alias("slat"),
            F.sum("ilng").alias("slng"),
            F.count("*").alias("cnt"),
        )
    return cent.select(
        "cid",
        F.col("cnt").alias("n"),
        F.round(F.col("slat").cast("double") / F.col("cnt") / scale, 9).alias("c_lat"),
        F.round(F.col("slng").cast("double") / F.col("cnt") / scale, 9).alias("c_lng"),
    )


def st_dbscan(
    points: DataFrame,
    eps_deg: float,
    eps_time_sec: int,
    min_pts: int,
    point_key: str = "key",
    time_col: str = "ts",
    cell_col: str = "cell_id",
) -> DataFrame:
    """ST-DBSCAN (Birant & Kut 2007): density clustering where two
    points are neighbors only when they are close in BOTH space
    (angle distance <= eps_deg) and time (|dt| <= eps_time_sec) — the
    event-burst detector that plain DBSCAN gets wrong by merging
    yesterday's crowd with today's.

    The eps-graph is the engine's cell-blocked within-radius self-join
    with the BIGINT microsecond window pushed INTO the blocking key
    (``distance_join(time_col=..., time_window=...)``: the join runs on
    (cell_block, time_bucket), so candidates are pruned by the time
    selectivity before the exchange and the distance refine — the
    round-5 shape built the full SPATIAL eps-graph first and attached
    times to it with two extra shuffle joins, which at 1M-event scale
    moved ~60x the surviving pair volume). Everything after — core
    degrees, components, border adoption — is the verified DBSCAN tail.
    Same output contract: (key, role, cluster).
    """
    import math

    from ..geometry.metric import MAX_DIAG
    from ..pipeline.graph import _default_materialize
    from .joins import distance_join
    from .pages import s2_parent_sql

    epoch = F.expr(
        "timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {time_col})"
    )
    mat = _default_materialize(points.sparkSession)
    w_us = int(eps_time_sec) * 1_000_000
    pts_t = points.withColumn("_t", epoch)
    pairs = distance_join(
        pts_t, eps_deg, point_key=point_key, cell_col=cell_col,
        time_col="_t", time_window=w_us,
    ).select("key_a", "key_b")
    pairs = mat(pairs)
    # clique groups: cell with MaxDiag <= eps AND a time bucket no wider
    # than the window — any two members are neighbors in both space and
    # time, so the group is a clique in the ST eps-graph
    lc = MAX_DIAG.min_level(math.radians(eps_deg))
    tbucket = F.expr(f"CAST((_t - pmod(_t, {w_us})) DIV {w_us} AS BIGINT)")
    return _dbscan_from_pairs(
        pts_t, pairs, min_pts, point_key,
        contract_exprs=[s2_parent_sql(F.col(cell_col), lc), tbucket],
    )
