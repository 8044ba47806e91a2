"""Geostatistics operators: empirical-Bayes rate smoothing, simple
kriging, and spatial-lag regression.

All three are closed-form: the only linear algebra is a 3x3 solve done
with Cramer's rule as ONE fixed-order native column expression, so the
plans stay pure Catalyst/codegen (no Python in the hot path, no driver
collect) and the arithmetic replays term-for-term in a SQL oracle.

Reference parity: the reference engine exposes no geostatistics; these
extend the per-cell analytics family (morans_i/gistar/geary) that sits
on the S2 grid from kernels/hilbert.py (reference s2/cellid.go:180-260
for the cell keys themselves).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["solve3", "eb_rate_smoothing", "simple_kriging_3nn", "lag_ols"]


def _d(c: Column) -> Column:
    return c.cast("double")


def solve3(a, b):
    """Cramer's-rule solve of a 3x3 system ``A x = b`` as column
    expressions.

    ``a`` is a row-major 3x3 nested sequence of Columns, ``b`` a length-3
    sequence. Returns ``(x1, x2, x3, det)``. The determinant expansion
    order is FIXED (first-row cofactors) so a SQL oracle that writes the
    same expansion reproduces the floats bit-for-bit.
    """
    (a11, a12, a13), (a21, a22, a23), (a31, a32, a33) = a
    b1, b2, b3 = b

    def det(m11, m12, m13, m21, m22, m23, m31, m32, m33):
        return (
            m11 * (m22 * m33 - m23 * m32)
            - m12 * (m21 * m33 - m23 * m31)
            + m13 * (m21 * m32 - m22 * m31)
        )

    d0 = det(a11, a12, a13, a21, a22, a23, a31, a32, a33)
    d1 = det(b1, a12, a13, b2, a22, a23, b3, a32, a33)
    d2 = det(a11, b1, a13, a21, b2, a23, a31, b3, a33)
    d3 = det(a11, a12, b1, a21, a22, b2, a31, a32, b3)
    return d1 / d0, d2 / d0, d3 / d0, d0


def eb_rate_smoothing(
    area_counts: DataFrame,
    area_col: str = "cell",
    case_col: str = "cases",
    pop_col: str = "pop",
) -> DataFrame:
    """Marshall empirical-Bayes rate smoothing (disease-mapping style)
    over per-area integer (cases, population) counts.

    Classic small-area problem: raw rates ``r_i = c_i / p_i`` in
    low-population areas are noise. Shrink each toward the global rate
    ``m`` with the method-of-moments weight

        A    = s2 - m / pbar            (between-area variance, >= 0)
        w_i  = A / (A + m / p_i)
        eb_i = w_i * r_i + (1 - w_i) * m

    where ``s2`` is the population-weighted variance of the raw rates
    and ``pbar`` the mean population. Everything reduces to ONE global
    aggregation of exact BIGINT sums (sum c, sum p, n) plus one DOUBLE
    sum (sum c_i^2/p_i for the weighted variance), broadcast back onto
    the per-area rows — two jobs total, no shuffle beyond the input agg,
    scale-independent.

    Zero-population areas are EXCLUDED from the global moment sums (one
    p = 0 row would otherwise make c^2/p Inf/NaN and poison s2 — and
    therefore eb_rate — for every area) and surface in the output with
    NULL raw_rate / shrink_weight / eb_rate.
    """
    a = area_counts.select(
        F.col(area_col).alias("area"),
        F.col(case_col).cast("long").alias("c"),
        F.col(pop_col).cast("long").alias("p"),
    )
    g = a.where(F.col("p") > 0).agg(
        F.count("*").alias("n_areas"),
        F.sum("c").alias("sc"),
        F.sum("p").alias("sp"),
        # sum p_i r_i^2 = sum c_i^2 / p_i  (the one float sum)
        F.sum(_d(F.col("c")) * _d(F.col("c")) / _d(F.col("p"))).alias("scc"),
    )
    j = a.crossJoin(F.broadcast(g))
    m = _d(F.col("sc")) / _d(F.col("sp"))
    pbar = _d(F.col("sp")) / _d(F.col("n_areas"))
    # s2 = (sum p_i r_i^2 - m^2 * sum p) / sum p   (weighted variance)
    s2 = (F.col("scc") - m * m * _d(F.col("sp"))) / _d(F.col("sp"))
    big_a = F.greatest(s2 - m / pbar, F.lit(0.0))
    ok = F.col("p") > 0
    r = F.when(ok, _d(F.col("c")) / _d(F.col("p")))
    w = F.when(ok, big_a / (big_a + m / _d(F.col("p"))))
    eb = w * r + (F.lit(1.0) - w) * m
    return j.select(
        F.col("area"),
        F.col("c").alias(case_col),
        F.col("p").alias(pop_col),
        F.round(r, 9).alias("raw_rate"),
        F.round(w, 9).alias("shrink_weight"),
        F.round(eb, 9).alias("eb_rate"),
    )


def _angle_rad(lat_a, lng_a, lat_b, lng_b) -> Column:
    """Great-circle angle via atan2(|cross|, dot) of the unit vectors —
    the reference's Vector.Angle op order (r3/vector.go:96-98), written
    once so Spark and the SQL oracle share the exact float sequence."""
    ax = F.cos(F.radians(lng_a)) * F.cos(F.radians(lat_a))
    ay = F.sin(F.radians(lng_a)) * F.cos(F.radians(lat_a))
    az = F.sin(F.radians(lat_a))
    bx = F.cos(F.radians(lng_b)) * F.cos(F.radians(lat_b))
    by = F.sin(F.radians(lng_b)) * F.cos(F.radians(lat_b))
    bz = F.sin(F.radians(lat_b))
    cx = ay * bz - az * by
    cy = az * bx - ax * bz
    cz = ax * by - ay * bx
    return F.atan2(
        F.sqrt(cx * cx + cy * cy + cz * cz), ax * bx + ay * by + az * bz
    )


def simple_kriging_3nn(
    points: DataFrame,
    targets: DataFrame,
    value_col: str = "value",
    range_rad: float = 0.2,
    nugget: float = 0.05,
    point_key: str = "key",
    target_key: str = "target_key",
) -> DataFrame:
    """Simple kriging prediction at each target from its 3 nearest
    observations, exponential covariance ``C(h) = exp(-h / range)``.

    The 3x3 kriging system ``(K + nugget*I) w = k`` is solved in closed
    form with :func:`solve3` — no BLAS, no Python UDF; the whole
    predictor is one fixed column expression, so a SQL oracle replays it
    exactly. Output carries the neighbor keys, weights, the prediction
    ``zhat = m + w . (z - m)`` against the global mean m, and the
    kriging variance ``(1 + nugget) - w . k``.

    Plan shape: broadcast the (small) target set against the point
    table, window-rank the 3 nearest per target (angle, then point key
    for exact-tie determinism), pivot rank->columns with three
    conditional firsts, then pure expressions. At planet scale with a
    LARGE target set, feed the neighbor stage from
    ``spark.joins.knn_join_df`` (cell-level ladder) instead of
    the broadcast product; the solve stage is unchanged.

    The global mean is ``sum(value)/count`` — callers should supply an
    integer-valued ``value_col`` if they need cross-engine bit parity of
    the mean (float sums are order-sensitive).

    PRECONDITIONS: at least 3 observation points with DISTINCT
    coordinates must exist per target's neighborhood — with fewer than 3
    ranked neighbors the pivot columns are NULL and weights/prediction
    propagate NULL for that target (no crash, but no estimate);
    coincident duplicate observation points drive the Cramer determinant
    toward singular with only the nugget term as regularization. Filter
    targets with < 3 distinct-coordinate neighbors (or deduplicate
    observations) upstream if either case can occur.
    """
    from .functions import widen_to_parallelism

    # widen first: the target broadcast fans every point row out |t|x
    # with per-row trig BEFORE any exchange — a one-row-group scan would
    # run that whole stage on one core
    p = widen_to_parallelism(points, min_bytes=512 << 10).select(
        F.col(point_key).alias("pk"),
        F.col("lat").alias("plat"),
        F.col("lng").alias("plng"),
        _d(F.col(value_col)).alias("z"),
    )
    t = targets.select(
        F.col(target_key).alias("tk"),
        F.col("lat").alias("tlat"),
        F.col("lng").alias("tlng"),
    )
    gm = p.agg(
        F.sum("z").alias("zsum"), F.count("*").alias("zn")
    ).select((F.col("zsum") / _d(F.col("zn"))).alias("gmean"))

    cand = p.crossJoin(F.broadcast(t)).withColumn(
        "d", _angle_rad(F.col("tlat"), F.col("tlng"), F.col("plat"), F.col("plng"))
    )
    w3 = Window.partitionBy("tk").orderBy(F.col("d").asc(), F.col("pk").asc())
    top = cand.withColumn("rn", F.row_number().over(w3)).where(F.col("rn") <= 3)

    def pick(col, rn):
        return F.max(F.when(F.col("rn") == rn, F.col(col))).alias(f"{col}{rn}")

    piv = top.groupBy("tk", "tlat", "tlng").agg(
        *[pick(c, r) for r in (1, 2, 3) for c in ("pk", "plat", "plng", "z", "d")]
    )

    def cov(h: Column) -> Column:
        return F.exp(-h / F.lit(range_rad))

    d12 = _angle_rad(F.col("plat1"), F.col("plng1"), F.col("plat2"), F.col("plng2"))
    d13 = _angle_rad(F.col("plat1"), F.col("plng1"), F.col("plat3"), F.col("plng3"))
    d23 = _angle_rad(F.col("plat2"), F.col("plng2"), F.col("plat3"), F.col("plng3"))
    one = F.lit(1.0 + nugget)
    c12, c13, c23 = cov(d12), cov(d13), cov(d23)
    k1, k2, k3 = cov(F.col("d1")), cov(F.col("d2")), cov(F.col("d3"))
    w1, w2, w3_, _det = solve3(
        ((one, c12, c13), (c12, one, c23), (c13, c23, one)), (k1, k2, k3)
    )
    out = piv.crossJoin(F.broadcast(gm))
    gmean = F.col("gmean")
    zhat = gmean + (
        w1 * (F.col("z1") - gmean)
        + w2 * (F.col("z2") - gmean)
        + w3_ * (F.col("z3") - gmean)
    )
    kvar = one - (w1 * k1 + w2 * k2 + w3_ * k3)
    return out.select(
        F.col("tk").alias(target_key),
        F.col("pk1").alias("nn1"),
        F.col("pk2").alias("nn2"),
        F.col("pk3").alias("nn3"),
        F.round(w1, 9).alias("w1"),
        F.round(w2, 9).alias("w2"),
        F.round(w3_, 9).alias("w3"),
        F.round(zhat, 9).alias("zhat"),
        F.round(kvar, 9).alias("kriging_var"),
    )


def lag_ols(obs: DataFrame, y_col: str, x_col: str, lag_col: str) -> DataFrame:
    """Spatial-lag OLS ``y ~ b0 + b1 x + b2 lag`` in closed form.

    The caller supplies the spatial lag (e.g. the mean of the
    edge-neighbor cells' y — the Ord spatial-lag regressor); this solves
    the 3-parameter normal equations ``X'X b = X'y`` with
    :func:`solve3` from ONE aggregation of sufficient statistics and
    reports the betas plus R^2. Integer y/x keep the X'X sums exact
    BIGINT-derived; only the lag column contributes float sums.
    """
    o = obs.select(
        _d(F.col(y_col)).alias("y"),
        _d(F.col(x_col)).alias("x"),
        _d(F.col(lag_col)).alias("l"),
    )
    s = o.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("l").alias("sl"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("l")).alias("sxl"),
        F.sum(F.col("l") * F.col("l")).alias("sll"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("l") * F.col("y")).alias("sly"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = _d(F.col("n"))
    b0, b1, b2, _det = solve3(
        (
            (n, F.col("sx"), F.col("sl")),
            (F.col("sx"), F.col("sxx"), F.col("sxl")),
            (F.col("sl"), F.col("sxl"), F.col("sll")),
        ),
        (F.col("sy"), F.col("sxy"), F.col("sly")),
    )
    # SSE = y'y - b'X'y ; SST = y'y - n*ybar^2
    sse = F.col("syy") - (b0 * F.col("sy") + b1 * F.col("sxy") + b2 * F.col("sly"))
    sst = F.col("syy") - F.col("sy") * F.col("sy") / n
    return s.select(
        F.col("n").alias("n_obs"),
        F.round(b0, 9).alias("beta0"),
        F.round(b1, 9).alias("beta_x"),
        F.round(b2, 9).alias("beta_lag"),
        F.round(F.lit(1.0) - sse / sst, 9).alias("r2"),
    )
