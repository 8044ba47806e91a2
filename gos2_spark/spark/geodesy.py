"""Ellipsoidal and rhumb-line geodesy as shared SQL expression chains.

Vincenty's inverse formula (WGS84 geodesic distance) and rhumb-line
(loxodrome) distance/bearing — the navigation-grade complements to the
engine's spherical great-circle kernels. Both are defined here as an
ORDERED LIST of (column_name, sql_expression) steps over input columns
(lat1, lng1, lat2, lng2 in degrees): the SAME expression text is applied
as Spark `withColumn(F.expr(...))` chains AND as a generated DuckDB CTE
chain, so both engines execute textually identical IEEE double math with
exactly one op order (no float-sum-order or op-order exposure at all).
The only residual cross-engine divergence is last-bit libm rounding on
transcendentals (JVM Math vs DuckDB libm, <=1 ULP each; measured <=4 ULP
through the full 40-step chain — tests/test_geodesy.py), which the
query-level round-to-micrometers absorbs exactly.

Vincenty's lambda iteration runs a FIXED number of rounds (statically
unrolled — convergence is quadratic, 6 rounds reach full double
precision everywhere except the near-antipodal band, where the fixed
unroll is still deterministic and identical cross-engine).

Scale shape: pure per-row whole-stage-codegen expressions — zero
shuffles, zero Python, broadcast-friendly against any point table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# WGS84 (exact doubles, inlined with full repr into both engines)
_A = 6378137.0
_F = 1.0 / 298.257223563
_B = _A * (1.0 - _F)


def vincenty_steps(iters: int = 6) -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat1/lng1/lat2/lng2 deg -> vincenty_m.

    Reference: T. Vincenty, "Direct and Inverse Solutions of Geodesics on
    the Ellipsoid" (Survey Review XXIII/176, 1975), inverse formula with
    the standard Wikipedia/geographiclib notation.
    """
    f = repr(_F)
    a = repr(_A)
    b = repr(_B)
    steps = [
        ("u1", f"atan((1.0 - {f}) * tan(radians(lat1)))"),
        ("u2", f"atan((1.0 - {f}) * tan(radians(lat2)))"),
        ("sinu1", "sin(u1)"),
        ("cosu1", "cos(u1)"),
        ("sinu2", "sin(u2)"),
        ("cosu2", "cos(u2)"),
        ("ll", "radians(lng2) - radians(lng1)"),
        ("lam0", "ll"),
    ]
    i = 0
    for i in range(1, iters + 1):
        p = i - 1
        steps += [
            (f"sinlam{i}", f"sin(lam{p})"),
            (f"coslam{i}", f"cos(lam{p})"),
            (
                f"sinsig{i}",
                f"sqrt((cosu2 * sinlam{i}) * (cosu2 * sinlam{i})"
                f" + (cosu1 * sinu2 - sinu1 * cosu2 * coslam{i})"
                f" * (cosu1 * sinu2 - sinu1 * cosu2 * coslam{i}))",
            ),
            (f"cossig{i}", f"sinu1 * sinu2 + cosu1 * cosu2 * coslam{i}"),
            (f"sig{i}", f"atan2(sinsig{i}, cossig{i})"),
            (
                f"sinalp{i}",
                f"CASE WHEN sinsig{i} = 0.0 THEN 0.0"
                f" ELSE cosu1 * cosu2 * sinlam{i} / sinsig{i} END",
            ),
            (f"cos2alp{i}", f"1.0 - sinalp{i} * sinalp{i}"),
            (
                f"cos2sm{i}",
                f"CASE WHEN cos2alp{i} = 0.0 THEN 0.0"
                f" ELSE cossig{i} - 2.0 * sinu1 * sinu2 / cos2alp{i} END",
            ),
            (
                f"cc{i}",
                f"{f} / 16.0 * cos2alp{i}"
                f" * (4.0 + {f} * (4.0 - 3.0 * cos2alp{i}))",
            ),
            (
                f"lam{i}",
                f"ll + (1.0 - cc{i}) * {f} * sinalp{i}"
                f" * (sig{i} + cc{i} * sinsig{i} * (cos2sm{i}"
                f" + cc{i} * cossig{i}"
                f" * (2.0 * cos2sm{i} * cos2sm{i} - 1.0)))",
            ),
        ]
    n = i
    steps += [
        ("usq", f"cos2alp{n} * ({a} * {a} - {b} * {b}) / ({b} * {b})"),
        (
            "biga",
            "1.0 + usq / 16384.0"
            " * (4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq)))",
        ),
        (
            "bigb",
            "usq / 1024.0"
            " * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq)))",
        ),
        (
            "dsig",
            f"bigb * sinsig{n} * (cos2sm{n} + bigb / 4.0"
            f" * (cossig{n} * (-1.0 + 2.0 * cos2sm{n} * cos2sm{n})"
            f" - bigb / 6.0 * cos2sm{n}"
            f" * (-3.0 + 4.0 * sinsig{n} * sinsig{n})"
            f" * (-3.0 + 4.0 * cos2sm{n} * cos2sm{n})))",
        ),
        ("vincenty_m", f"{b} * biga * (sig{n} - dsig)"),
    ]
    return steps


def vincenty_direct_steps(iters: int = 6) -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat1/lng1 deg, az_deg, dist_m ->
    dest_lat/dest_lng (degrees, lng normalized to (-180, 180]).

    Vincenty's DIRECT problem (same 1975 paper): walk ``dist_m`` meters
    from (lat1, lng1) along initial azimuth ``az_deg`` on the WGS84
    ellipsoid. The sigma iteration converges quadratically; a fixed
    ``iters``-round unroll reaches full double precision for any
    sub-antipodal distance and keeps one deterministic op order.
    """
    f = repr(_F)
    a = repr(_A)
    b = repr(_B)
    steps = [
        ("du1", f"atan((1.0 - {f}) * tan(radians(lat1)))"),
        ("dsinu1", "sin(du1)"),
        ("dcosu1", "cos(du1)"),
        ("alp1", "radians(az_deg)"),
        ("sinal1", "sin(alp1)"),
        ("cosal1", "cos(alp1)"),
        ("dsig1", "atan2(tan(du1), cosal1)"),
        ("dsinalp", "dcosu1 * sinal1"),
        ("dcos2alp", "1.0 - dsinalp * dsinalp"),
        ("dusq", f"dcos2alp * ({a} * {a} - {b} * {b}) / ({b} * {b})"),
        (
            "dbiga",
            "1.0 + dusq / 16384.0"
            " * (4096.0 + dusq * (-768.0 + dusq * (320.0 - 175.0 * dusq)))",
        ),
        (
            "dbigb",
            "dusq / 1024.0"
            " * (256.0 + dusq * (-128.0 + dusq * (74.0 - 47.0 * dusq)))",
        ),
        ("sg0", f"dist_m / ({b} * dbiga)"),
    ]
    i = 0
    prev = "sg0"
    for i in range(1, iters + 1):
        steps += [
            (f"c2sm{i}", f"cos(2.0 * dsig1 + {prev})"),
            (f"ssg{i}", f"sin({prev})"),
            (f"csg{i}", f"cos({prev})"),
            (
                f"dl{i}",
                f"dbigb * ssg{i} * (c2sm{i} + dbigb / 4.0"
                f" * (csg{i} * (-1.0 + 2.0 * c2sm{i} * c2sm{i})"
                f" - dbigb / 6.0 * c2sm{i}"
                f" * (-3.0 + 4.0 * ssg{i} * ssg{i})"
                f" * (-3.0 + 4.0 * c2sm{i} * c2sm{i})))",
            ),
            (f"sg{i}", f"sg0 + dl{i}"),
        ]
        prev = f"sg{i}"
    n = i
    steps += [
        ("fss", f"sin(sg{n})"),
        ("fcs", f"cos(sg{n})"),
        ("fc2sm", f"cos(2.0 * dsig1 + sg{n})"),
        (
            "dest_lat",
            f"degrees(atan2(dsinu1 * fcs + dcosu1 * fss * cosal1,"
            f" (1.0 - {f}) * sqrt(dsinalp * dsinalp"
            f" + (dsinu1 * fss - dcosu1 * fcs * cosal1)"
            f" * (dsinu1 * fss - dcosu1 * fcs * cosal1))))",
        ),
        (
            "dlamb",
            "atan2(fss * sinal1, dcosu1 * fcs - dsinu1 * fss * cosal1)",
        ),
        (
            "dcc",
            f"{f} / 16.0 * dcos2alp"
            f" * (4.0 + {f} * (4.0 - 3.0 * dcos2alp))",
        ),
        (
            "dbigl",
            f"dlamb - (1.0 - dcc) * {f} * dsinalp"
            f" * (sg{n} + dcc * fss * (fc2sm"
            f" + dcc * fcs * (2.0 * fc2sm * fc2sm - 1.0)))",
        ),
        ("rawlng", "lng1 + degrees(dbigl)"),
        (
            "dest_lng",
            "CASE WHEN rawlng > 180.0 THEN rawlng - 360.0"
            " WHEN rawlng <= -180.0 THEN rawlng + 360.0"
            " ELSE rawlng END",
        ),
    ]
    return steps


def rhumb_steps() -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat/lng deg -> rhumb_m, rhumb_brg_deg.

    Loxodrome on the auth. sphere (R = WGS84 semi-major): distance along
    a constant-bearing track and that bearing (0..360). The Mercator
    stretch dpsi degenerates on an exact parallel — the standard q =
    cos(lat) fallback applies (Bowditch). Longitude differences wrap to
    the short way (< 180 deg), matching nautical practice.
    """
    a = repr(_A)
    return [
        ("phi1", "radians(lat1)"),
        ("phi2", "radians(lat2)"),
        ("dphi", "phi2 - phi1"),
        ("dlamraw", "radians(lng2) - radians(lng1)"),
        (
            "dlam",
            f"CASE WHEN dlamraw > pi() THEN dlamraw - 2.0 * pi()"
            f" WHEN dlamraw < -pi() THEN dlamraw + 2.0 * pi()"
            f" ELSE dlamraw END",
        ),
        (
            "dpsi",
            "ln(tan(pi() / 4.0 + phi2 / 2.0)"
            " / tan(pi() / 4.0 + phi1 / 2.0))",
        ),
        (
            "qq",
            "CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi"
            " ELSE cos(phi1) END",
        ),
        (
            "rhumb_m",
            f"sqrt(dphi * dphi + qq * qq * dlam * dlam) * {a}",
        ),
        (
            "rhumb_brg_deg",
            "CASE WHEN dlam = 0.0 AND dphi = 0.0 THEN 0.0 ELSE"
            " ((degrees(atan2(dlam, dpsi)) % 360.0) + 360.0) % 360.0 END",
        ),
    ]


def apply_steps(df: DataFrame, steps: list[tuple[str, str]]) -> DataFrame:
    """Chain the expression steps onto ``df`` as withColumn(F.expr)."""
    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df


def duckdb_steps_cte(base_cte: str, steps: list[tuple[str, str]]) -> str:
    """Composable WITH-body: ``base_cte`` must define relation ``g0``
    with lat1/lng1/lat2/lng2; returns CTE text ending in ``gN`` holding
    every step column. Each step is one SELECT * plus one new column —
    the exact shape Spark's withColumn chain evaluates."""
    parts = [base_cte]
    prev = "g0"
    for idx, (name, expr) in enumerate(steps, start=1):
        cur = f"g{idx}"
        parts.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    return ",\n".join(parts), prev


def utm_steps() -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat/lng degrees -> UTM zone, easting,
    northing (Snyder 1987 transverse-Mercator series on WGS84, k0 =
    0.9996 — the formulation PROJ's +proj=utm approximates to sub-mm).
    Same textual-twin discipline as the Vincenty chains: one op order,
    both engines.

    Zone rule: the standard 6-degree bands with the antimeridian wrapped
    — lng = +180.0 maps to zone 1, not the out-of-range zone 61 a bare
    floor((lng+180)/6)+1 yields (the `% 360` below is a no-op for every
    other in-range longitude). The Norway (32V) and Svalbard (31X-37X)
    exception zones are intentionally NOT applied — this is the plain
    mathematical graticule, as in PROJ's +proj=utm +zone=N."""
    f = _F
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    a = repr(_A)
    # meridian-arc coefficients (exact python doubles -> shared literals)
    m0 = repr(1.0 - e2 / 4.0 - 3.0 * e2 * e2 / 64.0 - 5.0 * e2**3 / 256.0)
    m2 = repr(3.0 * e2 / 8.0 + 3.0 * e2 * e2 / 32.0 + 45.0 * e2**3 / 1024.0)
    m4 = repr(15.0 * e2 * e2 / 256.0 + 45.0 * e2**3 / 1024.0)
    m6 = repr(35.0 * e2**3 / 3072.0)
    e2r = repr(e2)
    ep2r = repr(ep2)
    return [
        ("zone", "CAST(floor(((lng + 180.0) % 360.0) / 6.0) + 1 AS BIGINT)"),
        ("lam0", "radians(CAST(zone AS DOUBLE) * 6.0 - 183.0)"),
        ("phi", "radians(lat)"),
        ("sphi", "sin(phi)"),
        ("cphi", "cos(phi)"),
        ("nn", f"{a} / sqrt(1.0 - {e2r} * sphi * sphi)"),
        ("tt", "(sphi / cphi) * (sphi / cphi)"),
        ("cc", f"{ep2r} * cphi * cphi"),
        ("aa", "(radians(lng) - lam0) * cphi"),
        (
            "mm",
            f"{a} * ({m0} * phi - {m2} * sin(2.0 * phi)"
            f" + {m4} * sin(4.0 * phi) - {m6} * sin(6.0 * phi))",
        ),
        (
            "easting",
            "0.9996 * nn * (aa + (1.0 - tt + cc) * aa * aa * aa / 6.0"
            " + (5.0 - 18.0 * tt + tt * tt + 72.0 * cc"
            f" - 58.0 * {ep2r}) * aa * aa * aa * aa * aa / 120.0)"
            " + 500000.0",
        ),
        (
            "northing_raw",
            "0.9996 * (mm + nn * (sphi / cphi) * (aa * aa / 2.0"
            " + (5.0 - tt + 9.0 * cc + 4.0 * cc * cc)"
            " * aa * aa * aa * aa / 24.0"
            " + (61.0 - 58.0 * tt + tt * tt + 600.0 * cc"
            f" - 330.0 * {ep2r}) * aa * aa * aa * aa * aa * aa / 720.0))",
        ),
        (
            "northing",
            "CASE WHEN lat < 0.0 THEN northing_raw + 10000000.0"
            " ELSE northing_raw END",
        ),
    ]


def utm_project(df: DataFrame) -> DataFrame:
    """Append UTM (zone, hemisphere, easting, northing) to a lat/lng
    degree-column DataFrame. Pure codegen, zero shuffles."""
    steps = utm_steps()
    tmp = [
        n
        for n, _ in steps
        if n not in ("zone", "easting", "northing")
    ]
    out = apply_steps(df, steps)
    return out.withColumn(
        "hemisphere", F.when(F.col("lat") < 0.0, F.lit("S")).otherwise(F.lit("N"))
    ).drop(*tmp)


def albers_steps() -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat/lng degrees -> Albers equal-area
    conic x/y on WGS84 (Snyder 1987 section 14, the contiguous-US
    parameterization: standard parallels 29.5/45.5, origin 23N 96W).
    Same textual-twin discipline as utm_steps: every constant is a fully
    evaluated Python double inlined by repr, one op order, both engines."""
    import math as _m

    f = _F
    e2 = f * (2.0 - f)
    e = _m.sqrt(e2)

    def q_of(phi):
        s = _m.sin(phi)
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * _m.log((1.0 - e * s) / (1.0 + e * s))
        )

    def m_of(phi):
        s, c = _m.sin(phi), _m.cos(phi)
        return c / _m.sqrt(1.0 - e2 * s * s)

    phi1, phi2 = _m.radians(29.5), _m.radians(45.5)
    phi0, lam0 = _m.radians(23.0), _m.radians(-96.0)
    m1, m2 = m_of(phi1), m_of(phi2)
    q0, q1, q2 = q_of(phi0), q_of(phi1), q_of(phi2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = _A * _m.sqrt(c - n * q0) / n
    e2r, er = repr(e2), repr(e)
    return [
        ("phi", "radians(lat)"),
        ("sphi", "sin(phi)"),
        (
            "q",
            f"(1.0 - {e2r}) * (sphi / (1.0 - {e2r} * sphi * sphi)"
            f" - (1.0 / (2.0 * {er}))"
            f" * ln((1.0 - {er} * sphi) / (1.0 + {er} * sphi)))",
        ),
        ("rho", f"{_A!r} * sqrt({c!r} - {n!r} * q) / {n!r}"),
        ("theta", f"{n!r} * (radians(lng) - {lam0!r})"),
        ("x_albers", "rho * sin(theta)"),
        ("y_albers", f"{rho0!r} - rho * cos(theta)"),
    ]


def lcc_steps() -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat/lng degrees -> Lambert conformal
    conic x/y on WGS84 (Snyder 1987 section 15, standard parallels
    33/45, origin 23N 96W). Textual-twin discipline as albers_steps."""
    import math as _m

    f = _F
    e2 = f * (2.0 - f)
    e = _m.sqrt(e2)

    def m_of(phi):
        s, c = _m.sin(phi), _m.cos(phi)
        return c / _m.sqrt(1.0 - e2 * s * s)

    def t_of(phi):
        s = _m.sin(phi)
        return _m.tan(_m.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    phi1, phi2 = _m.radians(33.0), _m.radians(45.0)
    phi0, lam0 = _m.radians(23.0), _m.radians(-96.0)
    n = (_m.log(m_of(phi1)) - _m.log(m_of(phi2))) / (
        _m.log(t_of(phi1)) - _m.log(t_of(phi2))
    )
    big_f = m_of(phi1) / (n * t_of(phi1) ** n)
    rho0 = _A * big_f * t_of(phi0) ** n
    er = repr(e)
    return [
        ("phi", "radians(lat)"),
        ("sphi", "sin(phi)"),
        (
            "t",
            f"tan({_m.pi / 4.0!r} - phi / 2.0)"
            f" / power((1.0 - {er} * sphi) / (1.0 + {er} * sphi),"
            f" {e / 2.0!r})",
        ),
        # a*F premultiplied in Python (one double product) — DuckDB would
        # otherwise parse the two literals as DECIMALs and overflow
        ("rho", f"{_A * big_f!r} * power(t, {n!r})"),
        ("theta", f"{n!r} * (radians(lng) - {lam0!r})"),
        ("x_lcc", "rho * sin(theta)"),
        ("y_lcc", f"{rho0!r} - rho * cos(theta)"),
    ]


def aeqd_steps() -> list[tuple[str, str]]:
    """(name, sql_expr) chain: lat/lng degrees -> azimuthal equidistant
    x/y in meters about London (51.5074 N, 0.1278 W) on the mean-radius
    sphere (Snyder 1987 section 25, spherical form): c = angular
    distance to the center, az = initial bearing, x = R*c*sin(az),
    y = R*c*cos(az). Textual-twin discipline as albers_steps/lcc_steps."""
    import math as _m

    phi0 = _m.radians(51.5074)
    lam0 = _m.radians(-0.1278)
    r_mean = 6371008.8
    return [
        ("phi", "radians(lat)"),
        ("dlam", f"radians(lng) - {lam0!r}"),
        (
            "cosc",
            f"{_m.sin(phi0)!r} * sin(phi)"
            f" + {_m.cos(phi0)!r} * cos(phi) * cos(dlam)",
        ),
        ("c", "acos(greatest(-1.0, least(1.0, cosc)))"),
        (
            "az",
            f"atan2(sin(dlam) * cos(phi),"
            f" {_m.cos(phi0)!r} * sin(phi)"
            f" - {_m.sin(phi0)!r} * cos(phi) * cos(dlam))",
        ),
        ("x_aeqd", f"{r_mean!r} * c * sin(az)"),
        ("y_aeqd", f"{r_mean!r} * c * cos(az)"),
    ]
