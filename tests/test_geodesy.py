"""WGS84 Vincenty inverse + rhumb-line step chains (gos2_spark/spark/geodesy.py).

Ground truth: closed-form ellipsoid facts (equatorial arc = a*dlon exactly,
meridian quadrant = 10_001_965.729 m for WGS84) plus published geodesic
distances (LAX-JFK from Vincenty's own worked tradition), symmetry, and
great-circle agreement bounds (geodesic within 0.5% of the spherical
haversine, rhumb >= geodesic along non-loxodromic tracks).
"""

import math

import duckdb
import pytest

from gos2_spark.spark.geodesy import (
    apply_steps,
    duckdb_steps_cte,
    rhumb_steps,
    vincenty_steps,
)

A = 6378137.0


def _duck(rows, steps, cols):
    """Run the same step chain in DuckDB over literal rows."""
    vals = ", ".join(f"({la1!r}, {lo1!r}, {la2!r}, {lo2!r})" for la1, lo1, la2, lo2 in rows)
    base = f"g0(lat1, lng1, lat2, lng2) AS (VALUES {vals})"
    body, last = duckdb_steps_cte(base, steps)
    sel = ", ".join(cols)
    return duckdb.sql(f"WITH {body} SELECT {sel} FROM {last}").fetchall()


CASES = [
    # equator arc: geodesic == a * dlon exactly (equator is a geodesic)
    (0.0, 0.0, 0.0, 10.0),
    # meridian quadrant
    (0.0, 0.0, 90.0, 0.0),
    # LAX -> JFK (classic test pair)
    (33.9425, -118.4081, 40.6398, -73.7789),
    # short hop (sub-km)
    (52.5, 13.4, 52.5008, 13.4011),
    # southern hemisphere, dateline-crossing rhumb
    (-33.8688, 151.2093, -36.8485, 174.7633),
]


def test_vincenty_known_values():
    out = _duck(CASES, vincenty_steps(6), ["vincenty_m"])
    eq, quad, laxjfk, short, tasman = (r[0] for r in out)
    assert eq == pytest.approx(A * math.radians(10.0), abs=1e-6)
    assert quad == pytest.approx(10_001_965.729, abs=0.01)
    # matches an independently-coded converged Vincenty loop to sub-mm
    assert laxjfk == pytest.approx(3_982_949.0227, abs=0.01)
    assert 0 < short < 1500
    assert tasman == pytest.approx(2_160_508.809, abs=0.01)


def test_vincenty_symmetry_and_haversine_band():
    fwd = _duck(CASES, vincenty_steps(6), ["vincenty_m"])
    rev = _duck(
        [(la2, lo2, la1, lo1) for la1, lo1, la2, lo2 in CASES],
        vincenty_steps(6),
        ["vincenty_m"],
    )
    for (d1,), (d2,), (la1, lo1, la2, lo2) in zip(fwd, rev, CASES):
        assert d1 == pytest.approx(d2, rel=1e-9)
        # spherical haversine on the mean radius should agree within 0.5%
        r = 6371008.8
        h = (
            math.sin(math.radians(la2 - la1) / 2) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(math.radians(lo2 - lo1) / 2) ** 2
        )
        hav = 2 * r * math.asin(math.sqrt(h))
        assert d1 == pytest.approx(hav, rel=5e-3)


def test_rhumb_parallels_meridians_and_bounds():
    rows = [
        (10.0, 20.0, 10.0, 30.0),  # along a parallel: q = cos(lat) branch
        (0.0, 0.0, 45.0, 0.0),  # along a meridian: bearing 0
        (45.0, 0.0, 0.0, 0.0),  # south along a meridian: bearing 180
        (10.0, 179.0, 10.0, -179.0),  # dateline wrap: eastward short way
        (33.9425, -118.4081, 40.6398, -73.7789),
    ]
    out = _duck(rows, rhumb_steps(), ["rhumb_m", "rhumb_brg_deg"])
    par, mer_n, mer_s, wrap, lax = out
    assert par[0] == pytest.approx(
        A * math.radians(10.0) * math.cos(math.radians(10.0)), rel=1e-12
    )
    assert par[1] == pytest.approx(90.0, abs=1e-9)
    assert mer_n[0] == pytest.approx(A * math.radians(45.0), rel=1e-12)
    assert mer_n[1] == pytest.approx(0.0, abs=1e-9)
    assert mer_s[1] == pytest.approx(180.0, abs=1e-9)
    # wrap: 2 degrees of longitude eastward, not 358 westward
    assert wrap[0] == pytest.approx(
        A * math.radians(2.0) * math.cos(math.radians(10.0)), rel=1e-10
    )
    assert wrap[1] == pytest.approx(90.0, abs=1e-9)
    # rhumb >= geodesic for any non-loxodromic track
    geo = _duck(rows[-1:], vincenty_steps(6), ["vincenty_m"])[0][0]
    assert lax[0] > geo


def test_spark_duckdb_bit_identical(spark):
    """Same step text in both engines -> identical op order, so the only
    residual divergence is last-bit libm rounding (JVM Math vs DuckDB's
    libm differ by <=1 ULP on transcendentals). Assert <=4 ULP end-to-end
    after the 40-step chain; the query-level round(6 dp of meters) then
    makes the compared outputs exactly equal."""
    rows = [(i, *c) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(
        rows, "id long, lat1 double, lng1 double, lat2 double, lng2 double"
    )
    got = (
        apply_steps(df, vincenty_steps(6) + rhumb_steps())
        .select("id", "vincenty_m", "rhumb_m", "rhumb_brg_deg")
        .orderBy("id")
        .collect()
    )
    want = _duck(
        CASES,
        vincenty_steps(6) + rhumb_steps(),
        ["vincenty_m", "rhumb_m", "rhumb_brg_deg"],
    )
    for g, w in zip(got, want):
        for col, ref in zip(("vincenty_m", "rhumb_m", "rhumb_brg_deg"), w):
            assert abs(g[col] - ref) <= 4 * math.ulp(max(abs(ref), 1.0)), (
                col,
                g[col].hex(),
                ref.hex(),
            )


def test_direct_inverse_roundtrip():
    """Walk (az, s) from P1 with the DIRECT chain, then measure P1->P2
    with the INVERSE chain: distance must come back to sub-micrometer."""
    from gos2_spark.spark.geodesy import vincenty_direct_steps

    starts = [
        (33.9425, -118.4081, 65.0, 3_982_949.0),
        (0.0, 0.0, 90.0, 1_113_194.9),
        (52.5, 13.4, 210.0, 50_000.0),
        (10.0, 179.5, 90.0, 200_000.0),  # dateline-crossing destination
        (-33.8688, 151.2093, 45.3, 2_160_508.8),
    ]
    vals = ", ".join(f"({a!r}, {b!r}, {c!r}, {d!r})" for a, b, c, d in starts)
    base = f"g0(lat1, lng1, az_deg, dist_m) AS (VALUES {vals})"
    body, last = duckdb_steps_cte(base, vincenty_direct_steps(6))
    import duckdb as _dd

    dest = _dd.sql(
        f"WITH {body} SELECT lat1, lng1, dest_lat, dest_lng, dist_m FROM {last}"
    ).fetchall()
    dest = [tuple(float(v) for v in row) for row in dest]
    back = _duck(
        [(la1, lo1, la2, lo2) for la1, lo1, la2, lo2, _s in dest],
        vincenty_steps(6),
        ["vincenty_m"],
    )
    for (_, _, la2, lo2, s), (d,) in zip(dest, back):
        assert -90.0 <= la2 <= 90.0 and -180.0 < lo2 <= 180.0
        assert d == pytest.approx(s, abs=1e-6)


def test_solar_position_physical_sanity():
    """NOAA solar chain vs closed-form solstice/equinox geometry:
    noon elevation ~= 90 - |lat - decl| with decl 0 (equinox) /
    +-23.44 (solstices)."""
    import duckdb as _dd

    import __spark_entry__ as e

    rows = [
        (0.0, 0.0, 80, 12, 7, 0),  # equator, equinox, solar noon
        (0.0, 0.0, 80, 0, 7, 0),  # equator, equinox, midnight
        (51.5, 0.0, 172, 12, 2, 0),  # London, summer solstice noon
        (51.5, 0.0, 355, 12, 0, 0),  # London, winter solstice noon
    ]
    vals = ", ".join(
        f"({a!r}, {b!r}, {c}, {d}, {m}, {s})" for a, b, c, d, m, s in rows
    )
    base = f"g0(lat, lng, doy, hh, mi, ss) AS (VALUES {vals})"
    body, last = duckdb_steps_cte(base, e._SOLAR_STEPS)
    out = [
        r[0]
        for r in _dd.sql(f"WITH {body} SELECT elev_deg FROM {last}").fetchall()
    ]
    assert out[0] == pytest.approx(90.0, abs=1.0)
    assert out[1] == pytest.approx(-90.0, abs=1.0)
    assert out[2] == pytest.approx(90.0 - 51.5 + 23.44, abs=0.6)
    assert out[3] == pytest.approx(90.0 - 51.5 - 23.44, abs=0.6)
