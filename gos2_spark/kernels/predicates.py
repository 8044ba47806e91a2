"""Robust spherical-geometry predicates: vectorized triage + exact escalation.

Re-expresses the reference's correctness core (`/root/reference/s2/point.go`
TriageCCW:299-308, ExpensiveCCW:237-282, SymbolicallyPerturbedCCW:122-235,
OrderedCCW:310-325; `s2/edgeutil.go` EdgeCrosser:129-242,
VertexCrossing:244-269, DistanceToEdge:77-106).

Strategy (SURVEY §2.3): the float triage pass runs over whole numpy batches
with a ±maxDetError uncertainty band; only entries inside the band escalate
to the exact path. Exactness uses Python ``Fraction`` (every float64 is a
dyadic rational, so Fraction arithmetic computes the determinant with zero
rounding — equivalent to the reference's ExactFloat). On real-world data the
escape path sees ~0 rows per batch; it exists for bit-parity on degenerate
fixtures.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

# Cells (rows x vertices) per refine slice: sized so each intermediate
# matrix is ~128 KB (L1/L2-resident). See contains_points_in_loop docstring
# for the measured sweep.
_MAX_CELLS_PER_SLICE = 16000

MAX_DET_ERROR = 0.8e-15  # 14 * 2**-54 (point.go:20)

# OriginPoint (point.go:41-43): the fixed "point at infinity" for crossing
# parity. Must match the reference exactly for identical containment results.
ORIGIN = np.array([0.00456762077230, 0.99947476613078, 0.03208315302933])


# --------------------------------------------------------------------------
# scalar exact core (escape path + driver-side geometry)
# --------------------------------------------------------------------------

def _sign(x) -> int:
    if x > 0:
        return 1
    if x < 0:
        return -1
    return 0


def _cross3(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def _dot3(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def symbolically_perturbed_ccw(a, b, c, b_cross_c) -> int:
    """Simulation-of-Simplicity tie-break ladder (point.go:122-235).

    Inputs are exact (Fraction) 3-tuples with a < b < c lexicographically and
    an exactly-zero determinant. Returns +1/-1.
    """
    for v in (b_cross_c[2], b_cross_c[1], b_cross_c[0]):  # da[2], da[1], da[0]
        if v != 0:
            return _sign(v)
    s = c[0] * a[1] - c[1] * a[0]  # db[2]
    if s != 0:
        return _sign(s)
    if c[0] != 0:  # db[2] * da[1]
        return _sign(c[0])
    if c[1] != 0:  # db[2] * da[0]
        return -_sign(c[1])
    s = c[2] * a[0] - c[0] * a[2]  # db[1]
    if s != 0:
        return _sign(s)
    if c[2] != 0:  # db[1] * da[0]
        return _sign(c[2])
    # here C == (0,0,0)
    s = a[0] * b[1] - a[1] * b[0]  # dc[2]
    if s != 0:
        return _sign(s)
    if b[0] != 0:  # dc[2] * da[1]
        return -_sign(b[0])
    if b[1] != 0:  # dc[2] * da[0]
        return _sign(b[1])
    if a[0] != 0:  # dc[2] * db[1]
        return _sign(a[0])
    return 1  # dc[2] * db[1] * da[0]


def expensive_ccw(a, b, c) -> int:
    """Exact-arithmetic CCW after lexicographic sort (point.go:237-282).

    a, b, c are float 3-tuples. Returns {-1, 0, +1}; 0 iff two points equal.
    """
    a = tuple(map(float, a))
    b = tuple(map(float, b))
    c = tuple(map(float, c))
    if a == b or b == c or c == a:
        return 0
    perm_sign = 1
    pa, pb, pc = a, b, c
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    if pb > pc:
        pb, pc = pc, pb
        perm_sign = -perm_sign
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    xa = tuple(Fraction(v) for v in pa)
    xb = tuple(Fraction(v) for v in pb)
    xc = tuple(Fraction(v) for v in pc)
    bxc = _cross3(xb, xc)
    det = _dot3(xa, bxc)
    det_sign = _sign(det)
    if det_sign == 0:
        det_sign = symbolically_perturbed_ccw(xa, xb, xc, bxc)
    return perm_sign * det_sign


def triage_ccw(det: float) -> int:
    """point.go:299-308 given the precomputed det = (a×b)·c."""
    if det > MAX_DET_ERROR:
        return 1
    if det < -MAX_DET_ERROR:
        return -1
    return 0


def robust_ccw(a, b, c) -> int:
    """point.go:284-297: triage then exact. Scalar (driver-side / escape)."""
    acb = _cross3(a, b)
    ccw = triage_ccw(_dot3(acb, c))
    if ccw == 0:
        ccw = expensive_ccw(a, b, c)
    return ccw


def simple_ccw(a, b, c) -> bool:
    """Strict CCW via (c×a)·b > 0 (point.go:80-93)."""
    return _dot3(_cross3(c, a), b) > 0


def ordered_ccw(a, b, c, o) -> bool:
    """"b between a and c around o" — 2-of-3 RobustCCW votes (point.go:310-325)."""
    total = 0
    if robust_ccw(b, o, a) >= 0:
        total += 1
    if robust_ccw(c, o, b) >= 0:
        total += 1
    if robust_ccw(a, o, c) > 0:
        total += 1
    return total >= 2


def ortho(v):
    """Unit vector orthogonal to v (r3/vector.go:104-106)."""
    x = _cross3(v, (0.012, 0.0053, 0.00457))
    n = float(np.sqrt(_dot3(x, x)))
    return (x[0] / n, x[1] / n, x[2] / n)


def vertex_crossing(a, b, c, d) -> bool:
    """Shared-vertex crossing parity (edgeutil.go:244-269)."""
    a, b, c, d = (tuple(map(float, p)) for p in (a, b, c, d))
    if a == b or c == d:
        return False
    if a == d:
        return ordered_ccw(ortho(a), c, b, a)
    if b == c:
        return ordered_ccw(ortho(b), d, a, b)
    if a == c:
        return ordered_ccw(ortho(a), d, b, a)
    if b == d:
        return ordered_ccw(ortho(b), c, a, b)
    raise ValueError("VertexCrossing called with 4 distinct vertices")


def robust_crossing(a, b, c, d) -> int:
    """Edge AB vs edge CD: +1 crossing / 0 shared-vertex / -1 none
    (edgeutil.go:139-191, scalar form for tests & driver geometry)."""
    a_cross_b = _cross3(a, b)
    acb = -_robust_ccw_with_cross(a, b, c, a_cross_b)
    bda = _robust_ccw_with_cross(a, b, d, a_cross_b)
    if bda == -acb and bda != 0:
        return -1
    if (bda & acb) == 0:
        return 0
    # slow path (edgeutil.go:229-242)
    c_cross_d = _cross3(c, d)
    cbd = -_robust_ccw_with_cross(c, d, b, c_cross_d)
    if cbd != acb:
        return -1
    dac = _robust_ccw_with_cross(c, d, a, c_cross_d)
    if dac == acb:
        return 1
    return -1


def _robust_ccw_with_cross(a, b, c, a_cross_b) -> int:
    ccw = triage_ccw(_dot3(a_cross_b, c))
    if ccw == 0:
        ccw = expensive_ccw(a, b, c)
    return ccw


def edge_or_vertex_crossing(a, b, c, d) -> bool:
    """edgeutil.go:218-227 — the point-in-polygon parity primitive."""
    crossing = robust_crossing(a, b, c, d)
    if crossing < 0:
        return False
    if crossing > 0:
        return True
    return vertex_crossing(a, b, c, d)


WEDGE_EQUALS = 0
WEDGE_PROPERLY_CONTAINS = 1
WEDGE_IS_PROPERLY_CONTAINED = 2
WEDGE_PROPERLY_OVERLAPS = 3
WEDGE_IS_DISJOINT = 4


def wedge_intersects(a0, ab1, a2, b0, b2) -> bool:
    """edgeutil.go:18-25."""
    return not (ordered_ccw(a0, b2, b0, ab1) and ordered_ccw(b0, a2, a0, ab1))


def wedge_contains(a0, ab1, a2, b0, b2) -> bool:
    """edgeutil.go:27-32."""
    return ordered_ccw(a2, b2, b0, ab1) and ordered_ccw(b0, a0, a2, ab1)


def get_wedge_relation(a0, ab1, a2, b0, b2) -> int:
    """5-way loop-relation enum at a shared vertex (edgeutil.go:34-75)."""
    a0, a2, b0, b2 = (tuple(map(float, p)) for p in (a0, a2, b0, b2))
    if a0 == b0 and a2 == b2:
        return WEDGE_EQUALS
    if ordered_ccw(a0, a2, b2, ab1):
        if ordered_ccw(b2, b0, a0, ab1):
            return WEDGE_PROPERLY_CONTAINS
        if a2 == b2:
            return WEDGE_IS_PROPERLY_CONTAINED
        return WEDGE_PROPERLY_OVERLAPS
    if ordered_ccw(a0, b0, b2, ab1):
        return WEDGE_IS_PROPERLY_CONTAINED
    if ordered_ccw(a0, b0, a2, ab1):
        return WEDGE_IS_DISJOINT
    return WEDGE_PROPERLY_OVERLAPS


# --------------------------------------------------------------------------
# vectorized batch predicates
# --------------------------------------------------------------------------

def triage_sign_batch(dets: np.ndarray) -> np.ndarray:
    """Vectorized TriageCCW over precomputed determinants.

    Returns int8 in {-1, 0, +1}; 0 marks the uncertainty band |det| <=
    MAX_DET_ERROR which callers must escalate via ``expensive_ccw``.
    """
    return (np.where(dets > MAX_DET_ERROR, 1, 0)
            + np.where(dets < -MAX_DET_ERROR, -1, 0)).astype(np.int8)


def _escalate(signs: np.ndarray, dets: np.ndarray, get_abc) -> np.ndarray:
    """Replace uncertain (0) triage entries with exact CCW results.

    ``get_abc(flat_index)`` returns the (a, b, c) float tuples for that entry.
    """
    flat = signs.ravel()
    if not (flat == 0).any():
        return signs
    for idx in np.flatnonzero(flat == 0):
        a, b, c = get_abc(int(idx))
        flat[idx] = expensive_ccw(a, b, c)
    return flat.reshape(signs.shape)


def contains_points_in_loop(
    points: np.ndarray,
    vertices: np.ndarray,
    origin_inside: bool,
) -> np.ndarray:
    """Vectorized Loop.Contains for a batch of points against one loop.

    The reference walks an EdgeCrosser along the vertex chain per point
    (loop.go:532-558, edgeutil.go:154-242). Here the crosser "state" becomes
    shifted columns of a (N, M) sign matrix: two matmuls compute every
    RobustCCW determinant at once, and only uncertainty-band entries fall
    back to exact arithmetic. Bit-identical verdicts to the reference.

    points:   (N, 3) unit xyz query points.
    vertices: (M, 3) loop vertex chain (CCW, not closed).
    origin_inside: precomputed Loop.origin_inside seed (loop.go:327-350).

    Returns (N,) bool.

    The working set is O(N*M); the batch is processed in slices sized so
    each (rows, M) intermediate stays ~128 KB — L1/L2-resident on one core.
    Measured sweep (this box, 32-core Xeon, min-of-runs): 16k cells beats
    the naive 4M-cell (32 MB, DRAM-streaming) slicing 2.5x single-process
    and 10x at 32 concurrent workers for a 384-vertex loop, and 1.6x / 1.8x
    for a 16-vertex tile — the kernel is memory-bound, so keeping all of
    D/S/T in cache converts it to compute-bound and restores multi-worker
    scaling.
    """
    P = np.asarray(points, dtype=np.float64)
    V = np.asarray(vertices, dtype=np.float64)
    n, m = len(P), len(V)
    if n == 0:
        return np.zeros(0, dtype=bool)

    max_cells_per_slice = _MAX_CELLS_PER_SLICE
    rows_per_slice = max(1, max_cells_per_slice // max(m, 1))
    if n > rows_per_slice:
        out = np.empty(n, dtype=bool)
        for s in range(0, n, rows_per_slice):
            out[s:s + rows_per_slice] = contains_points_in_loop(
                P[s:s + rows_per_slice], V, origin_inside
            )
        return out

    # A = origin, B = p: a_cross_b per point.
    AxB = np.cross(np.broadcast_to(ORIGIN, P.shape), P)
    # D[i,k] = (origin × p_i) · v_k  == det of RobustCCW2(origin, p_i, v_k)
    D = AxB @ V.T
    S = triage_sign_batch(D)
    S = _escalate(
        S, D, lambda idx: (tuple(ORIGIN), tuple(P[idx // m]), tuple(V[idx % m]))
    )

    # Edge k goes v_k -> v_{k+1 mod m}; per-edge sign columns.
    S_c = S                       # sign at edge start (acb = -S_c)
    S_d = np.roll(S, -1, axis=1)  # sign at edge end   (bda =  S_d)

    same_nonzero = (S_d == S_c) & (S_d != 0)          # -> no crossing
    either_zero = (S_d == 0) | (S_c == 0)             # -> vertex-crossing path

    # Slow path (edgeutil.go:229-242): opposite nonzero signs.
    CD = np.cross(V, np.roll(V, -1, axis=0))          # c×d per edge (M,3)
    T = P @ CD.T                                      # (c×d)·p  (N,M)
    slow = ~same_nonzero & ~either_zero
    Tsign = triage_sign_batch(T)
    if (slow & (Tsign == 0)).any():
        flat = Tsign.ravel()
        for idx in np.flatnonzero((slow & (Tsign == 0)).ravel()):
            r, k = divmod(int(idx), m)
            flat[idx] = expensive_ccw(
                tuple(V[k]), tuple(V[(k + 1) % m]), tuple(P[r])
            )
        Tsign = flat.reshape(T.shape)
    cbd = -Tsign
    # dac = RobustCCW2(c, d, origin, c×d): per edge only (origin fixed).
    dac_det = CD @ ORIGIN
    dac = triage_sign_batch(dac_det)
    if (dac == 0).any():
        for k in np.flatnonzero(dac == 0):
            dac[k] = expensive_ccw(
                tuple(V[int(k)]), tuple(V[(int(k) + 1) % m]), tuple(ORIGIN)
            )
    acb = -S_c
    slow_result = np.where(cbd != acb, -1, np.where(dac[None, :] == acb, 1, -1))

    crossing = np.where(same_nonzero, -1, np.where(either_zero, 0, slow_result))
    flips = (crossing > 0)

    # Rare vertex-crossing escapes (point == vertex or exact collinearity).
    zero_rows, zero_cols = np.nonzero(crossing == 0)
    for r, k in zip(zero_rows, zero_cols):
        if vertex_crossing(
            tuple(ORIGIN), tuple(P[r]), tuple(V[k]), tuple(V[(k + 1) % m])
        ):
            flips[r, k] = True

    parity = flips.sum(axis=1) & 1
    return np.asarray(origin_inside, dtype=bool) ^ parity.astype(bool)


def loop_crossing_batch(a_verts: np.ndarray, b_verts: np.ndarray):
    """All-pairs edge-crossing between two vertex chains, vectorized.

    Evaluates RobustCrossing (edgeutil.go:154-242) for every (A-edge, B-edge)
    pair via two sign matrices (same shifted-column trick as the containment
    kernel). Returns ``(has_crossing, shared_pairs)`` where shared_pairs are
    the (ai, j) pairs with crossing == 0 (shared vertex / degenerate) that
    AreBoundariesCrossing (loop.go:650-680) sends to wedge processing.
    Outcome equivalence: the caller's wedge processors are existence-based,
    so processing order does not change results.
    """
    A = np.asarray(a_verts, dtype=np.float64)
    B = np.asarray(b_verts, dtype=np.float64)
    n, m = len(A), len(B)
    B_next = np.roll(B, -1, axis=0)
    A_next = np.roll(A, -1, axis=0)

    # S[j, i] = robust sign((B_j × B_j1) · A_i)
    AB = np.cross(B, B_next)  # (m, 3)
    D = AB @ A.T  # (m, n)
    S = triage_sign_batch(D)
    if (S == 0).any():
        flat = S.ravel()
        for idx in np.flatnonzero(flat == 0):
            j, i = divmod(int(idx), n)
            flat[idx] = expensive_ccw(tuple(B[j]), tuple(B_next[j]), tuple(A[i]))
        S = flat.reshape(D.shape)

    S_c = S                        # sign at A_ai  (acb = -S_c)
    S_d = np.roll(S, -1, axis=1)   # sign at A_ai1 (bda =  S_d)
    same_nonzero = (S_d == S_c) & (S_d != 0)
    either_zero = (S_d == 0) | (S_c == 0)
    slow = ~same_nonzero & ~either_zero
    crossing = np.where(same_nonzero, -1, 0)

    if slow.any():
        CD = np.cross(A, A_next)  # (n, 3) — the A-loop edge normals
        T1 = -(CD @ B_next.T).T   # cbd_det[j, ai]
        T2 = (CD @ B.T).T         # dac_det[j, ai]
        cbd = triage_sign_batch(T1)
        dac = triage_sign_batch(T2)
        need = slow & (cbd == 0)
        if need.any():
            flat = cbd.ravel()
            for idx in np.flatnonzero(need.ravel()):
                j, ai = divmod(int(idx), n)
                flat[idx] = -expensive_ccw(
                    tuple(A[ai]), tuple(A_next[ai]), tuple(B_next[j])
                )
            cbd = flat.reshape(T1.shape)
        need = slow & (dac == 0)
        if need.any():
            flat = dac.ravel()
            for idx in np.flatnonzero(need.ravel()):
                j, ai = divmod(int(idx), n)
                flat[idx] = expensive_ccw(
                    tuple(A[ai]), tuple(A_next[ai]), tuple(B[j])
                )
            dac = flat.reshape(T2.shape)
        acb = -S_c
        slow_result = np.where(cbd != acb, -1, np.where(dac == acb, 1, -1))
        crossing = np.where(slow, slow_result, crossing)

    if (crossing > 0).any():
        return True, []
    zero_j, zero_ai = np.nonzero(~same_nonzero & either_zero)
    return False, [(int(ai), int(j)) for j, ai in zip(zero_j, zero_ai)]


def distance_to_edges(points: np.ndarray, a, b) -> np.ndarray:
    """Vectorized DistanceToEdge: batch of points vs one geodesic segment
    (edgeutil.go:77-106; PointCross per point.go:57-69). Radians out."""
    X = np.asarray(points, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    # PointCross(a, b) = normalize((a+b) × (b−a)) with ortho fallback
    acb = np.cross(a + b, b - a)
    nrm = np.sqrt(acb @ acb)
    if nrm < 1e-300 or np.allclose(acb, 0, atol=1e-14):
        acb = np.array(ortho(tuple(a)))
    else:
        acb = acb / nrm
    # wedge test: CCW(acb, a, x) && CCW(x, b, acb)
    in_wedge = (np.cross(X, acb) @ a > 0) & (np.cross(acb[None, :], X) @ b > 0)
    sin_dist = np.abs(X @ acb) / np.sqrt(acb @ acb)
    d_interior = np.arcsin(np.minimum(1.0, sin_dist))
    xa = ((X - a) ** 2).sum(axis=1)
    xb = ((X - b) ** 2).sum(axis=1)
    d_endpoint = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(np.minimum(xa, xb))))
    return np.where(in_wedge, d_interior, d_endpoint)


def closest_point_with_normal(x, a, b, a_cross_b):
    """Nearest point on geodesic segment AB to X, given the edge normal
    (edgeutil.go:108-122): project X onto the AB great-circle plane; if
    the projection falls inside the wedge it is the answer, otherwise the
    nearer endpoint. Scalar (snap/builder utility)."""
    x = tuple(map(float, x))
    n = tuple(map(float, a_cross_b))
    n2 = _dot3(n, n)
    dx = _dot3(x, n) / n2
    p = (x[0] - n[0] * dx, x[1] - n[1] * dx, x[2] - n[2] * dx)
    if simple_ccw(n, a, p) and simple_ccw(p, b, n):
        # the reference returns the plane projection as-is (unit to within
        # the projection error for unit x); parity over prettiness
        return p

    def sub(u, v):
        return (u[0] - v[0], u[1] - v[1], u[2] - v[2])

    xa = _dot3(sub(x, a), sub(x, a))
    xb = _dot3(sub(x, b), sub(x, b))
    return tuple(map(float, a)) if xa <= xb else tuple(map(float, b))


def closest_point(x, a, b):
    """edgeutil.go:124-126."""
    return closest_point_with_normal(x, a, b, _point_cross(a, b))


def closest_points_to_edge(points: np.ndarray, a, b) -> np.ndarray:
    """Vectorized ClosestPoint: batch of points vs one geodesic segment
    (edgeutil.go:108-126), same wedge construction as
    ``distance_to_edges``. Returns (n, 3) xyz (interior answers are the
    raw plane projections, exactly as the reference returns them)."""
    X = np.asarray(points, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acb = np.cross(a + b, b - a)
    nrm = np.sqrt(acb @ acb)
    if nrm < 1e-300 or np.allclose(acb, 0, atol=1e-14):
        acb = np.array(ortho(tuple(a)))
    else:
        acb = acb / nrm
    in_wedge = (np.cross(X, acb) @ a > 0) & (np.cross(acb[None, :], X) @ b > 0)
    dx = (X @ acb) / (acb @ acb)
    proj = X - dx[:, None] * acb[None, :]
    xa = ((X - a) ** 2).sum(axis=1)
    xb = ((X - b) ** 2).sum(axis=1)
    endpoint = np.where((xa <= xb)[:, None], a[None, :], b[None, :])
    return np.where(in_wedge[:, None], proj, endpoint)


def point_area(a, b, c) -> float:
    """Triangle area via l'Huilier with Girard fallback (point.go:383-407)."""
    import math

    def angle(u, v):
        cr = _cross3(u, v)
        return math.atan2(math.sqrt(_dot3(cr, cr)), _dot3(u, v))

    sa = angle(b, c)
    sb = angle(c, a)
    sc = angle(a, b)
    s = 0.5 * (sa + sb + sc)
    if s >= 3e-4:
        dmin = s - max(sa, sb, sc)
        if dmin < 1e-2 * s * s * s * s * s:
            ab = _point_cross(a, b)
            bc = _point_cross(b, c)
            ac = _point_cross(a, c)
            area = max(0.0, angle(ab, ac) - angle(ab, bc) + angle(bc, ac))
            if dmin < s * 0.1 * area:
                return area
    return 4 * math.atan(
        math.sqrt(
            max(
                0.0,
                math.tan(0.5 * s)
                * math.tan(0.5 * (s - sa))
                * math.tan(0.5 * (s - sb))
                * math.tan(0.5 * (s - sc)),
            )
        )
    )


def _point_cross(a, b):
    """Scalar PointCross (point.go:57-69)."""
    x = _cross3(
        (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
        (b[0] - a[0], b[1] - a[1], b[2] - a[2]),
    )
    n2 = _dot3(x, x)
    if all(abs(v) < 1e-14 for v in x):
        return ortho(a)
    import math

    n = math.sqrt(n2)
    return (x[0] / n, x[1] / n, x[2] / n)


def turn_angle(a, b, c) -> float:
    """Signed turning angle at b along the chain a->b->c (point.go:343-349):
    |angle between PointCross(b,a) and PointCross(c,b)|, sign from
    RobustCCW(a,b,c). Driver-side scalar (used by Loop validation /
    TurningAngle sums)."""
    import math as _math

    u = _point_cross(b, a)
    v = _point_cross(c, b)
    cr = (
        u[1] * v[2] - u[2] * v[1],
        u[2] * v[0] - u[0] * v[2],
        u[0] * v[1] - u[1] * v[0],
    )
    angle = _math.atan2(
        _math.sqrt(cr[0] * cr[0] + cr[1] * cr[1] + cr[2] * cr[2]),
        u[0] * v[0] + u[1] * v[1] + u[2] * v[2],
    )
    return angle if robust_ccw(a, b, c) > 0 else -angle


def interpolate_on_edge(t: np.ndarray, a, b) -> np.ndarray:
    """Vectorized EdgeInterpolate (edgeutil.go:335-354): spherical linear
    interpolation of a batch of fractions ``t`` along ONE geodesic segment
    A-B. Returns (n, 3) unit xyz. t=0 / t=1 return the exact endpoints,
    matching the reference's shortcuts."""
    t = np.asarray(t, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    cr = np.cross(a, b)
    ab = np.arctan2(np.sqrt(cr @ cr), a @ b)  # Vector.Angle (r3/vector.go:96)
    ax = t * ab
    f = np.sin(ax) / np.sin(ab)
    e = np.cos(ax) - f * np.cos(ab)
    out = e[:, None] * a[None, :] + f[:, None] * b[None, :]
    out /= np.sqrt((out * out).sum(axis=1))[:, None]
    out = np.where((t == 0.0)[:, None], a[None, :], out)
    out = np.where((t == 1.0)[:, None], b[None, :], out)
    return out


def distance_fractions(points: np.ndarray, a, b) -> np.ndarray:
    """Vectorized GetDistanceFraction (edgeutil.go:394-398): position of
    each point along A-B as d(x,a) / (d(x,a) + d(x,b)). The point need not
    lie on the edge."""
    X = np.asarray(points, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    ca = np.cross(X, a[None, :])
    cb = np.cross(X, b[None, :])
    d0 = np.arctan2(np.sqrt((ca * ca).sum(axis=1)), X @ a)
    d1 = np.arctan2(np.sqrt((cb * cb).sum(axis=1)), X @ b)
    return d0 / (d0 + d1)
