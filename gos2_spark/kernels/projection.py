"""Vectorized face/uv/st projection + LatLng<->Point<->CellID transforms.

Numpy re-expression of `/root/reference/s2/stuv.go`, `s2/latlng.go`,
and the point<->cell paths of `s2/cellid.go` (cellIDFromPoint:503-509,
rawPoint/faceSiTi:365-391, ijLevelToBoundUV:515-530, neighbors:210-287).

Float64 operation ORDER is replicated from the Go source so results are
bit-identical (IEEE-754 ops are deterministic given the same order); this is
what lets the engine's cell assignments match gos2's test vectors exactly.
All functions are batch: scalars in, ndarray out is fine too.
"""

from __future__ import annotations

import numpy as np

from . import hilbert
from .hilbert import MAX_LEVEL, MAX_SIZE, _U

DEG_TO_RAD = np.pi / 180.0
RAD_TO_DEG = 180.0 / np.pi


# --- st <-> uv (stuv.go:28-43, quadratic transform) --------------------------

def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        pos = 0.5 * np.sqrt(1.0 + 3.0 * u)
        neg = 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
    return np.where(u >= 0, pos, neg)


# --- face selection & projection (stuv.go:47-123) ----------------------------

def face_from_xyz(x, y, z):
    """Dominant-axis face id 0-5 (stuv.go:47-63)."""
    x, y, z = (np.asarray(a, dtype=np.float64) for a in (x, y, z))
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    m1 = ay > ax
    fid = np.where(m1, 1, 0)
    value = np.where(m1, y, x)
    m2 = az > np.abs(value)
    fid = np.where(m2, 2, fid)
    value = np.where(m2, z, value)
    return np.where(value < 0, fid + 3, fid).astype(np.int64)


def valid_face_xyz_to_uv(f, x, y, z):
    """(face, xyz) -> (u, v); face must be valid for the point (stuv.go:68-82)."""
    f = np.asarray(f)
    x, y, z = (np.asarray(a, dtype=np.float64) for a in (x, y, z))
    # gather the per-face numerator/denominator FIRST, then divide once:
    # dividing all six branches and discarding five is 3x the work and
    # emits overflow/divide RuntimeWarnings for the never-selected
    # branches (a valid face's own denominator is never ~0). np.choose
    # beats an np.select cascade (one gather pass vs 6 masked writes),
    # and u and v share the same denominator table.
    u_num = np.choose(f, (y, -x, -x, z, z, -y))
    v_num = np.choose(f, (z, z, -y, y, -x, -x))
    den = np.choose(f, (x, y, z, x, y, z))
    return u_num / den, v_num / den


_U_AXIS = np.array([
    [0, 1, 0], [-1, 0, 0], [-1, 0, 0], [0, 0, -1], [0, 0, -1], [0, 1, 0],
], dtype=np.float64)
_V_AXIS = np.array([
    [0, 0, 1], [0, 0, 1], [0, -1, 0], [0, -1, 0], [1, 0, 0], [1, 0, 0],
], dtype=np.float64)


def u_axis(f):
    """Positive-u tangent axis per face (stuv.go:170-185); vectorized
    table gather, rows for scalar or array face ids."""
    return _U_AXIS[np.asarray(f)]


def v_axis(f):
    """Positive-v tangent axis per face (stuv.go:187-202)."""
    return _V_AXIS[np.asarray(f)]


def face_norm(f):
    """Outward unit normal of the face plane = faceUVToXYZ(face, 0, 0)
    (stuv.go:125-127)."""
    f = np.asarray(f)
    zero = np.zeros(f.shape, dtype=np.float64)
    return np.stack(face_uv_to_xyz(f, zero, zero), axis=-1)


def u_norm(f, u):
    """Right-handed normal for the constant-u edge (stuv.go:129-148);
    not unit length."""
    f = np.asarray(f)
    u = np.asarray(u, dtype=np.float64)
    zero = np.zeros_like(u)
    one = np.ones_like(u)
    sel = [f == 0, f == 1, f == 2, f == 3, f == 4]
    x = np.select(sel, [u, one, one, -u, zero], default=zero)
    y = np.select(sel, [-one, u, zero, zero, -u], default=-one)
    z = np.select(sel, [zero, zero, u, one, one], default=-u)
    return np.stack([x, y, z], axis=-1)


def v_norm(f, v):
    """Right-handed normal for the constant-v edge (stuv.go:150-168);
    not unit length."""
    f = np.asarray(f)
    v = np.asarray(v, dtype=np.float64)
    zero = np.zeros_like(v)
    one = np.ones_like(v)
    sel = [f == 0, f == 1, f == 2, f == 3, f == 4]
    x = np.select(sel, [-v, zero, zero, v, one], default=one)
    y = np.select(sel, [zero, -v, -one, -one, v], default=zero)
    z = np.select(sel, [one, one, -v, zero, zero], default=v)
    return np.stack([x, y, z], axis=-1)


def xyz_to_face_uv(x, y, z):
    """stuv.go:101-105."""
    f = face_from_xyz(x, y, z)
    u, v = valid_face_xyz_to_uv(f, x, y, z)
    return f, u, v


def face_uv_to_xyz(f, u, v):
    """(face,u,v) -> unnormalized xyz (stuv.go:108-123)."""
    f = np.asarray(f)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select([f == 0, f == 1, f == 2, f == 3, f == 4], [one, -u, -u, -one, v], default=v)
    y = np.select([f == 0, f == 1, f == 2, f == 3, f == 4], [u, one, -v, -v, -one], default=u)
    z = np.select([f == 0, f == 1, f == 2, f == 3, f == 4], [v, v, one, -u, -u], default=-one)
    return x, y, z


# --- LatLng <-> Point (latlng.go:45-64) --------------------------------------

def latlng_to_xyz(lat_rad, lng_rad):
    """Unit xyz from lat/lng radians (latlng.go:54-59; already unit-norm)."""
    phi = np.asarray(lat_rad, dtype=np.float64)
    theta = np.asarray(lng_rad, dtype=np.float64)
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def xyz_to_latlng(x, y, z):
    """(lat_rad, lng_rad) from xyz (latlng.go:45-51); works unnormalized."""
    x, y, z = (np.asarray(a, dtype=np.float64) for a in (x, y, z))
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return lat, lng


def latlng_distance(lat1, lng1, lat2, lng2):
    """Haversine angle in radians, exact op order of latlng.go:32-40."""
    lat1, lng1, lat2, lng2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lng1, lat2, lng2))
    dlat = np.sin(0.5 * (lat2 - lat1))
    dlng = np.sin(0.5 * (lng2 - lng1))
    x = dlat * dlat + dlng * dlng * np.cos(lat1) * np.cos(lat2)
    return 2.0 * np.arctan2(np.sqrt(x), np.sqrt(np.maximum(0.0, 1.0 - x)))


def point_angle(ax, ay, az, bx, by, bz):
    """Great-circle angle atan2(|a×b|, a·b) (r3/vector.go:96-98) — the
    distance the reference uses for point-to-point work (kNN parity)."""
    ax, ay, az, bx, by, bz = (np.asarray(a, dtype=np.float64) for a in (ax, ay, az, bx, by, bz))
    cx = ay * bz - az * by
    cy = az * bx - ax * bz
    cz = ax * by - ay * bx
    cross_norm = np.sqrt(cx * cx + cy * cy + cz * cz)
    dot = ax * bx + ay * by + az * bz
    return np.arctan2(cross_norm, dot)


# --- point -> cell id (cellid.go:490-511) ------------------------------------

def st_to_ij(s):
    """clamp(floor(maxSize*s), 0, maxSize-1) (cellid.go:499-501)."""
    s = np.asarray(s, dtype=np.float64)
    return np.clip(np.floor(MAX_SIZE * s), 0, MAX_SIZE - 1).astype(np.int64)


def ij_to_st_min(i):
    """cellid.go:494-496."""
    return np.asarray(i, dtype=np.float64) / float(MAX_SIZE)


def cellid_from_xyz(x, y, z):
    """Leaf cell from a direction vector (cellid.go:503-509)."""
    f, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    return hilbert.cellid_from_face_ij(f, i, j)


def cellid_from_latlng(lat_deg, lng_deg):
    """Leaf cell from lat/lng degrees — the workhorse (cellid.go:57-59).

    Degrees -> radians -> unit xyz -> face/uv -> st -> ij -> Hilbert encode.
    One fused vectorized pass (~20 numpy ops per batch).
    """
    lat = np.asarray(lat_deg, dtype=np.float64) * DEG_TO_RAD
    lng = np.asarray(lng_deg, dtype=np.float64) * DEG_TO_RAD
    x, y, z = latlng_to_xyz(lat, lng)
    return cellid_from_xyz(x, y, z)


# --- cell id -> center geometry (cellid.go:365-391) --------------------------

def face_si_ti(ids):
    """(face, si, ti) of the cell center (cellid.go:373-384)."""
    u = np.asarray(ids, dtype=np.uint64)
    f, i, j, _ = hilbert.face_ij_orientation(u)
    leaf = hilbert.is_leaf(u)
    # non-leaf: delta=2 iff (i ^ (id>>2)) & 1 else 1... see cellid.go:375-382
    odd = ((i ^ (u >> _U(2))) & _U(1)) != 0
    delta = np.where(leaf, _U(1), np.where(odd, _U(2), _U(0)))
    return f, _U(2) * i + delta, _U(2) * j + delta


def cellid_to_center_uv(ids):
    """(face, u, v) of the cell center (cellid.go:386-391)."""
    f, si, ti = face_si_ti(ids)
    scale = 0.5 / MAX_SIZE
    return f, st_to_uv(scale * si.astype(np.float64)), st_to_uv(scale * ti.astype(np.float64))


def cellid_to_xyz_raw(ids):
    """Unnormalized center vector (cellid.go:367-370)."""
    f, u, v = cellid_to_center_uv(ids)
    return face_uv_to_xyz(f, u, v)


def cellid_to_latlng(ids):
    """(lat_deg, lng_deg) of the cell center (cellid.go:322-323)."""
    x, y, z = cellid_to_xyz_raw(ids)
    lat, lng = xyz_to_latlng(x, y, z)
    return lat * RAD_TO_DEG, lng * RAD_TO_DEG


def ij_level_to_bound_uv(i, j, lvl):
    """uv bounds (u_lo,u_hi,v_lo,v_hi) of the level-``lvl`` cell containing
    leaf (i,j) (cellid.go:515-530)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    cell_size = np.int64(1) << (MAX_LEVEL - np.asarray(lvl, dtype=np.int64))
    x_lo = i & -cell_size
    y_lo = j & -cell_size
    return (
        st_to_uv(ij_to_st_min(x_lo)),
        st_to_uv(ij_to_st_min(x_lo + cell_size)),
        st_to_uv(ij_to_st_min(y_lo)),
        st_to_uv(ij_to_st_min(y_lo + cell_size)),
    )


# --- neighbors (cellid.go:210-287, 440-477) ----------------------------------

def _cellid_from_face_ij_wrap(f, i, j):
    """Vectorized cellIDFromFaceIJWrap (cellid.go:440-469)."""
    f = np.asarray(f, dtype=np.int64)
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.maximum(-limit, np.minimum(limit, scale * ((i << 1) + 1 - MAX_SIZE).astype(np.float64)))
    v = np.maximum(-limit, np.minimum(limit, scale * ((j << 1) + 1 - MAX_SIZE).astype(np.float64)))
    x, y, z = face_uv_to_xyz(f, u, v)
    nf, nu, nv = xyz_to_face_uv(x, y, z)
    return hilbert.cellid_from_face_ij(nf, st_to_ij(0.5 * (nu + 1.0)), st_to_ij(0.5 * (nv + 1.0)))


def _cellid_from_face_ij_same(f, i, j, same):
    """cellid.go:471-477, vectorized over the mask."""
    f = np.asarray(f, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    same = np.asarray(same, dtype=bool)
    out = np.empty(np.broadcast(f, i, j).shape, dtype=np.uint64)
    if same.any():
        out[same] = hilbert.cellid_from_face_ij(f[same], i[same], j[same])
    if (~same).any():
        out[~same] = _cellid_from_face_ij_wrap(f[~same], i[~same], j[~same])
    return out


def edge_neighbors(ids):
    """(N,) -> (N,4) same-level edge-adjacent cells (cellid.go:210-220)."""
    u = np.asarray(ids, dtype=np.uint64)
    lvl = hilbert.level(u)
    size = (np.int64(1) << (MAX_LEVEL - lvl))
    f, i, j, _ = hilbert.face_ij_orientation(u)
    f = f.astype(np.int64)
    i = i.astype(np.int64)
    j = j.astype(np.int64)
    in_range = lambda v: (v >= 0) & (v < MAX_SIZE)  # noqa: E731
    down = hilbert.parent(_cellid_from_face_ij_same(f, i, j - size, in_range(j - size)), lvl)
    right = hilbert.parent(_cellid_from_face_ij_same(f, i + size, j, in_range(i + size)), lvl)
    up = hilbert.parent(_cellid_from_face_ij_same(f, i, j + size, in_range(j + size)), lvl)
    left = hilbert.parent(_cellid_from_face_ij_same(f, i - size, j, in_range(i - size)), lvl)
    return np.stack([down, right, up, left], axis=-1)


def vertex_neighbors(cid: int, lvl: int) -> list[int]:
    """Scalar AppendVertexNeighbors (cellid.go:222-255) — coverer/edge-covering
    use only (small N, driver side)."""
    u = np.array([cid], dtype=np.uint64)
    if lvl >= int(hilbert.level(u)[0]):
        return []
    f, i, j, _ = hilbert.face_ij_orientation(u)
    f, i, j = int(f[0]), int(i[0]), int(j[0])
    halfsize = 1 << (MAX_LEVEL - (lvl + 1))
    size = halfsize << 1
    if i & halfsize:
        ioff, isame = size, (i + size) < MAX_SIZE
    else:
        ioff, isame = -size, (i - size) >= 0
    if j & halfsize:
        joff, jsame = size, (j + size) < MAX_SIZE
    else:
        joff, jsame = -size, (j - size) >= 0
    out = [int(hilbert.parent(np.array([cid], dtype=np.uint64), lvl)[0])]
    out.append(int(hilbert.parent(_cellid_from_face_ij_same(
        np.array([f]), np.array([i + ioff]), np.array([j]), np.array([isame])), lvl)[0]))
    out.append(int(hilbert.parent(_cellid_from_face_ij_same(
        np.array([f]), np.array([i]), np.array([j + joff]), np.array([jsame])), lvl)[0]))
    if isame or jsame:
        out.append(int(hilbert.parent(_cellid_from_face_ij_same(
            np.array([f]), np.array([i + ioff]), np.array([j + joff]),
            np.array([isame and jsame])), lvl)[0]))
    return out


def neighborhood(ids, nbr_level: int):
    """(N,) -> (N,9) same-level 3x3 neighborhood at ``nbr_level``:
    Parent(nbr_level) first, then its 8 surrounding cells.

    This is AppendAllNeighbors (cellid.go:257-287) specialized to
    nbr_level == the cell's own level and vectorized: with (i, j) aligned
    to the cell size the reference's k-loop emits exactly the 8 offsets
    (di, dj) in {-size, 0, size}^2 \\ {(0, 0)}, each with the same-face
    mask in_range(i+di) AND in_range(j+dj). Cross-face offsets wrap via
    xyz re-projection (cellIDFromFaceIJWrap, cellid.go:440-469); at cube
    corners the diagonal entry degenerates to a duplicate of an edge
    neighbor — consumers dedupe. This is the candidate-cell generator for
    the within-radius distance join.
    """
    u = hilbert.parent(np.asarray(ids, dtype=np.uint64), nbr_level)
    f, i, j, _ = hilbert.face_ij_orientation(u)
    f = f.astype(np.int64)
    i = i.astype(np.int64)
    j = j.astype(np.int64)
    size = np.int64(1) << (MAX_LEVEL - nbr_level)
    i &= -size
    j &= -size
    in_range = lambda v: (v >= 0) & (v < MAX_SIZE)  # noqa: E731
    cols = [u]
    for di in (-size, np.int64(0), size):
        for dj in (-size, np.int64(0), size):
            if di == 0 and dj == 0:
                continue
            same = np.ones(len(u), dtype=bool)
            if di != 0:
                same &= in_range(i + di)
            if dj != 0:
                same &= in_range(j + dj)
            cols.append(hilbert.parent(
                _cellid_from_face_ij_same(f, i + di, j + dj, same), nbr_level))
    return np.stack(cols, axis=-1)


def all_neighbors(cid: int, nbr_level: int) -> list[int]:
    """Scalar AppendAllNeighbors (cellid.go:257-287) — driver-side use."""
    u = np.array([cid], dtype=np.uint64)
    f, i, j, _ = hilbert.face_ij_orientation(u)
    f, i, j = int(f[0]), int(i[0]), int(j[0])
    size = 1 << (MAX_LEVEL - int(hilbert.level(u)[0]))
    i &= -size
    j &= -size
    nbr_size = 1 << (MAX_LEVEL - nbr_level)
    out: list[int] = []

    def add(ff, ii, jj, same):
        out.append(int(hilbert.parent(_cellid_from_face_ij_same(
            np.array([ff]), np.array([ii]), np.array([jj]), np.array([same])), nbr_level)[0]))

    k = -nbr_size
    while True:
        if k < 0:
            same_face = (j + k) >= 0
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = True
            add(f, i + k, j - nbr_size, j - size >= 0)
            add(f, i + k, j + size, j + size < MAX_SIZE)
        add(f, i - nbr_size, j + k, same_face and i - size >= 0)
        add(f, i + size, j + k, same_face and i + size < MAX_SIZE)
        if k >= size:
            break
        k += nbr_size
    return out
