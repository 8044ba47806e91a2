"""Vectorized S2 CellID Hilbert-curve codec over numpy uint64 arrays.

Semantics match the reference gos2 implementation
(`/root/reference/s2/cellid.go`) bit-for-bit; the execution strategy is
entirely different: instead of one scalar 8-round loop per id, every round is
a single vectorized table-gather + shift over the whole batch, so a million
ids cost ~30 numpy ops total. This is the engine's "whole-stage codegen" for
the cell-id hot path.

Layout (cellid.go:15-32): 3 face bits + 61-bit Hilbert position, levels 0-30.
The zero value and ~0 are invalid sentinels.

Signed-bias convention: Spark's LongType is signed int64 but CellID ordering
is unsigned. ``to_signed``/``from_signed`` XOR the high bit so that signed
int64 ordering of the biased value equals unsigned ordering of the raw id —
required for range joins / sorts on cell columns inside Spark SQL.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

MAX_LEVEL = 30
NUM_FACES = 6
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL
WRAP_OFFSET = NUM_FACES << POS_BITS

_U = np.uint64  # shorthand for scalar casts

# Traversal order of the 4 Hilbert sub-cells within each orientation
# (cellid.go:540-546).
_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
_POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)


def _build_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    """Build the 1024-entry position<->ij tables (cellid.go:551-576).

    lookup_pos maps a 10-bit ``iiiijjjjoo`` key to ``ppppppppoo``;
    lookup_ij is the inverse. Built once at import, used as numpy gather
    tables by the vectorized encode/decode below.
    """
    size = 1 << (2 * LOOKUP_BITS + 2)
    lookup_pos = np.zeros(size, dtype=np.uint64)
    lookup_ij = np.zeros(size, dtype=np.uint64)

    def rec(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for idx in range(4):
            rec(
                level,
                i + (r[idx] >> 1),
                j + (r[idx] & 1),
                orig,
                pos + idx,
                orient ^ _POS_TO_ORIENTATION[idx],
            )

    for o in (0, SWAP_MASK, INVERT_MASK, SWAP_MASK | INVERT_MASK):
        rec(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_lookup_tables()


def _as_u64(x) -> np.ndarray:
    return np.asarray(x, dtype=np.uint64)


def to_signed(ids) -> np.ndarray:
    """uint64 cell id -> order-preserving signed int64 (XOR high bit)."""
    return (_as_u64(ids) ^ _U(1 << 63)).view(np.int64)


def from_signed(ids) -> np.ndarray:
    """signed (biased) int64 -> raw uint64 cell id."""
    return (np.asarray(ids, dtype=np.int64).view(np.uint64)) ^ _U(1 << 63)


def lsb(ids) -> np.ndarray:
    """Least-significant set bit of each id (cellid.go:188)."""
    u = _as_u64(ids)
    return u & (~u + _U(1))


def lsb_for_level(level: int) -> int:
    """Lowest set bit for cells at ``level`` (cellid.go:165)."""
    return 1 << (2 * (MAX_LEVEL - level))


def cellid_from_face_ij(f, i, j) -> np.ndarray:
    """Leaf CellID from (face, i, j) — vectorized Hilbert encode.

    Mirrors cellid.go:416-438: 8 rounds, each consuming 4 bits of i and j
    through the lookup table; here each round is a table-gather over the
    whole array.
    """
    f = _as_u64(f)
    i = _as_u64(i)
    j = _as_u64(j)
    n = f << _U(POS_BITS - 1)
    bits = f & _U(SWAP_MASK)
    mask = _U((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        bits = bits + (((i >> _U(k * LOOKUP_BITS)) & mask) << _U(LOOKUP_BITS + 2))
        bits = bits + (((j >> _U(k * LOOKUP_BITS)) & mask) << _U(2))
        bits = LOOKUP_POS[bits]
        n = n | ((bits >> _U(2)) << _U(k * 2 * LOOKUP_BITS))
        bits = bits & _U(SWAP_MASK | INVERT_MASK)
    return n * _U(2) + _U(1)


def face_ij_orientation(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """CellID -> (face, i, j, orientation) — vectorized Hilbert decode.

    Mirrors cellid.go:394-413 (8 inverse-table gathers + the lsb orientation
    correction).
    """
    u = _as_u64(ids)
    f = u >> _U(POS_BITS)
    bits = f & _U(SWAP_MASK)
    i = np.zeros_like(u)
    j = np.zeros_like(u)
    nbits = MAX_LEVEL - 7 * LOOKUP_BITS  # 2 on the first round
    for k in range(7, -1, -1):
        chunk = (u >> _U(k * 2 * LOOKUP_BITS + 1)) & _U((1 << (2 * nbits)) - 1)
        bits = bits + (chunk << _U(2))
        bits = LOOKUP_IJ[bits]
        i = i + ((bits >> _U(LOOKUP_BITS + 2)) << _U(k * LOOKUP_BITS))
        j = j + (((bits >> _U(2)) & _U((1 << LOOKUP_BITS) - 1)) << _U(k * LOOKUP_BITS))
        bits = bits & _U(SWAP_MASK | INVERT_MASK)
        nbits = LOOKUP_BITS
    flip = (lsb(u) & _U(0x1111111111111110)) != 0
    bits = np.where(flip, bits ^ _U(SWAP_MASK), bits)
    return f, i, j, bits


def face(ids) -> np.ndarray:
    """Cube face 0-5 (cellid.go:116)."""
    return _as_u64(ids) >> _U(POS_BITS)


def is_leaf(ids) -> np.ndarray:
    return (_as_u64(ids) & _U(1)) != 0


def is_valid(ids) -> np.ndarray:
    """cellid.go:111-113."""
    u = _as_u64(ids)
    return (face(u) < _U(NUM_FACES)) & ((lsb(u) & _U(0x1555555555555555)) != 0)


def level(ids) -> np.ndarray:
    """Subdivision level 0-30 (cellid.go:122-149 — here via exact log2 of lsb)."""
    low = lsb(ids)
    # lsb is a power of two <= 2^61; float64 log2 of an exact power of two is
    # exact, so this matches the reference's bit-twiddling result.
    tz = np.log2(low.astype(np.float64)).astype(np.uint64)
    return (_U(MAX_LEVEL) - (tz >> _U(1))).astype(np.int64)


def parent(ids, lvl) -> np.ndarray:
    """Ancestor at ``lvl`` (cellid.go:168-171). ``lvl`` may be scalar or array."""
    u = _as_u64(ids)
    if np.isscalar(lvl):
        plsb = _U(lsb_for_level(int(lvl)))
    else:
        plsb = _U(1) << (_U(2) * (_U(MAX_LEVEL) - _as_u64(lvl)))
    return (u & (~plsb + _U(1))) | plsb


def child(ids, pos: int) -> np.ndarray:
    """cellid.go:179-182 (pos in 0..3)."""
    u = _as_u64(ids)
    l = lsb(u) >> _U(2)
    # 2*pos+1-4 in {-3,-1,1,3}: do it in unsigned wraparound arithmetic
    delta = 2 * pos + 1 - 4
    if delta >= 0:
        return u + _U(delta) * l
    return u - _U(-delta) * l


def children(ids) -> np.ndarray:
    """(N,) -> (N,4) four immediate children in Hilbert order (cellid.go:192-201)."""
    u = _as_u64(ids)
    old = lsb(u)
    ch0 = u - old + (old >> _U(2))
    nl = old >> _U(1)
    return np.stack([ch0, ch0 + nl, ch0 + _U(2) * nl, ch0 + _U(3) * nl], axis=-1)


def range_min(ids) -> np.ndarray:
    """First leaf contained in each cell (cellid.go:290)."""
    u = _as_u64(ids)
    return u - (lsb(u) - _U(1))


def range_max(ids) -> np.ndarray:
    """Last leaf contained in each cell (cellid.go:293)."""
    u = _as_u64(ids)
    return u + (lsb(u) - _U(1))


def contains(ids, other) -> np.ndarray:
    """cellid.go:296-298 (unsigned range inclusion)."""
    o = _as_u64(other)
    return (range_min(ids) <= o) & (o <= range_max(ids))


def intersects(ids, other) -> np.ndarray:
    """cellid.go:301-303."""
    return (range_min(other) <= range_max(ids)) & (range_max(other) >= range_min(ids))


def child_begin_at_level(ids, lvl: int) -> np.ndarray:
    """cellid.go:337-339."""
    u = _as_u64(ids)
    return u - lsb(u) + _U(lsb_for_level(lvl))


def child_end_at_level(ids, lvl: int) -> np.ndarray:
    """cellid.go:352-354."""
    u = _as_u64(ids)
    return u + lsb(u) + _U(lsb_for_level(lvl))


def next_cell(ids) -> np.ndarray:
    """cellid.go:358-360."""
    u = _as_u64(ids)
    return u + (lsb(u) << _U(1))


def advance(ids, steps) -> np.ndarray:
    """Advance along the Hilbert curve, clamped at the ends (cellid.go:81-98)."""
    u = _as_u64(np.atleast_1d(ids))
    steps = np.asarray(steps, dtype=np.int64) * np.ones(len(u), dtype=np.int64)
    shift = (_U(2) * (_U(MAX_LEVEL) - _as_u64(level(u))) + _U(1))
    min_steps = -(u >> shift).astype(np.int64)
    max_steps = ((_U(WRAP_OFFSET) + lsb(u) - u) >> shift).astype(np.int64)
    steps = np.clip(steps, min_steps, max_steps)
    return u + (steps.view(np.uint64) << shift)


def child_position(ids, lvl) -> np.ndarray:
    """Child position (0..3) of the ancestor at ``lvl`` (cellid.go:160-162)."""
    u = _as_u64(ids)
    sh = _U(2) * (_U(MAX_LEVEL) - _as_u64(lvl)) + _U(1)
    return ((u >> sh) & _U(3)).astype(np.int64)


def cellid_from_face_pos_level(f: int, pos: int, lvl: int) -> int:
    """cellid.go:39-41 (scalar convenience for tests/coverer)."""
    raw = _U((f << POS_BITS) + pos) | _U(1)
    return int(parent(raw, lvl))


# --- token codec (cellid.go:62-75, 100-108) ---------------------------------

_HEX = np.array(list("0123456789abcdef"))


def to_token(ids) -> np.ndarray:
    """Hex token: 16 lowercase hex chars, trailing zeros stripped, 0 -> "X".

    Vectorized via per-nibble character assembly (no per-row format calls).
    """
    u = _as_u64(np.atleast_1d(ids))
    n = len(u)
    nibbles = np.empty((n, 16), dtype=np.int64)
    for k in range(16):
        nibbles[:, k] = ((u >> _U(4 * (15 - k))) & _U(0xF)).astype(np.int64)
    # number of trailing zero nibbles
    nz = nibbles != 0
    last = np.where(nz.any(axis=1), 15 - nz[:, ::-1].argmax(axis=1), -1)
    chars = _HEX[nibbles]
    out = np.empty(n, dtype=object)
    for row in range(n):
        out[row] = "X" if last[row] < 0 else "".join(chars[row, : last[row] + 1])
    return out


def from_token(tokens) -> np.ndarray:
    """Parse hex tokens back to uint64 ids; invalid -> 0 (cellid.go:62-75)."""
    toks = np.asarray(tokens, dtype=object)
    out = np.zeros(len(toks), dtype=np.uint64)
    for row, s in enumerate(toks):
        if s is None or not isinstance(s, str) or not (1 <= len(s) <= 16):
            continue
        try:
            n = int(s, 16)
        except ValueError:
            continue
        # Python's int() is laxer than Go's ParseUint: reject ws/sign/prefix.
        if not all(c in "0123456789abcdefABCDEF" for c in s):
            continue
        out[row] = n << (4 * (16 - len(s)))
    return out


# --- scalar fast paths (driver-side Cell/coverer: avoid 1-element numpy) ----

_LOOKUP_IJ_LIST = [int(x) for x in LOOKUP_IJ]


def face_ij_orientation_scalar(cid: int) -> tuple[int, int, int, int]:
    """Scalar decode (cellid.go:394-413) over Python ints — ~20x faster than
    the numpy path for single ids (coverer hot loop)."""
    f = cid >> POS_BITS
    bits = f & SWAP_MASK
    i = j = 0
    nbits = MAX_LEVEL - 7 * LOOKUP_BITS
    for k in range(7, -1, -1):
        bits += ((cid >> (k * 2 * LOOKUP_BITS + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ_LIST[bits]
        i += (bits >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
        nbits = LOOKUP_BITS
    if (cid & (-cid)) & 0x1111111111111110:
        bits ^= SWAP_MASK
    return f, i, j, bits


def level_scalar(cid: int) -> int:
    low = cid & (-cid)
    return MAX_LEVEL - (low.bit_length() - 1) // 2


def children_scalar(cid: int) -> list[int]:
    old = cid & (-cid)
    ch0 = cid - old + (old >> 2)
    nl = old >> 1
    return [ch0, ch0 + nl, ch0 + 2 * nl, ch0 + 3 * nl]


def to_string(cid: int) -> str:
    """Debug string "face/childpositions" (cellid.go:306-317). Scalar: test/display only."""
    u = np.array([cid], dtype=np.uint64)
    if not bool(is_valid(u)[0]):
        return "Invalid: " + format(int(np.int64(u.view(np.int64)[0])), "x")
    lvl = int(level(u)[0])
    parts = [str(int(face(u)[0])), "/"]
    for l in range(1, lvl + 1):
        parts.append("0123"[int(child_position(u, l)[0])])
    return "".join(parts)
