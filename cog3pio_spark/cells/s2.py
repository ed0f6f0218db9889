"""S2 cell ids from scratch, vectorized (public S2 geometry algorithm).

Implements the standard pipeline lat/lng → unit XYZ → cube face → (u,v) →
quadratic ST → leaf (i,j) at level 30 → Hilbert curve position → 64-bit id,
plus parent / range_min / range_max / level math used by the engine's
range-partitioning and prefix range joins.

All functions take/return numpy arrays (uint64 for ids); they are called from
``arrow_udf``s so the JVM↔Python boundary stays Arrow-batched (input_hint:
zero per-row Python).

Algorithm source: public S2 geometry library design docs (s2geometry.io);
written from scratch in numpy — not a copy of any implementation.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

# pos→(i,j) within a 2x2 cell for each of the 4 orientations, and the
# orientation delta applied per sub-position (standard Hilbert tables).
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)

_LOOKUP_POS = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
_LOOKUP_IJ = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup(level, i, j, orig_orientation, pos, orientation):
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for idx in range(4):
        _init_lookup(
            level,
            i + (r[idx] >> 1),
            j + (r[idx] & 1),
            orig_orientation,
            pos + idx,
            orientation ^ _POS_TO_ORIENTATION[idx],
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


# ---------------------------------------------------------------------------
# lat/lng → face/(u,v) → ST → leaf ij
# ---------------------------------------------------------------------------
def latlng_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lng), cos_lat * np.sin(lng), np.sin(lat)


# face → ((u_num, u_den), (v_num, v_den)) as index/sign pairs over (x, y, z):
# u = sign_u * axes[u_num] / axes[u_den]
_FACE_UV_EXPR = [
    ((1, 1, 0), (2, 1, 0)),    # face 0 (+x): u =  y/x, v =  z/x
    ((0, -1, 1), (2, 1, 1)),   # face 1 (+y): u = -x/y, v =  z/y
    ((0, -1, 2), (1, -1, 2)),  # face 2 (+z): u = -x/z, v = -y/z
    ((2, 1, 0), (1, 1, 0)),    # face 3 (-x): u =  z/x, v =  y/x
    ((2, 1, 1), (0, -1, 1)),   # face 4 (-y): u =  z/y, v = -x/y
    ((1, -1, 2), (0, -1, 2)),  # face 5 (-z): u = -y/z, v = -x/z
]


def xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    axes = (x, y, z)
    for f, ((un, us, ud), (vn, vs, vd)) in enumerate(_FACE_UV_EXPR):
        m = face == f
        if m.any():
            # divide the MASKED operands only (r4 review: evaluating every
            # face's expression over the full arrays did ~12 full-length
            # divisions per call in the hot cell-assignment path)
            den = axes[ud][m]
            u[m] = us * axes[un][m] / den
            v[m] = vs * axes[vn][m] / den
    return face, u, v


def st_from_uv(u):
    """Quadratic ST projection (the S2_QUADRATIC_PROJECTION standard)."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def uv_from_st(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def _st_to_ij(s):
    return np.clip((np.ldexp(s, MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


# ---------------------------------------------------------------------------
# (face, i, j) ↔ cell id  (Hilbert curve, vectorized 4-bit table walk)
# ---------------------------------------------------------------------------
def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id (level 30) from face + leaf ij coordinates."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(POS_BITS - 1)
    bits = face & np.uint64(SWAP_MASK)
    mask = np.uint64((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        ks = np.uint64(k * LOOKUP_BITS)
        bits += ((i >> ks) & mask) << np.uint64(LOOKUP_BITS + 2)
        bits += ((j >> ks) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    return n * np.uint64(2) + np.uint64(1)


def to_face_ij(cell_id: np.ndarray):
    """Inverse of :func:`from_face_ij` for leaf ids → (face, i, j)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    face = (cell_id >> np.uint64(POS_BITS)).astype(np.int64)
    bits = (face.astype(np.uint64)) & np.uint64(SWAP_MASK)
    i = np.zeros_like(cell_id)
    j = np.zeros_like(cell_id)
    for k in range(7, -1, -1):
        # top nibble holds only MAX_LEVEL - 7*LOOKUP_BITS = 2 ij-bit pairs
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        pos = (cell_id >> np.uint64(k * 2 * LOOKUP_BITS + 1)) & np.uint64(
            (1 << (2 * nbits)) - 1
        )
        bits += pos << np.uint64(2)
        bits = _LOOKUP_IJ[bits]
        i += (bits >> np.uint64(LOOKUP_BITS + 2)) << np.uint64(k * LOOKUP_BITS)
        j += ((bits >> np.uint64(2)) & np.uint64((1 << LOOKUP_BITS) - 1)) << np.uint64(
            k * LOOKUP_BITS
        )
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    return face, i.astype(np.int64), j.astype(np.int64)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def latlng_to_cell(lat_deg, lng_deg, level: int = MAX_LEVEL) -> np.ndarray:
    """Vectorized lat/lng (degrees) → S2 cell id at ``level``."""
    x, y, z = latlng_to_xyz(lat_deg, lng_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = _st_to_ij(st_from_uv(u))
    j = _st_to_ij(st_from_uv(v))
    leaf = from_face_ij(face, i, j)
    return parent(leaf, level)


def lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def parent(cell_id: np.ndarray, level: int) -> np.ndarray:
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lsb = lsb_for_level(level)
    return (cell_id & (~(lsb - np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF))) | lsb


def level_of(cell_id: np.ndarray) -> np.ndarray:
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lsb = cell_id & (~cell_id + np.uint64(1))
    lz = np.zeros(cell_id.shape, dtype=np.int64)
    v = lsb.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(shift))
        lz += np.where(big, shift, 0)
        v = np.where(big, v >> np.uint64(shift), v)
    return MAX_LEVEL - lz // 2


def range_min(cell_id: np.ndarray) -> np.ndarray:
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lsb = cell_id & (~cell_id + np.uint64(1))
    return cell_id - (lsb - np.uint64(1))


def range_max(cell_id: np.ndarray) -> np.ndarray:
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lsb = cell_id & (~cell_id + np.uint64(1))
    return cell_id + (lsb - np.uint64(1))


def cell_center_latlng(cell_id: np.ndarray):
    """Cell center lat/lng in degrees (leaf-center of the id's ij)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lvl = level_of(cell_id)
    face, i, j = to_face_ij(range_min(cell_id) | np.uint64(1))
    # range_min's leaf is the Hilbert ENTRY corner, which may be any of the
    # cell's 4 ij-corners — mask down to the cell's grid base (all leaves in
    # an S2 cell share the top `level` ij bits), then offset half a cell.
    cell_span = (np.uint64(1) << np.uint64(MAX_LEVEL)) >> lvl.astype(np.uint64)
    base_mask = ~(cell_span - np.uint64(1))
    i_base = i.astype(np.uint64) & base_mask
    j_base = j.astype(np.uint64) & base_mask
    si = (i_base.astype(np.float64) + cell_span.astype(np.float64) * 0.5) / float(1 << MAX_LEVEL)
    tj = (j_base.astype(np.float64) + cell_span.astype(np.float64) * 0.5) / float(1 << MAX_LEVEL)
    u, v = uv_from_st(si), uv_from_st(tj)
    x, y, z = face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / norm))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    """Unnormalized (x, y, z) for points in a face's (u, v) frame — THE
    forward face mapping (inverse of :func:`xyz_to_face_uv`), hoisted so
    every consumer (cell centers here, h3x bbox covering) shares one table
    (r4 review: the 6-lambda mapping was duplicated verbatim in h3x)."""
    one = np.ones_like(u)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    mapping = [
        lambda u, v: (one, u, v),        # face 0: x=1
        lambda u, v: (-u, one, v),       # face 1: y=1
        lambda u, v: (-u, -v, one),      # face 2: z=1
        lambda u, v: (-one, -v, -u),     # face 3: x=-1
        lambda u, v: (v, -one, -u),      # face 4: y=-1
        lambda u, v: (v, u, -one),       # face 5: z=-1
    ]
    for f, fn in enumerate(mapping):
        m = face == f
        if m.any():
            xf, yf, zf = fn(u, v)
            x[m], y[m], z[m] = xf[m], yf[m], zf[m]
    return x, y, z


def compact_np(cell_ids: np.ndarray) -> np.ndarray:
    """S2 compaction: 4 present siblings ⇒ parent, iterated to level 0.

    Input: distinct cell ids (any mix of levels). Exact bit math — a cell's
    4 children at level l+1 share the parent id, so grouping by parent and
    counting 4 is sufficient. No operator calls it, range joins included;
    tests/test_cells.py pins its roundtrip."""
    cur = np.unique(np.asarray(cell_ids, dtype=np.uint64))
    out: list[np.ndarray] = []
    for lvl in range(MAX_LEVEL, 0, -1):
        levels = level_of(cur)
        at = cur[levels == lvl]
        rest = cur[levels != lvl]
        if at.size == 0:
            continue
        par = parent(at, lvl - 1)
        uniq, counts = np.unique(par, return_counts=True)
        full = uniq[counts == 4]
        out.append(at[~np.isin(par, full)])
        cur = np.unique(np.concatenate([rest, full])) if full.size else rest
    out.append(cur)  # level-0 leftovers
    return np.concatenate(out)


def to_signed(cell_id: np.ndarray) -> np.ndarray:
    """uint64 id → int64 bit pattern (Spark LongType carrier)."""
    return np.asarray(cell_id, dtype=np.uint64).view(np.int64)


def from_signed(cell_id: np.ndarray) -> np.ndarray:
    return np.asarray(cell_id, dtype=np.int64).view(np.uint64)
