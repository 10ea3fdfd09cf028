"""Pure-NumPy S2 cell library (exact published S2 geometry algorithm).

Implements the standard S2 cell-id scheme — cube-face projection,
quadratic ST transform, Hilbert-curve position, 64-bit ids — fully
vectorized, replacing the reference's ``s2sphere`` dependency
(/root/reference/raster2dggs/indexers/s2rasterindexer.py:18-30, not
installable offline).  The lookup tables are generated at import from the
canonical 4-entry base tables, exactly as s2geometry's ``coords.cc`` does.

Cell id layout: 3 face bits | 2*level position bits | 1 sentinel bit |
trailing zeros.  Level 0..30.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

MAX_LEVEL = 30
MIN_RES = 0
MAX_RES = MAX_LEVEL
PARENT_OFFSET = 8  # 4^8 = 65K subcells per parent partition
_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2

# canonical base tables (s2geometry coords.cc)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (_SWAP_MASK, 0, 0, _INVERT_MASK + _SWAP_MASK)


def _init_lookup():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
    # iterative version of s2's recursive InitLookupCell
    stack = [(0, 0, 0, 0, 0, 0), (0, 0, 0, _SWAP_MASK, 0, _SWAP_MASK),
             (0, 0, 0, _INVERT_MASK, 0, _INVERT_MASK),
             (0, 0, 0, _SWAP_MASK | _INVERT_MASK, 0, _SWAP_MASK | _INVERT_MASK)]
    while stack:
        level, i, j, orig_orientation, pos, orientation = stack.pop()
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = np.uint64((pos << 2) + orientation)
            lookup_ij[(pos << 2) + orig_orientation] = np.uint64((ij << 2) + orientation)
        else:
            level += 1
            i <<= 1
            j <<= 1
            pos <<= 2
            r = _POS_TO_IJ[orientation]
            for k in range(4):
                stack.append((
                    level,
                    i + (r[k] >> 1),
                    j + (r[k] & 1),
                    orig_orientation,
                    pos + k,
                    orientation ^ _POS_TO_ORIENTATION[k],
                ))
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _init_lookup()


def _lonlat_to_xyz(lon_deg, lat_deg):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)
    # u/v per canonical face table: select the NUMERATOR per face and
    # divide once by the (signed) major component — 2 divisions instead
    # of 12, same operands per lane so results are bit-identical to the
    # former choose-of-quotients form (round 8)
    nx, ny, nz = -x, -y, -z
    u = np.choose(face, [y, nx, nx, z, z, ny]) / comp
    v = np.choose(face, [z, z, ny, y, nx, nx]) / comp
    return face, u, v


def _face_uv_to_xyz(face, u, v):
    one = np.ones_like(u)
    x = np.choose(face, [one, -u, -u, -one, v, v])
    y = np.choose(face, [u, one, -v, -v, -one, u])
    z = np.choose(face, [v, v, one, -u, -u, -one])
    return x, y, z


def _uv_to_st(u):
    # one sqrt instead of two: 1+3u (u>=0) and 1-3u (u<0) are both
    # 1+3|u|, so the branch only flips the affine wrapper — bit-identical
    # to the two-branch form (abs/negation are exact)
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0, r, 1.0 - r)


def _st_to_uv(s):
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def _st_to_ij(s):
    return np.clip((s * (1 << MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


def _from_face_ij(face, i, j):
    """Leaf (level 30) cell id from face + 30-bit i/j. Vectorized."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(60)
    bits = face & np.uint64(_SWAP_MASK)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kk = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> kk) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> kk) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return (n * np.uint64(2) + np.uint64(1)).astype(np.int64)


def _to_face_ij(cell):
    """(face, i, j) of the leaf-aligned position of cell ids. Vectorized."""
    cid = np.asarray(cell).astype(np.uint64)
    face = (cid >> np.uint64(61)).astype(np.uint64)
    i = np.zeros_like(cid)
    j = np.zeros_like(cid)
    bits = face & np.uint64(_SWAP_MASK)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        m = np.uint64((1 << (2 * nbits)) - 1)
        bits += ((cid >> np.uint64(k * 2 * _LOOKUP_BITS + 1)) & m) << np.uint64(2)
        bits = _LOOKUP_IJ[bits]
        i += (bits >> np.uint64(_LOOKUP_BITS + 2)) << np.uint64(k * _LOOKUP_BITS)
        j += ((bits >> np.uint64(2)) & np.uint64((1 << _LOOKUP_BITS) - 1)) << np.uint64(
            k * _LOOKUP_BITS
        )
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return face.astype(np.int64), i.astype(np.int64), j.astype(np.int64)


_ENCODE_CHUNK = 16384  # cache-sized passes (same rationale as h3lib)


def lonlat_to_cell(lon_deg, lat_deg, level: int):
    """Vectorized lon/lat (degrees) -> S2 cell id (int64) at ``level``."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level out of range")
    return encode_chunked("s2", _lonlat_to_cell_chunk, lon_deg, lat_deg,
                          level, _ENCODE_CHUNK)


def _lonlat_to_cell_chunk(lon_deg, lat_deg, level: int):
    x, y, z = _lonlat_to_xyz(lon_deg, lat_deg)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = _from_face_ij(face, i, j)
    return cell_to_parent(leaf, level)


def cell_to_parent(cell, level: int):
    """Parent (or self) at ``level``; pure bit arithmetic."""
    c = np.asarray(cell).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((c & (~lsb + np.uint64(1))) | lsb).astype(np.int64)


def cell_level(cell):
    c = np.asarray(cell).astype(np.uint64)
    low = (c & (~c + np.uint64(1))).astype(np.float64)  # lowest set bit (exact pow2)
    tz = np.round(np.log2(low)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


get_resolution = cell_level


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`: (id & -lsb) | lsb."""
    from pyspark.sql import functions as F

    lsb = 1 << (2 * (30 - parent_res))
    return (col.bitwiseAND(F.lit(-lsb))).bitwiseOR(F.lit(lsb))


def cell_to_children(cells, child_res: int):
    """All 4^k descendants at ``child_res``, cell-major, ascending: they
    tile the parent's leaf range at stride 2·lsb(child)."""
    u = np.asarray(cells).astype(np.uint64).ravel()
    if u.size == 0:
        return u.astype(np.int64)
    depth = child_depth(cell_level(u), child_res, MAX_LEVEL)
    lsb = u & (~u + np.uint64(1))
    new_lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - child_res))
    start = u - lsb + new_lsb
    step = np.uint64(2) * new_lsb
    pat = step * np.arange(4 ** depth, dtype=np.uint64)
    return (start[:, None] + pat[None, :]).ravel().astype(np.int64)


def n_cells(res: int) -> int:
    return 6 * 4**res


def pitch_deg(res: int) -> float:
    """Nominal cell edge: a cube face spans 90 degrees."""
    return 90.0 / (1 << res)


def cell_to_lonlat(cell):
    """Center lon/lat (degrees) of cells. Vectorized, exact s2 semantics."""
    c = np.asarray(cell).astype(np.uint64)
    face, i, j = _to_face_ij(c)
    is_leaf = (c & np.uint64(1)).astype(bool)
    alt = (((i ^ (c >> np.uint64(2)).astype(np.int64)) & 1) != 0)
    delta = np.where(is_leaf, 1, np.where(alt, 2, 0))
    si = 2 * i + delta
    ti = 2 * j + delta
    s = si.astype(np.float64) / float(1 << (MAX_LEVEL + 1))
    t = ti.astype(np.float64) / float(1 << (MAX_LEVEL + 1))
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x, y, z = _face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arcsin(z / norm))
    return lon, lat


def contains(parent_cell, cell):
    """Whether ``cell`` lies in ``parent_cell``'s leaf range."""
    p = np.asarray(parent_cell).astype(np.uint64)
    lsb = p & (~p + np.uint64(1))
    lo = (p - lsb + np.uint64(1)).astype(np.int64)
    hi = (p + lsb - np.uint64(1)).astype(np.int64)
    c = np.asarray(cell)
    return (c >= lo) & (c <= hi)


def cell_to_boundary(cell):
    """(vlon, vlat) of shape (n, 4): the cell's corner vertices in CCW
    st order.  A level-L cell is an ALIGNED 2^(30-L) leaf block, so the
    corners are the block's st extremes pushed through the standard
    st→uv→xyz chain (the geodesic-quad representation S2 tooling uses)."""
    c = np.asarray(cell).astype(np.uint64)
    face, i, j = _to_face_ij(c)
    lev = cell_level(c.astype(np.int64))
    size = (np.int64(1) << (np.int64(MAX_LEVEL) - lev)).astype(np.int64)
    i0 = (i // size) * size
    j0 = (j // size) * size
    si = np.stack([2 * i0, 2 * (i0 + size), 2 * (i0 + size), 2 * i0], axis=1)
    ti = np.stack([2 * j0, 2 * j0, 2 * (j0 + size), 2 * (j0 + size)], axis=1)
    s = si.astype(np.float64) / float(1 << (MAX_LEVEL + 1))
    t = ti.astype(np.float64) / float(1 << (MAX_LEVEL + 1))
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x, y, z = _face_uv_to_xyz(face[:, None], u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    return (np.degrees(np.arctan2(y, x)),
            np.degrees(np.arcsin(z / norm)))


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT per-cell spherical areas: an S2 cell's four edges are
    segments of great circles (fixed-u / fixed-v curves on a cube face
    lie in planes through the origin), so the Van Oosterom–Strackee
    spherical excess over the 4 corner vectors is exact (F7 parity with
    the hex/pentagon grids' per-cell areas)."""
    vlon, vlat = cell_to_boundary(np.asarray(cells, dtype=np.int64))
    lam = np.radians(vlon)
    phi = np.radians(vlat)
    p = np.stack([np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam),
                  np.sin(phi)], axis=-1)
    total = np.zeros(p.shape[0], dtype=np.float64)
    a = p[:, 0]
    for i in range(1, 3):
        b, c = p[:, i], p[:, i + 1]
        num = np.einsum("ij,ij->i", a, np.cross(b, c))
        den = (1.0 + np.einsum("ij,ij->i", a, b)
               + np.einsum("ij,ij->i", b, c)
               + np.einsum("ij,ij->i", c, a))
        total += 2.0 * np.arctan2(num, den)
    return np.abs(total) * radius_m * radius_m
