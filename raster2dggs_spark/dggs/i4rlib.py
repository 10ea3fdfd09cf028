"""``i4r`` — an ISEA4R-LAYOUT aperture-4 icosahedral-rhombus grid.

The reference's *4R DGGAL family (ISEA4R / IVEA4R / RTEA4R, ref
indexers/dggalrasterindexer.py:375-401, 515-527) tiles the icosahedron
with 10 DIAMONDS (each the union of two edge-sharing triangle faces)
and refines each diamond as an aperture-4 quad-tree of rhombi — every
zone has a SINGLE parent (ref dggalrasterindexer.py:34) and refinement
ratio 4.  dggal is unavailable offline, so — exactly like ``hex7`` /
``i3h`` / ``a5`` — this module implements the same algorithm class as
an honest OWN-ID layout grid: the published diamond/aperture-4
STRUCTURE on a from-scratch icosahedron, ids NOT dggal-interoperable.

Layout
------
- 10 diamonds: a deterministic perfect matching of the 20 icosahedron
  triangles into edge-sharing pairs (backtracking on the sorted dual
  graph — reproducible at import).  Diamond (u, v) ∈ [0,1]² with
  corners A(0,0) / B(1,0) / C(0,1) / D(1,1): triangle 1 = {u+v ≤ 1} =
  (A,B,C), triangle 2 = {u+v ≥ 1} = (B,C,D), B–C the shared edge.
- Each triangle half maps by CENTRAL PROJECTION onto the plane through
  its three vertex points: great circles ↔ straight lines there, so
  encode/decode are an exact 3×3 linear solve (barycentric), and cell
  edges are great-circle arcs (bent once where a cell straddles the
  diamond fold u+v=1 — the two frames agree along the shared edge, so
  the geometry is continuous, like the unfolded ISEA net).
- Level L: the diamond splits into 4^L rhombi — cell = (diamond,
  row=⌊v·2^L⌋, col=⌊u·2^L⌋).  Parent = (row>>1, col>>1): pure bit
  arithmetic, nested, single-parent — so the Spark-side parent stays a
  native Column expression and A16 compaction applies unchanged.

Id: int64, always positive — diamond:4 bits @57 | res:5 @52 |
row:26 @26 | col:26 @0 (good to res 26).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth

MIN_RES = 0
MAX_RES = 26
PARENT_OFFSET = 8  # 4^8 = 65K subcells per parent partition
_ENCODE_CHUNK = 8192
_GOLD = (1.0 + np.sqrt(5.0)) / 2.0


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _icosa_vertices():
    fc = []
    for s1 in (1.0, -1.0):
        for s2 in (1.0, -1.0):
            fc += [(0.0, s1, s2 * _GOLD), (s1, s2 * _GOLD, 0.0),
                   (s2 * _GOLD, 0.0, s1)]
    return _unit(np.array(fc, dtype=np.float64))


def _build_geometry():
    verts = _icosa_vertices()
    adj = verts @ verts.T > 0.4  # icosa edge dot = 1/sqrt(5)
    tris = []
    for i in range(12):
        for j in range(i + 1, 12):
            if not adj[i, j]:
                continue
            for k in range(j + 1, 12):
                if adj[i, k] and adj[j, k]:
                    tris.append((i, j, k))
    assert len(tris) == 20
    # triangle adjacency (share 2 vertices) → deterministic perfect
    # matching via backtracking over the sorted dual graph
    nbr = {t: sorted(u for u in tris
                     if u != t and len(set(t) & set(u)) == 2)
           for t in tris}
    pair: dict = {}

    def bt(i):
        while i < len(tris) and tris[i] in pair:
            i += 1
        if i == len(tris):
            return True
        t = tris[i]
        for u in nbr[t]:
            if u not in pair:
                pair[t] = u
                pair[u] = t
                if bt(i + 1):
                    return True
                del pair[t], pair[u]
        return False

    assert bt(0)
    diamonds = sorted({tuple(sorted((t, pair[t]))) for t in tris})
    assert len(diamonds) == 10
    # per diamond: corner vertex ids A, B, C, D (B-C the shared edge)
    corners = np.empty((10, 4), dtype=np.int64)
    for d, (t1, t2) in enumerate(diamonds):
        shared = sorted(set(t1) & set(t2))
        a = next(v for v in t1 if v not in shared)
        dd = next(v for v in t2 if v not in shared)
        corners[d] = (a, shared[0], shared[1], dd)
    # per triangle half: vertex matrix M = [P0 P1 P2] columns and its
    # inverse (central projection barycentric: solve M y = x, then
    # (alpha,beta,gamma) = y / sum(y)); centroids for the face argmax
    V = verts
    tri_idx = np.empty((20, 3), dtype=np.int64)  # (diamond*2+half) rows
    for d in range(10):
        a, b, c, dd = corners[d]
        tri_idx[2 * d] = (a, b, c)      # half 0: u+v <= 1
        tri_idx[2 * d + 1] = (b, c, dd)  # half 1: u+v >= 1
    M = V[tri_idx]                       # (20, 3, 3) rows = vertices
    Minv = np.linalg.inv(np.transpose(M, (0, 2, 1)))  # solve for columns
    cent = _unit(M.mean(axis=1))
    return V, corners, tri_idx, Minv, cent


_V, _CORNERS, _TRI_IDX, _MINV, _TRI_CENT = _build_geometry()

# conservative min cell dimension: min triangle altitude in its central
# plane, shrunk by the worst-case radial distortion cos²(circumradius)
def _pitch0() -> float:
    alts = []
    for t in range(20):
        p = _V[_TRI_IDX[t]]
        n = _TRI_CENT[t]
        q = p / (p @ n)[:, None]  # central projection onto the plane
        for i in range(3):
            a, b, c = q[i], q[(i + 1) % 3], q[(i + 2) % 3]
            e = c - b
            alt = np.linalg.norm(np.cross(a - b, e)) / np.linalg.norm(e)
            alts.append(alt)
    psi = float(np.arccos(min((_V[_TRI_IDX[t]] @ _TRI_CENT[t]).min()
                              for t in range(20))))
    return float(min(alts)) * float(np.cos(psi) ** 2)


_PITCH0_RAD = float(np.arctan(_pitch0()))


def cell_pitch_rad(res: int) -> float:
    return _PITCH0_RAD / 2.0 ** max(res, 0)


def pitch_deg(res: int) -> float:
    return float(np.degrees(cell_pitch_rad(res)))


def n_cells(res: int) -> int:
    return 10 * 4**res  # 10 icosahedral diamonds, aperture 4


def pack(diamond, res: int, row, col):
    diamond = np.asarray(diamond, dtype=np.int64)
    row = np.asarray(row, dtype=np.int64)
    col = np.asarray(col, dtype=np.int64)
    return (
        (diamond << np.int64(57)) | (np.int64(res) << np.int64(52))
        | (row << np.int64(26)) | col
    ).astype(np.int64)


def unpack(cells):
    c = np.asarray(cells, dtype=np.int64).ravel()
    d = (c >> np.int64(57)) & np.int64(0xF)
    res = (c >> np.int64(52)) & np.int64(0x1F)
    row = (c >> np.int64(26)) & np.int64(0x3FFFFFF)
    col = c & np.int64(0x3FFFFFF)
    return d, res, row, col


def get_resolution(cells):
    return unpack(cells)[1]


def _lonlat_to_xyz(lon_deg, lat_deg):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64).ravel())
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64).ravel())
    cl = np.cos(lat)
    return np.column_stack([cl * np.cos(lon), cl * np.sin(lon),
                            np.sin(lat)])


def _xyz_to_lonlat(p):
    lon = np.degrees(np.arctan2(p[..., 1], p[..., 0]))
    lat = np.degrees(np.arcsin(np.clip(p[..., 2], -1.0, 1.0)))
    return (lon + 180.0) % 360.0 - 180.0, lat


def _point_uv(xyz):
    """(diamond, u, v) for unit vectors: nearest triangle by centroid
    dot (encoder-partition semantics at seams, like hex7/i3h/a5), then
    exact central-projection barycentric within that triangle."""
    dots = xyz @ _TRI_CENT.T
    tri = np.argmax(dots, axis=1).astype(np.int64)
    y = np.einsum("nij,nj->ni", _MINV[tri], xyz)
    y = np.maximum(y, 0.0)  # fp stragglers on face edges
    s = y.sum(axis=1)
    s[s == 0.0] = 1.0
    y /= s[:, None]
    d = tri >> 1
    half = tri & 1
    # half 0 (A,B,C): u = beta, v = gamma
    # half 1 (B,C,D): u = yB + yD, v = yC + yD
    u = np.where(half == 0, y[:, 1], y[:, 0] + y[:, 2])
    v = np.where(half == 0, y[:, 2], y[:, 1] + y[:, 2])
    return d, np.clip(u, 0.0, 1.0), np.clip(v, 0.0, 1.0)


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError("i4r res out of range")
    lon_a = np.asarray(lon_deg, dtype=np.float64).ravel()
    lat_a = np.asarray(lat_deg, dtype=np.float64).ravel()
    out = np.empty(lon_a.shape[0], dtype=np.int64)
    n = 1 << res
    for i in range(0, max(lon_a.shape[0], 1), _ENCODE_CHUNK):
        sl = slice(i, i + _ENCODE_CHUNK)
        d, u, v = _point_uv(_lonlat_to_xyz(lon_a[sl], lat_a[sl]))
        col = np.minimum((u * n).astype(np.int64), n - 1)
        row = np.minimum((v * n).astype(np.int64), n - 1)
        out[sl] = pack(d, res, row, col)
    return out


def _uv_to_xyz(d, u, v):
    """Map diamond uv points to the sphere (piecewise per triangle
    half; the frames agree along the fold u+v=1)."""
    half = (u + v > 1.0).astype(np.int64)
    tri = (np.asarray(d, dtype=np.int64) << 1) | half
    # barycentric per half
    a = np.where(half == 0, 1.0 - u - v, u + v - 1.0)       # A or D weight
    b = np.where(half == 0, u, 1.0 - v)                     # B weight
    c = np.where(half == 0, v, 1.0 - u)                     # C weight
    w = np.stack([np.where(half == 0, a, b),
                  np.where(half == 0, b, c),
                  np.where(half == 0, c, a)], axis=-1)
    p = np.einsum("ni,nij->nj", w, _V[_TRI_IDX[tri]])
    return _unit(p)


def cell_to_lonlat(cells):
    d, res, row, col = unpack(cells)
    out_lon = np.empty(d.shape[0], dtype=np.float64)
    out_lat = np.empty(d.shape[0], dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(1 << int(r))
        u = (col[m] + 0.5) / n
        v = (row[m] + 0.5) / n
        lon, lat = _xyz_to_lonlat(_uv_to_xyz(d[m], u, v))
        out_lon[m] = lon
        out_lat[m] = lat
    return out_lon, out_lat


def cell_to_parent(cells, parent_res: int):
    c = np.asarray(cells, dtype=np.int64).ravel()
    d, res, row, col = unpack(c)
    if np.any(parent_res > res):
        raise ValueError("parent_res coarser than cell res required")
    out = np.empty(c.shape[0], dtype=np.int64)
    for r in np.unique(res):
        m = res == r
        sh = int(r) - parent_res
        out[m] = pack(d[m], parent_res, row[m] >> sh, col[m] >> sh)
    return out


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`: per-axis right
    shift of the 26-bit row/col fields; needs the cells' uniform
    ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("i4r parent_col needs from_res")
    sh = from_res - parent_res
    row = F.shiftrightunsigned(col, 26).bitwiseAND(F.lit(0x3FFFFFF))
    c = col.bitwiseAND(F.lit(0x3FFFFFF))
    head = col.bitwiseAND(F.lit(0xF << 57)).bitwiseOR(
        F.lit(parent_res << 52))
    return head.bitwiseOR(
        F.shiftleft(F.shiftrightunsigned(row, sh), 26)
    ).bitwiseOR(F.shiftrightunsigned(c, sh))


def rhombus_children(cells, child_res: int, radix: int, max_res: int):
    """All descendants at ``child_res`` on a ``radix``-per-axis rhombus
    layout: each cell's (side x side) block of (row, col), row-major,
    cell-major overall (shared by i4r/e4r and i9r/e9r)."""
    d, res, row, col = unpack(cells)
    if d.size == 0:
        return d
    side = radix ** child_depth(res, child_res, max_res)
    dr = np.repeat(np.arange(side, dtype=np.int64), side)
    dc = np.tile(np.arange(side, dtype=np.int64), side)
    rows = row[:, None] * np.int64(side) + dr[None, :]
    cols = col[:, None] * np.int64(side) + dc[None, :]
    return pack(np.repeat(d, side * side), child_res, rows.ravel(),
                cols.ravel())


def cell_to_children(cells, child_res: int):
    return rhombus_children(cells, child_res, 2, MAX_RES)


def get_num_children(parent_res: int, child_res: int) -> int:
    if child_res < parent_res:
        raise ValueError("child_res must be >= parent_res")
    return 4 ** (child_res - parent_res)


def cell_to_boundary(cells):
    """(vlon, vlat) of shape (n, 4): the uv-corner ring A'B'D'C' (CCW in
    uv).  Cells straddling the diamond fold u+v=1 have edges that bend
    once at the fold — the 4 corners are the exact vertices; the two
    fold-crossing points are omitted from the ring (display-level
    simplification; areas use the exact piecewise split)."""
    d, res, row, col = unpack(cells)
    out_lon = np.empty((d.shape[0], 4), dtype=np.float64)
    out_lat = np.empty((d.shape[0], 4), dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(1 << int(r))
        u0 = col[m] / n
        v0 = row[m] / n
        step = 1.0 / n
        us = np.stack([u0, u0 + step, u0 + step, u0], axis=1)
        vs = np.stack([v0, v0, v0 + step, v0 + step], axis=1)
        p = _uv_to_xyz(np.repeat(d[m], 4), us.ravel(), vs.ravel())
        lon, lat = _xyz_to_lonlat(p)
        out_lon[m] = lon.reshape(-1, 4)
        out_lat[m] = lat.reshape(-1, 4)
    return out_lon, out_lat


def _excess(p):
    """Signed spherical excess of a closed vertex ring (n, k, 3)."""
    k = p.shape[1]
    tot = np.zeros(p.shape[0], dtype=np.float64)
    a = p[:, 0]
    for i in range(1, k - 1):
        b, c = p[:, i], p[:, i + 1]
        num = np.einsum("ij,ij->i", a, np.cross(b, c))
        den = (1.0 + np.einsum("ij,ij->i", a, b)
               + np.einsum("ij,ij->i", b, c)
               + np.einsum("ij,ij->i", c, a))
        tot += 2.0 * np.arctan2(num, den)
    return tot


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT spherical areas via the piecewise fold split: the part of
    the uv square in each triangle half is a planar polygon in that
    half's central plane (edges great circles), so summing the two
    parts' spherical excesses is exact for straddling cells too."""
    d, res, row, col = unpack(cells)
    out = np.zeros(d.shape[0], dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(1 << int(r))
        u0, v0 = col[m] / n, row[m] / n
        step = 1.0 / n
        corners_u = np.stack([u0, u0 + step, u0 + step, u0], axis=1)
        corners_v = np.stack([v0, v0, v0 + step, v0 + step], axis=1)
        s = corners_u + corners_v
        lo = s.min(axis=1)
        hi = s.max(axis=1)
        whole = (hi <= 1.0 + 1e-15) | (lo >= 1.0 - 1e-15)
        if whole.any():
            w = np.flatnonzero(whole)
            p = _uv_to_xyz(np.repeat(d[m][w], 4),
                           corners_u[w].ravel(), corners_v[w].ravel()
                           ).reshape(-1, 4, 3)
            out[m[w]] = np.abs(_excess(p))
        strad = np.flatnonzero(~whole)
        for i in strad:  # rare: only the anti-diagonal cells per level
            uu, vv = corners_u[i], corners_v[i]
            for side in (0, 1):
                poly_u, poly_v = [], []
                for j in range(4):
                    j2 = (j + 1) % 4
                    s1, s2 = uu[j] + vv[j], uu[j2] + vv[j2]
                    in1 = (s1 <= 1.0) if side == 0 else (s1 >= 1.0)
                    in2 = (s2 <= 1.0) if side == 0 else (s2 >= 1.0)
                    if in1:
                        poly_u.append(uu[j])
                        poly_v.append(vv[j])
                    if in1 != in2:
                        t = (1.0 - s1) / (s2 - s1)
                        poly_u.append(uu[j] + t * (uu[j2] - uu[j]))
                        poly_v.append(vv[j] + t * (vv[j2] - vv[j]))
                if len(poly_u) >= 3:
                    pu = np.array(poly_u)
                    pv = np.array(poly_v)
                    # nudge strictly into the half so _uv_to_xyz picks
                    # the right plane for every vertex
                    cu, cv = pu.mean(), pv.mean()
                    pu2 = pu + 1e-12 * (cu - pu)
                    pv2 = pv + 1e-12 * (cv - pv)
                    p = _uv_to_xyz(
                        np.full(pu.shape[0], d[m][i], dtype=np.int64),
                        pu2, pv2)[None, :, :]
                    out[m[i]] += abs(float(_excess(p)[0]))
    return out * radius_m * radius_m
