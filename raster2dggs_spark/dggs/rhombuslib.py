"""The icosahedral-rhombus family: ``i4r``, ``i9r``, ``e4r``, ``e9r``.

The reference serves its *4R / *9R DGGAL grids (ISEA4R / IVEA4R /
ISEA9R / IVEA9R, ref indexers/dggalrasterindexer.py:375-401, 515-527)
through one indexer and a parameter registry: all tile the icosahedron
with 10 DIAMONDS (each the union of two edge-sharing triangle faces)
and refine each diamond ``radix`` × ``radix`` per level — every zone
has a SINGLE parent (ref dggalrasterindexer.py:34).  dggal is
unavailable offline, so — exactly like ``hex7`` / ``i3h`` / ``a5`` —
this module implements the same algorithm class as an honest OWN-ID
layout grid: the published diamond structure on a from-scratch
icosahedron, ids NOT dggal-interoperable.

A grid here is one :class:`Rhombus` instance fixed by two facts: the
per-axis ``radix`` (2 → aperture 4, 3 → aperture 9) and the projection
between the sphere and the diamond's (u, v) square (central or
equal-area).  Every protocol function is written once over those two.

Layout
------
- 10 diamonds: a deterministic perfect matching of the 20 icosahedron
  triangles into edge-sharing pairs (backtracking on the sorted dual
  graph — reproducible at import).  Diamond (u, v) ∈ [0,1]² with
  corners A(0,0) / B(1,0) / C(0,1) / D(1,1): triangle 1 = {u+v ≤ 1} =
  (A,B,C), triangle 2 = {u+v ≥ 1} = (B,C,D), B–C the shared edge.
- Level L: the diamond splits into radix^(2L) rhombi — cell = (diamond,
  row=⌊v·radix^L⌋, col=⌊u·radix^L⌋).  Parent = (row, col) floor-divided
  by radix^k: nested, single-parent — so the Spark-side parent stays a
  native Column expression and A16 compaction applies unchanged.

Projections
-----------
- CENTRAL (``i4r``/``i9r``): each triangle half maps by central
  projection onto the plane through its three vertex points: great
  circles ↔ straight lines there, so encode/decode are an exact 3×3
  linear solve (barycentric), and cell edges are great-circle arcs
  (bent once where a cell straddles the fold u+v=1 — the two frames
  agree along the shared edge, like the unfolded ISEA net).  Areas are
  exact via the piecewise fold split.
- EQUAL-AREA (``e4r``/``e9r``, IVEA/ISEA class): the classic
  slice-and-scale construction (the idea behind Snyder's 1992
  polyhedral equal-area projection, re-derived from first principles).
  Each triangle splits into 6 wedges around its centroid C (vertex →
  edge-midpoint → vertex …).  A wedge maps to the matching planar wedge
  of the diamond's (u,v) triangle by (1) an azimuth reparameterization
  matching cumulative wedge area fractions — S_sph(Az)/S_sph_tot =
  S_pl(Az')/S_pl_tot, and on the planar side the cumulative area is
  LINEAR in the position t of the edge point X', so t = S_sph(Az)/S_tot
  directly — and (2) a radial √-scaling: with v = (1−cos z)/(1−cos
  z_e(Az)) the point maps to C' + (X'−C')·√v.  In (Az, v) coordinates
  the spherical area element is (1−cos z_e(Az)) dAz dv and the planar
  one (r_e(Az')²/2) dAz' dv; the cumulative matching makes the Jacobian
  the constant S_pl_tot/S_sph_tot everywhere, so res-r cells have
  EXACTLY area 4πR²/(10·radix^(2r)).  Forward (the encode path) is
  closed-form; the inverse solves S_sph(Az) = t·S_tot by Newton with
  dS/dAz = 1−cos z_e(Az).  The nominal pitch is the central one:
  equal-area redistribution moves boundaries by a bounded factor and
  the cover sampler's 0.18x safety factor at coarse res covers it.

Id: int64, always positive — diamond:4 bits @57 | res:5 @52 |
row:26 @26 | col:26 @0 (radix^MAX_RES ≤ 2^26: res 26 at radix 2,
res 16 at radix 3).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

_ENCODE_CHUNK = 8192
_GOLD = (1.0 + np.sqrt(5.0)) / 2.0
_SPHERE_AREA = 4.0 * np.pi
# equal-area inverse: uv points are clipped this far inside the open
# diamond so wedge/face selection is unambiguous on lattice seams
# (cell centers sit >= 0.5/radix^res inside, so only corners move)
_UV_EPS = 1e-12


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
    return V, tri_idx, Minv, cent


_V, _TRI_IDX, _MINV, _TRI_CENT = _build_geometry()

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


def _tri_excess(a, b, c):
    """Signed spherical excess of triangle (a, b, c) — unit vectors,
    arrays broadcastable on the leading axis."""
    num = np.einsum("...i,...i->...", a, np.cross(b, c))
    den = (1.0 + np.einsum("...i,...i->...", a, b)
           + np.einsum("...i,...i->...", b, c)
           + np.einsum("...i,...i->...", c, a))
    return 2.0 * np.arctan2(num, den)


def _ring_excess(p):
    """Signed spherical excess of a closed vertex ring (n, k, 3): the
    fan of triangles from its first vertex."""
    a = p[:, 0]
    tot = np.zeros(p.shape[0], dtype=np.float64)
    for i in range(1, p.shape[1] - 1):
        tot += _tri_excess(a, p[:, i], p[:, i + 1])
    return tot


def _levels(res, radix: int):
    """(rows of ``res == r``, radix**r as float) per distinct res."""
    for r in np.unique(res):
        yield np.flatnonzero(res == r), float(radix ** int(r))


# --------------------------------------------------------------------------
# central projection


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


def _fold_split_area(radix, d, res, row, col, radius_m):
    """EXACT spherical areas via the piecewise fold split: the part of
    the uv square in each triangle half is a planar polygon in that
    half's central plane (edges great circles), so summing the two
    parts' spherical excesses is exact for straddling cells too."""
    out = np.zeros(d.shape[0], dtype=np.float64)
    for m, n in _levels(res, radix):
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
            out[m[w]] = np.abs(_ring_excess(p))
        for i in np.flatnonzero(~whole):  # anti-diagonal cells only
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
                    out[m[i]] += abs(float(_ring_excess(p)[0]))
    return out * radius_m * radius_m


# --------------------------------------------------------------------------
# equal-area projection


def _build_wedges():
    """Per (triangle 0..19, wedge 0..5): the spherical frame (C, e1,
    e2, edge normal, Az_max, S_tot) and the planar frame (C2, W1_2,
    W2_2)."""
    # planar triangle corners per half
    pl_half = (np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]]),
               np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]))
    C = np.empty((20, 3))
    e1 = np.empty((20, 6, 3))
    e2 = np.empty((20, 6, 3))
    W1 = np.empty((20, 6, 3))
    W2 = np.empty((20, 6, 3))
    nrm = np.empty((20, 6, 3))
    az_max = np.empty((20, 6))
    s_tot = np.empty((20, 6))
    C2 = np.empty((20, 2))
    W1_2 = np.empty((20, 6, 2))
    W2_2 = np.empty((20, 6, 2))
    ori = np.empty((20, 6))
    ori_p = np.empty((20, 6))
    for t in range(20):
        p = _V[_TRI_IDX[t]]                      # (3, 3) corners
        c = _unit(p.mean(axis=0))
        C[t] = c
        q = pl_half[t & 1]
        C2[t] = q.mean(axis=0)
        # boundary cycle: V0, M01, V1, M12, V2, M20
        cyc_s = [p[0], _unit(p[0] + p[1]), p[1], _unit(p[1] + p[2]),
                 p[2], _unit(p[2] + p[0])]
        cyc_p = [q[0], 0.5 * (q[0] + q[1]), q[1], 0.5 * (q[1] + q[2]),
                 q[2], 0.5 * (q[2] + q[0])]
        for k in range(6):
            w1, w2 = cyc_s[k], cyc_s[(k + 1) % 6]
            W1[t, k], W2[t, k] = w1, w2
            a1 = _unit(w1 - np.dot(c, w1) * c)
            # e2 orthogonal to e1 in the tangent plane, oriented toward w2
            raw2 = w2 - np.dot(c, w2) * c
            raw2 = raw2 - np.dot(raw2, a1) * a1
            a2 = _unit(raw2)
            e1[t, k], e2[t, k] = a1, a2
            az_max[t, k] = np.arctan2(
                np.dot(w2 - np.dot(c, w2) * c, a2),
                np.dot(w2 - np.dot(c, w2) * c, a1))
            n = _unit(np.cross(w1, w2))
            if np.dot(n, c) > 0:
                n = -n
            nrm[t, k] = n
            s_tot[t, k] = abs(_tri_excess(c, w1, w2))
            W1_2[t, k], W2_2[t, k] = cyc_p[k], cyc_p[(k + 1) % 6]
            # cycle handedness varies with the (sorted-id) vertex order:
            # wedge membership tests must carry each wedge's own sign
            ori[t, k] = np.sign(np.dot(c, np.cross(w1, w2)))
            a2d = cyc_p[k] - C2[t]
            b2d = cyc_p[(k + 1) % 6] - C2[t]
            ori_p[t, k] = np.sign(a2d[0] * b2d[1] - a2d[1] * b2d[0])
    return (C, e1, e2, W1, W2, nrm, az_max, s_tot, C2, W1_2, W2_2,
            ori, ori_p)


(_C, _E1, _E2, _W1, _W2, _N, _AZMAX, _STOT, _C2, _W1P, _W2P,
 _ORI, _ORIP) = _build_wedges()


def _wedge_of(tri, xyz):
    """Wedge index 0..5 for unit vectors xyz on triangle ``tri`` —
    maximal min-margin against the two bounding planes (robust on
    boundaries)."""
    c = _C[tri]                                   # (n, 3)
    best = np.full(tri.shape[0], -1, dtype=np.int64)
    margin = np.full(tri.shape[0], -np.inf)
    for k in range(6):
        o = _ORI[tri, k]
        b1 = np.cross(c, _W1[tri, k])
        b2 = np.cross(c, _W2[tri, k])
        m = np.minimum(o * np.einsum("ni,ni->n", b1, xyz),
                       -o * np.einsum("ni,ni->n", b2, xyz))
        upd = m > margin
        best[upd] = k
        margin[upd] = m[upd]
    return best


def _sph_to_uv(xyz):
    """(diamond, u, v) via the equal-area wedge map (closed-form)."""
    dots = xyz @ _C.T
    tri = np.argmax(dots, axis=1).astype(np.int64)
    k = _wedge_of(tri, xyz)
    c = _C[tri]
    e1 = _E1[tri, k]
    e2 = _E2[tri, k]
    n = _N[tri, k]
    cosz = np.clip(np.einsum("ni,ni->n", c, xyz), -1.0, 1.0)
    px = np.einsum("ni,ni->n", xyz, e1)
    py = np.einsum("ni,ni->n", xyz, e2)
    az = np.arctan2(py, px)
    az = np.clip(az, 0.0, _AZMAX[tri, k])
    # edge distance along az: tan z_e = -(n·C)/(n·ê)
    ed = np.cos(az) * np.einsum("ni,ni->n", n, e1) + np.sin(az) * np.einsum(
        "ni,ni->n", n, e2)
    nc = np.einsum("ni,ni->n", n, c)
    z_e = np.arctan2(-nc, ed)
    # cumulative wedge area up to az: excess of (C, W1, X(az))
    x = (c * np.cos(z_e)[:, None]
         + (np.cos(az)[:, None] * e1 + np.sin(az)[:, None] * e2)
         * np.sin(z_e)[:, None])
    s = np.abs(_tri_excess(c, _W1[tri, k], x))
    t = np.clip(s / _STOT[tri, k], 0.0, 1.0)
    xp = _W1P[tri, k] + t[:, None] * (_W2P[tri, k] - _W1P[tri, k])
    v = np.clip((1.0 - cosz) / (1.0 - np.cos(z_e)), 0.0, 1.0)
    p2 = _C2[tri] + (xp - _C2[tri]) * np.sqrt(v)[:, None]
    d = tri >> 1
    return d, np.clip(p2[:, 0], 0.0, 1.0), np.clip(p2[:, 1], 0.0, 1.0)


def _uv_to_sph(d, u, v):
    """Inverse equal-area map: diamond (u, v) → unit vectors."""
    d = np.asarray(d, dtype=np.int64)
    u = np.clip(np.asarray(u, dtype=np.float64), _UV_EPS, 1.0 - _UV_EPS)
    v = np.clip(np.asarray(v, dtype=np.float64), _UV_EPS, 1.0 - _UV_EPS)
    half = (u + v > 1.0).astype(np.int64)
    tri = (d << 1) | half
    p2 = np.column_stack([u, v])
    # planar wedge: max min-margin of 2D cross products
    c2 = _C2[tri]
    rel = p2 - c2
    best = np.full(tri.shape[0], 0, dtype=np.int64)
    margin = np.full(tri.shape[0], -np.inf)
    for k in range(6):
        o = _ORIP[tri, k]
        a = _W1P[tri, k] - c2
        b = _W2P[tri, k] - c2
        m = np.minimum(o * (a[:, 0] * rel[:, 1] - a[:, 1] * rel[:, 0]),
                       o * (rel[:, 0] * b[:, 1] - rel[:, 1] * b[:, 0]))
        upd = m > margin
        best[upd] = k
        margin[upd] = m[upd]
    k = best
    w1p = _W1P[tri, k]
    w2p = _W2P[tri, k]
    # ray C2 + s·rel hits segment w1p + t·(w2p−w1p)
    ex = w2p - w1p
    denom = rel[:, 0] * ex[:, 1] - rel[:, 1] * ex[:, 0]
    denom = np.where(np.abs(denom) < 1e-300, 1e-300, denom)
    wc = w1p - c2
    t = np.clip((wc[:, 0] * rel[:, 1] - wc[:, 1] * rel[:, 0]) / denom,
                0.0, 1.0)
    xp = w1p + t[:, None] * ex
    re2 = np.einsum("ni,ni->n", xp - c2, xp - c2)
    vfrac = np.clip(np.einsum("ni,ni->n", rel, rel)
                    / np.where(re2 < 1e-300, 1e-300, re2), 0.0, 1.0)
    # Newton: S(az) = t * S_tot, dS/daz = 1 - cos z_e(az)
    c = _C[tri]
    e1 = _E1[tri, k]
    e2 = _E2[tri, k]
    n = _N[tri, k]
    nc = np.einsum("ni,ni->n", n, c)
    ne1 = np.einsum("ni,ni->n", n, e1)
    ne2 = np.einsum("ni,ni->n", n, e2)
    target = t * _STOT[tri, k]
    az = t * _AZMAX[tri, k]
    w1 = _W1[tri, k]
    for _ in range(20):
        ed = np.cos(az) * ne1 + np.sin(az) * ne2
        z_e = np.arctan2(-nc, ed)
        x = (c * np.cos(z_e)[:, None]
             + (np.cos(az)[:, None] * e1 + np.sin(az)[:, None] * e2)
             * np.sin(z_e)[:, None])
        s = np.abs(_tri_excess(c, w1, x))
        dz = 1.0 - np.cos(z_e)
        step = (target - s) / np.where(dz < 1e-15, 1e-15, dz)
        az = np.clip(az + step, 0.0, _AZMAX[tri, k])
        if np.max(np.abs(step)) < 1e-15:
            break
    ed = np.cos(az) * ne1 + np.sin(az) * ne2
    z_e = np.arctan2(-nc, ed)
    cosz = 1.0 - vfrac * (1.0 - np.cos(z_e))
    z = np.arccos(np.clip(cosz, -1.0, 1.0))
    ehat = np.cos(az)[:, None] * e1 + np.sin(az)[:, None] * e2
    return c * np.cos(z)[:, None] + ehat * np.sin(z)[:, None]


def _equal_area(radix, d, res, row, col, radius_m):
    """EXACT closed form: the map is equal-area by construction, so
    every res-r cell has area 4πR²/(10·radix^(2r)) — the defining
    property of the IVEA/ISEA class (verified independently by the
    Monte-Carlo uniformity battery in tests/test_dggs_e4r.py)."""
    return (_SPHERE_AREA * radius_m * radius_m
            / (10.0 * np.power(float(radix * radix),
                               res.astype(np.float64))))


# a projection: (sphere → (diamond, u, v), (diamond, u, v) → sphere,
# area rule)
_CENTRAL = (_point_uv, _uv_to_xyz, _fold_split_area)
_EQUAL_AREA = (_sph_to_uv, _uv_to_sph, _equal_area)


# --------------------------------------------------------------------------
# the grid surface


class Rhombus:
    """One rhombus grid: ``radix`` cells per diamond axis per level and
    one projection.  Exposes the grid protocol (README "Grid protocol")
    as attributes, like a grid module."""

    MIN_RES = 0

    def __init__(self, name: str, radix: int, max_res: int,
                 parent_offset: int, projection):
        self.name = name
        self.radix = radix
        self.MAX_RES = max_res
        self.PARENT_OFFSET = parent_offset
        self._to_uv, self._to_sph, self._area = projection

    def __reduce__(self):
        # pickle (Spark closures) by module-level name: I4R, E9R, ...
        return self.name.upper()

    get_resolution = staticmethod(get_resolution)

    def cell_pitch_rad(self, res: int) -> float:
        return _PITCH0_RAD / float(self.radix) ** max(res, 0)

    def pitch_deg(self, res: int) -> float:
        return float(np.degrees(self.cell_pitch_rad(res)))

    def n_cells(self, res: int) -> int:
        return 10 * (self.radix * self.radix) ** res  # 10 diamonds

    def _encode(self, lon, lat, res: int):
        n = self.radix ** res
        d, u, v = self._to_uv(_lonlat_to_xyz(lon, lat))
        col = np.minimum((u * n).astype(np.int64), n - 1)
        row = np.minimum((v * n).astype(np.int64), n - 1)
        return pack(d, res, row, col)

    def lonlat_to_cell(self, lon_deg, lat_deg, res: int):
        if not 0 <= res <= self.MAX_RES:
            raise ValueError(f"{self.name} res out of range")
        return encode_chunked(self.name, self._encode, lon_deg, lat_deg,
                              res, _ENCODE_CHUNK)

    def cell_to_lonlat(self, cells):
        d, res, row, col = unpack(cells)
        out_lon = np.empty(d.shape[0], dtype=np.float64)
        out_lat = np.empty(d.shape[0], dtype=np.float64)
        for m, n in _levels(res, self.radix):
            u = (col[m] + 0.5) / n
            v = (row[m] + 0.5) / n
            out_lon[m], out_lat[m] = _xyz_to_lonlat(self._to_sph(d[m], u, v))
        return out_lon, out_lat

    def cell_to_boundary(self, cells):
        """(vlon, vlat) of shape (n, 4): the uv-corner ring A'B'D'C'
        (CCW in uv) mapped to the sphere.  Cells straddling the diamond
        fold u+v=1 have edges that bend once at the fold — the 4 corners
        are the exact vertices; the two fold-crossing points are omitted
        from the ring (display-level simplification; areas use the
        exact rule)."""
        d, res, row, col = unpack(cells)
        out_lon = np.empty((d.shape[0], 4), dtype=np.float64)
        out_lat = np.empty((d.shape[0], 4), dtype=np.float64)
        for m, n in _levels(res, self.radix):
            u0 = col[m] / n
            v0 = row[m] / n
            step = 1.0 / n
            us = np.stack([u0, u0 + step, u0 + step, u0], axis=1)
            vs = np.stack([v0, v0, v0 + step, v0 + step], axis=1)
            p = self._to_sph(np.repeat(d[m], 4), us.ravel(), vs.ravel())
            lon, lat = _xyz_to_lonlat(p)
            out_lon[m] = lon.reshape(-1, 4)
            out_lat[m] = lat.reshape(-1, 4)
        return out_lon, out_lat

    def cell_area_m2(self, cells, radius_m: float = 6371007.1809):
        d, res, row, col = unpack(cells)
        return self._area(self.radix, d, res, row, col, radius_m)

    def cell_to_parent(self, cells, parent_res: int):
        c = np.asarray(cells, dtype=np.int64).ravel()
        d, res, row, col = unpack(c)
        if np.any(parent_res > res):
            raise ValueError("parent_res coarser than cell res required")
        out = np.empty(c.shape[0], dtype=np.int64)
        for r in np.unique(res):
            m = res == r
            div = self.radix ** (int(r) - parent_res)
            out[m] = pack(d[m], parent_res, row[m] // div, col[m] // div)
        return out

    def parent_col(self, col, parent_res: int, from_res: int | None = None):
        """Spark Column twin of :meth:`cell_to_parent`: per-axis
        floor-div of the 26-bit row/col fields by radix^k (values
        < 2^26, so the double floor-div is exact); needs the cells'
        uniform ``from_res``."""
        from pyspark.sql import functions as F

        if from_res is None:
            raise ValueError(f"{self.name} parent_col needs from_res")
        div = self.radix ** (from_res - parent_res)
        row = F.shiftrightunsigned(col, 26).bitwiseAND(F.lit(0x3FFFFFF))
        c = col.bitwiseAND(F.lit(0x3FFFFFF))
        head = col.bitwiseAND(F.lit(0xF << 57)).bitwiseOR(
            F.lit(parent_res << 52))
        return head.bitwiseOR(
            F.shiftleft(F.floor(row / F.lit(div)).cast("long"), 26)
        ).bitwiseOR(F.floor(c / F.lit(div)).cast("long"))

    def cell_to_children(self, cells, child_res: int):
        """All descendants at ``child_res``: each cell's (side x side)
        block of (row, col), row-major, cell-major overall."""
        d, res, row, col = unpack(cells)
        if d.size == 0:
            return d
        side = self.radix ** child_depth(res, child_res, self.MAX_RES)
        dr = np.repeat(np.arange(side, dtype=np.int64), side)
        dc = np.tile(np.arange(side, dtype=np.int64), side)
        rows = row[:, None] * np.int64(side) + dr[None, :]
        cols = col[:, None] * np.int64(side) + dc[None, :]
        return pack(np.repeat(d, side * side), child_res, rows.ravel(),
                    cols.ravel())

    def get_num_children(self, parent_res: int, child_res: int) -> int:
        if child_res < parent_res:
            raise ValueError("child_res must be >= parent_res")
        return (self.radix * self.radix) ** (child_res - parent_res)


# 4^8 = 65K and 9^5 ~ 59K subcells per parent partition
I4R = Rhombus("i4r", 2, 26, 8, _CENTRAL)
I9R = Rhombus("i9r", 3, 16, 5, _CENTRAL)
E4R = Rhombus("e4r", 2, 26, 8, _EQUAL_AREA)
E9R = Rhombus("e9r", 3, 16, 5, _EQUAL_AREA)
