"""``e4r`` — an EQUAL-AREA icosahedral-rhombus aperture-4 grid
(IVEA4R/ISEA-class layout).

The reference's IVEA*/ISEA* DGGAL families are *equal-area*
re-projections of the same diamond layouts i4r/i9r implement with
central (gnomonic) projection (ref indexers/dggalrasterindexer.py:
375-401 registry).  This module closes that class with a from-scratch
equal-area map built on the classic slice-and-scale construction
(the idea behind Snyder's 1992 polyhedral equal-area projection,
re-derived here from first principles — see the proof sketch below):

Each icosahedron triangle splits into 6 wedges around its centroid C
(boundary cycle vertex → edge-midpoint → vertex …).  A wedge maps to
the corresponding planar wedge of the diamond's (u,v) triangle by

1. **azimuth reparameterization**: the planar azimuth is chosen so the
   cumulative wedge area fractions match —
   S_sph(Az)/S_sph_tot = S_pl(Az')/S_pl_tot.  On the planar side the
   cumulative area is LINEAR in the position t of the edge intersection
   X' along the wedge edge, so t = S_sph(Az)/S_sph_tot directly (no
   transcendental solve in the forward direction).
2. **radial √-scaling**: with v = (1−cos z)/(1−cos z_e(Az)) the point
   maps to C' + (X'−C')·√v.

Equal-area proof sketch: in (Az, v) coordinates the spherical area
element is (1−cos z_e(Az)) dAz dv and the planar element is
(r_e(Az')²/2) dAz' dv; the cumulative matching makes
dS_pl = (S_pl_tot/S_sph_tot)·dS_sph, i.e. the Jacobian is the constant
S_pl_tot/S_sph_tot everywhere.  Cells at res r therefore have EXACTLY
equal spherical area = 4πR²/(10·4^r) — pinned by a Monte-Carlo
uniformity test and by the closed-form constant in ``cell_area_m2``.

Forward (sphere→uv, the hot encode path) is closed-form; the inverse
(uv→sphere, cell centres/boundaries) solves S_sph(Az) = t·S_tot by
Newton with the analytic derivative dS/dAz = 1−cos z_e(Az).

Id layout, parent/children arithmetic, compaction and the Spark-side
Column parent are IDENTICAL to i4r (imported) — only the uv↔sphere
map differs.
"""

from __future__ import annotations

import numpy as np

# id arithmetic, hierarchy and the nominal pitch are i4r's (equal-area
# redistribution moves boundaries by a bounded factor; the cover
# sampler's 0.18x safety factor at coarse res covers it — pinned by the
# bbox battery)
from raster2dggs_spark.dggs.i4rlib import (  # noqa: F401 (grid protocol)
    MAX_RES,
    MIN_RES,
    PARENT_OFFSET,
    _CORNERS,
    _TRI_IDX,
    _V,
    _lonlat_to_xyz,
    _unit,
    _xyz_to_lonlat,
    cell_pitch_rad,
    cell_to_children,
    cell_to_parent,
    get_num_children,
    get_resolution,
    n_cells,
    pack,
    parent_col,
    pitch_deg,
    unpack,
)

_ENCODE_CHUNK = 8192
_SPHERE_AREA = 4.0 * np.pi


def _tri_excess(a, b, c):
    """Signed spherical excess of triangle (a, b, c) — unit vectors,
    arrays broadcastable on the leading axis."""
    num = np.einsum("...i,...i->...", a, np.cross(b, c))
    den = (1.0 + np.einsum("...i,...i->...", a, b)
           + np.einsum("...i,...i->...", b, c)
           + np.einsum("...i,...i->...", c, a))
    return 2.0 * np.arctan2(num, den)


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
_TRI_CENT = _C  # alias: nearest-face selection uses the same centroids


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
    """(tri, u, v) via the equal-area wedge map (closed-form)."""
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
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
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


# --------------------------------------------------------------------------
# grid surface (id arithmetic shared with i4r)


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError("e4r res out of range")
    lon_a = np.asarray(lon_deg, dtype=np.float64).ravel()
    lat_a = np.asarray(lat_deg, dtype=np.float64).ravel()
    out = np.empty(lon_a.shape[0], dtype=np.int64)
    n = 1 << res
    for i in range(0, max(lon_a.shape[0], 1), _ENCODE_CHUNK):
        sl = slice(i, i + _ENCODE_CHUNK)
        d, u, v = _sph_to_uv(_lonlat_to_xyz(lon_a[sl], lat_a[sl]))
        col = np.minimum((u * n).astype(np.int64), n - 1)
        row = np.minimum((v * n).astype(np.int64), n - 1)
        out[sl] = pack(d, res, row, col)
    return out


def cell_to_lonlat(cells):
    d, res, row, col = unpack(cells)
    out_lon = np.empty(d.shape[0], dtype=np.float64)
    out_lat = np.empty(d.shape[0], dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(1 << int(r))
        u = (col[m] + 0.5) / n
        v = (row[m] + 0.5) / n
        lon, lat = _xyz_to_lonlat(_uv_to_sph(d[m], u, v))
        out_lon[m] = lon
        out_lat[m] = lat
    return out_lon, out_lat


def cell_to_boundary(cells):
    """(vlon, vlat) (n, 4): uv-corner ring mapped through the exact
    inverse (edges are equal-area-map images of straight uv lines —
    display-level 4-corner ring like i4r)."""
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
        # nudge corners inside the open diamond so wedge/face selection
        # is unambiguous on lattice seams
        eps = 1e-12
        us = np.clip(us, eps, 1.0 - eps)
        vs = np.clip(vs, eps, 1.0 - eps)
        p = _uv_to_sph(np.repeat(d[m], 4), us.ravel(), vs.ravel())
        lon, lat = _xyz_to_lonlat(p)
        out_lon[m] = lon.reshape(-1, 4)
        out_lat[m] = lat.reshape(-1, 4)
    return out_lon, out_lat


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT closed form: the map is equal-area by construction, so
    every res-r cell has area 4πR²/(10·4^r) — the defining property of
    the IVEA/ISEA class (verified independently by the Monte-Carlo
    uniformity battery in tests/test_dggs_e4r.py)."""
    _, res, _, _ = unpack(cells)
    return (_SPHERE_AREA * radius_m * radius_m
            / (10.0 * np.power(4.0, res.astype(np.float64))))
