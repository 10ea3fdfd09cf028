"""``a5`` — an A5-LAYOUT pentagonal-dodecahedron grid (aperture 5 then 4).

The reference's A5 indexer (ref raster2dggs/indexers/a5rasterindexer.py)
wraps the pya5 native library: 12 res-0 pentagons (dodecahedron faces),
aperture-5 subdivision from res 0 to 1 (12 pentagons → 60 cells) and
aperture-4 thereafter — the subdivision-schedule special case its own
regression suite pins (ref tests/regression/test_a5_cell_to_children_
size.py: get_num_children(0,1)=5, (1,2)=4, (5,8)=64) — plus
center-in-bbox cell enumeration whose completeness at high latitude is
pinned by ref tests/regression/test_a5_cells_in_bbox_coverage.py.

pya5 is unavailable offline, so — exactly like ``hex7`` (h3lib) and
``i3h`` (i3hlib) — this module implements the same algorithm class as an
honest OWN-ID layout grid: the published A5 subdivision STRUCTURE on a
from-scratch spherical dodecahedron, with ids that are NOT
pya5-interoperable (the grid key is ``a5`` only in the sense of
"A5-layout"; nothing pretends the u64s match pya5's).

Layout
------
- Res 0: the 12 regular-pentagon faces of the spherical dodecahedron
  (face centers = icosahedron vertices, the dual).  Within a face all
  math happens in its gnomonic tangent plane, where great circles are
  straight lines — so every cell region below is an EXACT planar
  polygon image of its spherical cell.
- Res 1 (aperture 5): each pentagon splits into its 5 QUINTANT
  triangles (face center + two adjacent pentagon vertices).  The
  pentagon edges are dodecahedron edges (great-circle arcs → straight
  gnomonic lines), so the 5 triangles tile the face exactly.
- Res ≥ 2 (aperture 4): planar midpoint subdivision of each triangle
  into 4 congruent half-scale triangles (3 corner + 1 inverted center)
  — the classic triangular quadtree.  All cells at a given res within
  a quintant are congruent in the plane (spherical areas vary with
  gnomonic distortion; `cell_area_m2` reports the TRUE spherical area,
  and the uniform MEAN area drives resolution auto-modes, matching the
  reference's equal-area accounting at the schedule level).

Id: int64 — face:4 bits @60 | res:5 @55 | quintant:3 @52 | base-4
digits MSB-aligned below bit 52 (level-ℓ digit at bits [52−2(ℓ−1),
52−2(ℓ−1)+2) for ℓ = 2..res; good to res 27).  Faces 8–11 set bit 63,
so ids can be NEGATIVE int64 (like i3h/s2): never use -1 sentinels
against a5 ids (INT64_MIN-style unreachable values only).  Parent =
zero the finest digit + decrement the res field: pure bit arithmetic,
so Spark-side parent derivation stays a native Column expression
(joins.parent_expr) with zero Python.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

MIN_RES = 0
MAX_RES = 27
PARENT_OFFSET = 8
_ENCODE_CHUNK = 8192
_GOLD = (1.0 + np.sqrt(5.0)) / 2.0
_SECTOR = 2.0 * np.pi / 5.0


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _build_geometry():
    """Face centers (12, icosa vertices), per-face tangent frames with
    e1 aimed at the azimuth-0 pentagon vertex, and the shared gnomonic
    vertex radius RHO (identical across faces by symmetry)."""
    fc = []
    for s1 in (1.0, -1.0):
        for s2 in (1.0, -1.0):
            fc += [(0.0, s1, s2 * _GOLD), (s1, s2 * _GOLD, 0.0),
                   (s2 * _GOLD, 0.0, s1)]
    faces = _unit(np.array(fc, dtype=np.float64))
    # dodecahedron vertices = icosahedron face centroids (exact dual in
    # THIS frame): every mutually-adjacent triple of icosa vertices is
    # one of its 20 triangular faces
    adj = faces @ faces.T > 0.4  # icosa edge dot = 1/sqrt(5) ≈ 0.447
    dv = []
    for i in range(12):
        for j in range(i + 1, 12):
            if not adj[i, j]:
                continue
            for k in range(j + 1, 12):
                if adj[i, k] and adj[j, k]:
                    dv.append(faces[i] + faces[j] + faces[k])
    assert len(dv) == 20
    verts = _unit(np.array(dv, dtype=np.float64))
    e1 = np.empty((12, 3))
    e2 = np.empty((12, 3))
    rho = None
    for f in range(12):
        n = faces[f]
        idx = np.argsort(-(verts @ n))[:5]
        vs = verts[idx]
        t0 = vs[0] - (vs[0] @ n) * n
        a1 = t0 / np.linalg.norm(t0)
        a2 = np.cross(n, a1)
        den = vs @ n
        u = (vs @ a1) / den
        w = (vs @ a2) / den
        az = np.mod(np.arctan2(w, u), 2.0 * np.pi)
        order = np.argsort(az)
        # re-aim e1 at the azimuth-sorted FIRST vertex so every face has
        # its 5 vertices at azimuths exactly 0, 72, ..., 288 degrees
        v0 = vs[order[0]]
        t0 = v0 - (v0 @ n) * n
        e1[f] = t0 / np.linalg.norm(t0)
        e2[f] = np.cross(n, e1[f])
        r = float(np.hypot(u[order[0]], w[order[0]]))
        assert rho is None or abs(r - rho) < 1e-12
        rho = r
        # sanity: vertices sit at equal 72-degree spacing
        az = np.sort(np.mod(az - az[order[0]], 2.0 * np.pi))
        assert np.allclose(az, _SECTOR * np.arange(5), atol=1e-9)
    return faces, e1, e2, rho


_FACE_XYZ, _E1, _E2, RHO = _build_geometry()
# quintant triangle corner vectors in the rotated quintant frame:
# O=(0,0), A0 at azimuth 0, A1 at azimuth 72 degrees, both radius RHO
_A1X = RHO * np.cos(_SECTOR)
_A1Y = RHO * np.sin(_SECTOR)
# center→vertex angle psi (≈37.38°) and the gnomonic radial scale
# cos²(psi) at the far corner — the worst-case shrink of a planar cell
_PSI = float(np.arccos(1.0 / np.sqrt(1.0 + RHO * RHO)))
_DISTORT = float(np.cos(_PSI) ** 2)
# planar inradius of the quintant triangle (gnomonic units)
_TRI_AREA = 0.5 * abs(RHO * _A1Y)
_TRI_PERIM = (2.0 * RHO + float(np.hypot(RHO - _A1X, _A1Y)))
_TRI_INRADIUS = 2.0 * _TRI_AREA / _TRI_PERIM
# res-0 pentagon inradius angle: face center to edge midpoint
_PENTA_INRADIUS_RAD = float(np.arctan(RHO * np.cos(_SECTOR / 2.0)))

_RES_MASK = np.int64(0x1F) << np.int64(55)
_LOW52 = (np.int64(1) << np.int64(52)) - np.int64(1)


def pack(face, res: int, quint, dig):
    """Assemble ids; ``dig`` is the MSB-first base-4 digit number for
    levels 2..res (0 when res <= 1)."""
    face = np.asarray(face, dtype=np.int64)
    quint = np.asarray(quint, dtype=np.int64)
    dig = np.asarray(dig, dtype=np.int64)
    shift = 52 - 2 * (res - 1) if res >= 2 else 52
    return (
        (face << np.int64(60)) | (np.int64(res) << np.int64(55))
        | (quint << np.int64(52)) | (dig << np.int64(shift))
    ).astype(np.int64)


def unpack(cells):
    """(face, res, quint, low52): ``low52`` is the raw digit field —
    the level-ℓ digit of a res-r id is ``(low52 >> (52 − 2(ℓ−1))) & 3``."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    face = (c >> np.int64(60)) & np.int64(0xF)
    res = (c >> np.int64(55)) & np.int64(0x1F)
    quint = (c >> np.int64(52)) & np.int64(0x7)
    return face, res, quint, c & _LOW52


def get_resolution(cells):
    return unpack(cells)[1]


def _lonlat_to_xyz(lon_deg, lat_deg):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64).ravel())
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64).ravel())
    cl = np.cos(lat)
    return np.column_stack([cl * np.cos(lon), cl * np.sin(lon),
                            np.sin(lat)])


def _face_uv(xyz):
    """Nearest face + gnomonic plane coordinates in that face's frame."""
    dots = xyz @ _FACE_XYZ.T
    face = np.argmax(dots, axis=1).astype(np.int64)
    den = dots[np.arange(xyz.shape[0]), face]
    u = np.einsum("ij,ij->i", xyz, _E1[face]) / den
    v = np.einsum("ij,ij->i", xyz, _E2[face]) / den
    return face, u, v


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError("a5 res out of range")
    return encode_chunked("a5", _encode, lon_deg, lat_deg, res, _ENCODE_CHUNK)


def _encode(lon, lat, res: int):
    face, u, v = _face_uv(_lonlat_to_xyz(lon, lat))
    if res == 0:
        return pack(face, 0, 0, 0)
    az = np.mod(np.arctan2(v, u), 2.0 * np.pi)
    q = np.minimum((az / _SECTOR).astype(np.int64), 4)
    ang = -q.astype(np.float64) * _SECTOR
    ca, sa = np.cos(ang), np.sin(ang)
    x = ca * u - sa * v
    y = sa * u + ca * v
    # barycentric (alpha, beta) over (O, A0, A1); clip fp stragglers
    # (points on the pentagon edge) back into the closed triangle
    beta = y / _A1Y
    alpha = (x - beta * _A1X) / RHO
    alpha = np.maximum(alpha, 0.0)
    beta = np.maximum(beta, 0.0)
    s = alpha + beta
    over = s > 1.0
    if over.any():
        alpha = np.where(over, alpha / s, alpha)
        beta = np.where(over, beta / s, beta)
    # branchless level step (round 8, ~40% off the digit loop):
    # bool-as-float subtraction replaces the nested wheres — x2-c1
    # IS x2-1 iff c1 (c2 likewise), and only the c3 flip needs a
    # where; the digit accumulates in float64 (4·dig + d is exact:
    # the digit field is <= 52 bits < 2^53 at MAX_RES 27).  Output
    # identical bit-for-bit to the nested-where form.
    digf = np.zeros(alpha.shape[0])
    for _lvl in range(2, res + 1):
        x2 = 2.0 * alpha
        y2 = 2.0 * beta
        c1 = x2 >= 1.0
        c2 = (~c1) & (y2 >= 1.0)
        c3 = (~c1) & (~c2) & (x2 + y2 > 1.0)
        alpha = np.where(c3, 1.0 - y2, x2 - c1)
        beta = np.where(c3, 1.0 - x2, y2 - c2)
        digf = 4.0 * digf + (c1 + 2.0 * c2 + 3.0 * c3)
    return pack(face, res, q, digf.astype(np.int64))


def _triangle_corners(res: int, low52):
    """Barycentric corner triples (O, A, B) of each id's triangle within
    its quintant — shape (n, 3, 2) — via midpoint-quadtree refinement.
    ``res >= 1`` required (res 0 is the pentagon, not a triangle)."""
    n = low52.shape[0]
    tri = np.zeros((n, 3, 2), dtype=np.float64)
    tri[:, 1, 0] = 1.0  # A = (1, 0)
    tri[:, 2, 1] = 1.0  # B = (0, 1)
    for lvl in range(2, res + 1):
        shift = np.int64(52 - 2 * (lvl - 1))
        d = ((low52 >> shift) & np.int64(3)).astype(np.int64)
        o, a, b = tri[:, 0], tri[:, 1], tri[:, 2]
        moa = 0.5 * (o + a)
        mob = 0.5 * (o + b)
        mab = 0.5 * (a + b)
        sel = d[:, None]
        new = np.empty_like(tri)
        new[:, 0] = np.select([sel == 0, sel == 1, sel == 2],
                              [o, moa, mob], default=mab)
        new[:, 1] = np.select([sel == 0, sel == 1, sel == 2],
                              [moa, a, mab], default=moa)
        new[:, 2] = np.select([sel == 0, sel == 1, sel == 2],
                              [mob, mab, b], default=mob)
        tri = new
    return tri


def _quintant_plane(face, quint, ab):
    """(alpha, beta) barycentric points (n, k, 2) → face-plane (u, v)."""
    x = ab[..., 0] * RHO + ab[..., 1] * _A1X
    y = ab[..., 1] * _A1Y
    ang = quint.astype(np.float64) * _SECTOR
    ca, sa = np.cos(ang), np.sin(ang)
    if x.ndim == 2:
        ca, sa = ca[:, None], sa[:, None]
    return ca * x - sa * y, sa * x + ca * y


def _plane_to_lonlat(face, u, v):
    shape = u.shape
    f = np.broadcast_to(face.reshape(-1, *([1] * (u.ndim - 1))), shape)
    p = (_FACE_XYZ[f] + u[..., None] * _E1[f] + v[..., None] * _E2[f])
    p = p / np.linalg.norm(p, axis=-1, keepdims=True)
    lon = np.degrees(np.arctan2(p[..., 1], p[..., 0]))
    lat = np.degrees(np.arcsin(np.clip(p[..., 2], -1.0, 1.0)))
    return (lon + 180.0) % 360.0 - 180.0, lat


def cell_to_lonlat(cells):
    """Cell centers: the face center at res 0, else the centroid of the
    cell's (exact) gnomonic triangle, projected back to the sphere."""
    face, res, quint, low = unpack(cells)
    out_lon = np.empty(face.shape[0], dtype=np.float64)
    out_lat = np.empty(face.shape[0], dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        if r == 0:
            lon = np.degrees(np.arctan2(_FACE_XYZ[face[m], 1],
                                        _FACE_XYZ[face[m], 0]))
            lat = np.degrees(np.arcsin(
                np.clip(_FACE_XYZ[face[m], 2], -1.0, 1.0)))
            out_lon[m] = (lon + 180.0) % 360.0 - 180.0
            out_lat[m] = lat
            continue
        tri = _triangle_corners(int(r), low[m])
        cent = tri.mean(axis=1)
        u, v = _quintant_plane(face[m], quint[m], cent)
        lon, lat = _plane_to_lonlat(face[m], u, v)
        out_lon[m] = lon
        out_lat[m] = lat
    return out_lon, out_lat


def cell_to_boundary(cells):
    """(vlon, vlat): (n, 3) triangle vertices for res >= 1 ids, (n, 5)
    pentagon vertices for res-0 ids.  Mixed res-0/res>=1 input raises
    (the ring widths differ)."""
    face, res, quint, low = unpack(cells)
    if res.size == 0:
        return (np.empty((0, 3)), np.empty((0, 3)))
    if (res == 0).any() and (res > 0).any():
        raise ValueError("a5 boundary: mixed res-0/res>=1 cells")
    if (res == 0).all():
        ab = np.zeros((face.shape[0], 5, 2))
        ang = _SECTOR * np.arange(5)
        u = np.broadcast_to(RHO * np.cos(ang), (face.shape[0], 5)).copy()
        v = np.broadcast_to(RHO * np.sin(ang), (face.shape[0], 5)).copy()
        return _plane_to_lonlat(face, u, v)
    out_lon = np.empty((face.shape[0], 3), dtype=np.float64)
    out_lat = np.empty((face.shape[0], 3), dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        tri = _triangle_corners(int(r), low[m])
        u, v = _quintant_plane(face[m], quint[m], tri)
        lon, lat = _plane_to_lonlat(face[m], u, v)
        out_lon[m] = lon
        out_lat[m] = lat
    return out_lon, out_lat


def cell_to_parent(cells, parent_res: int):
    """Pure bit arithmetic (nested hierarchy): zero the digits finer
    than ``parent_res`` (and the quintant when parent_res is 0) and
    rewrite the res field.  The Column-expression twin is
    :func:`parent_col`."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    res = (c >> np.int64(55)) & np.int64(0x1F)
    if np.any(parent_res > res):
        raise ValueError("parent_res coarser than cell res required")
    s = 55 if parent_res == 0 else 52 - 2 * (parent_res - 1)
    mask = np.int64(-(1 << s)) & ~_RES_MASK
    return ((c & mask) | np.int64(parent_res << 55)).astype(np.int64)


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`."""
    from pyspark.sql import functions as F

    s = 55 if parent_res == 0 else 52 - 2 * (parent_res - 1)
    mask = (-(1 << s)) & ~(0x1F << 55)
    return (col.bitwiseAND(F.lit(mask))).bitwiseOR(F.lit(parent_res << 55))


def n_cells(res: int) -> int:
    """12 pentagons; aperture 5 for res 0→1, aperture 4 thereafter."""
    return 12 if res == 0 else 60 * 4 ** (res - 1)


def get_num_children(parent_res: int, child_res: int) -> int:
    """Subdivision schedule (the reference's aperture-5-then-4 special
    case, ref tests/regression/test_a5_cell_to_children_size.py):
    res 0 → 1 is 5-ary, every later level 4-ary."""
    if child_res < parent_res:
        raise ValueError("child_res must be >= parent_res")
    n = 1
    for lvl in range(parent_res + 1, child_res + 1):
        n *= 5 if lvl == 1 else 4
    return n


def cell_to_children(cells, child_res: int):
    """All descendants at ``child_res``, cell-major: the base-4 digits
    of levels res+1..child_res are appended below the MSB-aligned field
    (and a res-0 pentagon first enumerates its 5 quintants)."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    if c.size == 0:
        return c
    r_cur = int(child_res) - child_depth(get_resolution(c), child_res,
                                         MAX_RES)
    base = (c & ~_RES_MASK) | np.int64(child_res << 55)
    shift = np.int64(52 - 2 * (child_res - 1)) if child_res >= 2 else 52
    dig = (np.arange(4 ** max(child_res - max(r_cur, 1), 0),
                     dtype=np.int64) << np.int64(shift))
    if r_cur == 0 and child_res > 0:
        q = np.arange(5, dtype=np.int64) << np.int64(52)
        dig = (q[:, None] | dig[None, :]).ravel()
    return (base[:, None] | dig[None, :]).ravel()


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT spherical cell areas: the boundary edges are great-circle
    arcs (straight gnomonic lines), so the spherical-excess formula
    (Van Oosterom–Strackee signed excess per corner triangle, summed
    around the ring) is exact, not an approximation."""
    vlon, vlat = cell_to_boundary(cells)
    k = vlon.shape[1]
    xyz = _lonlat_to_xyz(vlon.ravel(), vlat.ravel()).reshape(-1, k, 3)
    total = np.zeros(xyz.shape[0], dtype=np.float64)
    a = xyz[:, 0]
    for i in range(1, k - 1):
        b, cc = xyz[:, i], xyz[:, i + 1]
        num = np.einsum("ij,ij->i", a, np.cross(b, cc))
        den = (1.0 + np.einsum("ij,ij->i", a, b)
               + np.einsum("ij,ij->i", b, cc)
               + np.einsum("ij,ij->i", cc, a))
        total += 2.0 * np.arctan2(num, den)
    return np.abs(total) * radius_m * radius_m


def cell_pitch_rad(res: int) -> float:
    """Conservative min cell dimension (2× the worst-case spherical
    inradius): the pentagon inradius at res 0; for triangles, the
    planar inradius (all res-r triangles are congruent in the plane)
    scaled by the worst-case gnomonic radial shrink cos²(psi) at the
    pentagon corner, halving per level past res 1."""
    if res <= 0:
        return 2.0 * _PENTA_INRADIUS_RAD
    return 2.0 * np.arctan(_TRI_INRADIUS * _DISTORT) / 2.0 ** (res - 1)


def pitch_deg(res: int) -> float:
    return float(np.degrees(cell_pitch_rad(res)))
