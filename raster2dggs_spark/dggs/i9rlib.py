"""``i9r`` — an ISEA9R-LAYOUT aperture-9 icosahedral-rhombus grid.

The reference's *9R DGGAL family (ISEA9R / IVEA9R / RTEA9R, ref
indexers/dggalrasterindexer.py:375-401 registry; ``get_num_children``
returns 9) refines the same 10-diamond icosahedral layout as the *4R
family 3×3 per level — single parent, refinement ratio 9.  This module
reuses i4rlib's from-scratch icosahedron geometry (diamond matching,
central-projection barycentric encode/decode) and swaps the per-level
arithmetic from bit shifts to base-3 digits.

Id: int64, always positive — diamond:4 bits @57 | res:5 @52 |
row:26 @26 | col:26 @0.  3^16 < 2^26, so MAX_RES = 16.

Parent/child are integer div/mod by powers of 3 — exact int64
arithmetic, and a native floor-div Column expression on the Spark side
(``parent_col``, the rhp precedent); A16 compaction applies unchanged
(9-ary expected counts).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs.i4rlib import (
    _PITCH0_RAD,
    _excess,
    _lonlat_to_xyz,
    _point_uv,
    _uv_to_xyz,
    _xyz_to_lonlat,
    pack,
    rhombus_children,
    unpack,
)

MIN_RES = 0
MAX_RES = 16
PARENT_OFFSET = 5  # 9^5 ~ 59K subcells per parent partition
_ENCODE_CHUNK = 8192


def cell_pitch_rad(res: int) -> float:
    return _PITCH0_RAD / 3.0 ** max(res, 0)


def pitch_deg(res: int) -> float:
    return float(np.degrees(cell_pitch_rad(res)))


def n_cells(res: int) -> int:
    return 10 * 9**res  # same diamonds, aperture 9


def get_resolution(cells):
    return unpack(cells)[1]


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError("i9r res out of range")
    lon_a = np.asarray(lon_deg, dtype=np.float64).ravel()
    lat_a = np.asarray(lat_deg, dtype=np.float64).ravel()
    out = np.empty(lon_a.shape[0], dtype=np.int64)
    n = 3 ** res
    for i in range(0, max(lon_a.shape[0], 1), _ENCODE_CHUNK):
        sl = slice(i, i + _ENCODE_CHUNK)
        d, u, v = _point_uv(_lonlat_to_xyz(lon_a[sl], lat_a[sl]))
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
        n = float(3 ** int(r))
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
        div = 3 ** (int(r) - parent_res)
        out[m] = pack(d[m], parent_res, row[m] // div, col[m] // div)
    return out


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`: per-axis floor-div
    of the 26-bit row/col fields by 3^k (values < 2^26, so the double
    floor-div is exact); needs the cells' uniform ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("i9r parent_col needs from_res")
    div = 3 ** (from_res - parent_res)
    row = F.shiftrightunsigned(col, 26).bitwiseAND(F.lit(0x3FFFFFF))
    c = col.bitwiseAND(F.lit(0x3FFFFFF))
    head = col.bitwiseAND(F.lit(0xF << 57)).bitwiseOR(
        F.lit(parent_res << 52))
    return head.bitwiseOR(
        F.shiftleft(F.floor(row / F.lit(div)).cast("long"), 26)
    ).bitwiseOR(F.floor(c / F.lit(div)).cast("long"))


def cell_to_children(cells, child_res: int):
    return rhombus_children(cells, child_res, 3, MAX_RES)


def get_num_children(parent_res: int, child_res: int) -> int:
    if child_res < parent_res:
        raise ValueError("child_res must be >= parent_res")
    return 9 ** (child_res - parent_res)


def cell_to_boundary(cells):
    """(vlon, vlat) of shape (n, 4) — the uv-corner ring, same
    display-level contract as i4rlib.cell_to_boundary."""
    d, res, row, col = unpack(cells)
    out_lon = np.empty((d.shape[0], 4), dtype=np.float64)
    out_lat = np.empty((d.shape[0], 4), dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(3 ** int(r))
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


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT spherical areas via the same piecewise fold split as
    i4rlib.cell_area_m2 (straddling cells sum the two halves' planar-
    in-central-plane spherical excesses)."""
    d, res, row, col = unpack(cells)
    out = np.zeros(d.shape[0], dtype=np.float64)
    for r in np.unique(res):
        m = np.flatnonzero(res == r)
        n = float(3 ** int(r))
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
                    cu, cv = pu.mean(), pv.mean()
                    pu2 = pu + 1e-12 * (cu - pu)
                    pv2 = pv + 1e-12 * (cv - pv)
                    p = _uv_to_xyz(
                        np.full(pu.shape[0], d[m][i], dtype=np.int64),
                        pu2, pv2)[None, :, :]
                    out[m[i]] += abs(float(_excess(p)[0]))
    return out * radius_m * radius_m
