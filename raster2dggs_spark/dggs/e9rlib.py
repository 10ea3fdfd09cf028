"""``e9r`` — the EQUAL-AREA aperture-9 icosahedral-rhombus grid
(IVEA9R-class): e4rlib's slice-and-scale equal-area uv↔sphere map
composed with i9rlib's base-3 per-level arithmetic.  Cells at res r
have EXACTLY area 4πR²/(10·9^r).  Id layout identical to i9r
(diamond:4@57 | res:5@52 | row:26@26 | col:26@0, MAX_RES 16).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs.e4rlib import _SPHERE_AREA, _sph_to_uv, _uv_to_sph
from raster2dggs_spark.dggs.i4rlib import _lonlat_to_xyz, _xyz_to_lonlat, pack, unpack
from raster2dggs_spark.dggs.i9rlib import (
    MAX_RES,
    MIN_RES,
    PARENT_OFFSET,
    cell_pitch_rad,
    cell_to_children,
    cell_to_parent,
    get_num_children,
    get_resolution,
    n_cells,
    parent_col,
    pitch_deg,
)

_ENCODE_CHUNK = 8192

__all__ = [
    "MIN_RES", "MAX_RES", "PARENT_OFFSET", "cell_pitch_rad",
    "cell_to_children", "cell_to_parent", "get_num_children",
    "get_resolution", "lonlat_to_cell", "cell_to_lonlat",
    "cell_to_boundary", "cell_area_m2", "n_cells", "parent_col",
    "pitch_deg",
]


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError("e9r res out of range")
    lon_a = np.asarray(lon_deg, dtype=np.float64).ravel()
    lat_a = np.asarray(lat_deg, dtype=np.float64).ravel()
    out = np.empty(lon_a.shape[0], dtype=np.int64)
    n = 3 ** res
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
        n = float(3 ** int(r))
        u = (col[m] + 0.5) / n
        v = (row[m] + 0.5) / n
        lon, lat = _xyz_to_lonlat(_uv_to_sph(d[m], u, v))
        out_lon[m] = lon
        out_lat[m] = lat
    return out_lon, out_lat


def cell_to_boundary(cells):
    """(vlon, vlat) (n, 4): uv-corner ring through the exact inverse."""
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
        eps = 1e-12
        us = np.clip(us, eps, 1.0 - eps)
        vs = np.clip(vs, eps, 1.0 - eps)
        p = _uv_to_sph(np.repeat(d[m], 4), us.ravel(), vs.ravel())
        lon, lat = _xyz_to_lonlat(p)
        out_lon[m] = lon.reshape(-1, 4)
        out_lat[m] = lat.reshape(-1, 4)
    return out_lon, out_lat


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT closed form (equal-area map): 4πR²/(10·9^res)."""
    _, res, _, _ = unpack(cells)
    return (_SPHERE_AREA * radius_m * radius_m
            / (10.0 * np.power(9.0, res.astype(np.float64))))
