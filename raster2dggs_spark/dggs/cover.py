"""Grid-generic cell enumeration (cells_in_bbox) for every backend.

Reference parity: each indexer enumerates cells whose *center* falls in
a WGS84 bbox (s2rasterindexer.py:88-134, geohashrasterindexer.py:87-119,
rhprasterindexer.py cells_in_bbox).  Rectangle grids enumerate their
index lattice exactly; curved grids sample densely at a fraction of the
cell pitch (guarantees every center-inside cell is hit), encode and
unique; both end in the strict center filter — h3lib.cover_bbox
generalized.

Antimeridian: bboxes crossing +-180 are expressed unwrapped
(lon_max > 180); encodes are periodic and centers are unwrapped into the
bbox frame before filtering.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs import RECT_GRIDS, grid_lib


def wrap_lon(lon):
    """Canonicalize longitudes into [-180, 180).  Every backend needs
    this: the flat grids CLAMP out-of-range lon to the last cell column
    and the curved grids are only periodic within one turn — so 181.3°
    encodes wrongly everywhere unless wrapped first (F14 antimeridian
    semantics).  No-op (no copy) when already canonical."""
    lon = np.asarray(lon, dtype=np.float64)
    if lon.size and (lon.min() < -180.0 or lon.max() >= 180.0):
        lon = np.mod(lon + 180.0, 360.0) - 180.0
    return lon


def encode(lon, lat, res: int, dggs: str):
    return grid_lib(dggs).lonlat_to_cell(wrap_lon(lon), lat, res)


def cell_center(cells, dggs: str):
    return grid_lib(dggs).cell_to_lonlat(cells)


def cell_parent(cells, parent_res: int, dggs: str):
    return grid_lib(dggs).cell_to_parent(cells, parent_res)


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int,
               dggs: str = "hex7", max_samples: int = 4_000_000):
    """All cells (any grid) whose center lies in [lon_min,lon_max) x
    [lat_min,lat_max) — reference cells_in_bbox semantics."""
    lib = grid_lib(dggs)
    own = getattr(lib, "cover_bbox", None)  # a grid's own tuned cover
    if own is not None:
        return own(lon_min, lat_min, lon_max, lat_max, res,
                   max_samples=max_samples)
    if dggs in RECT_GRIDS:
        # EXACT enumeration of the index lattice (quadkey's degree pitch
        # is latitude-dependent, so sampling would be wrong near ±85°)
        u, v, nx, ny, to_cell, _ = lib.lattice(res)
        # unwrapped frame: enumerate raw column indices then wrap mod nx
        cx0 = int(np.floor(u(lon_min))) - 1
        cx1 = int(np.floor(u(lon_max))) + 1
        va, vb = float(v(lat_min)), float(v(lat_max))
        txs = np.arange(cx0, cx1 + 1, dtype=np.int64)
        tys = np.arange(max(0, int(np.floor(min(va, vb))) - 1),
                        min(ny - 1, int(np.floor(max(va, vb))) + 1) + 1,
                        dtype=np.int64)
        if txs.size * tys.size > max_samples:
            raise ValueError(
                f"bbox cover at res {res} needs {txs.size * tys.size} "
                "tiles > cap; use a coarser res or split the bbox")
        cand = np.unique(to_cell(np.repeat(np.mod(txs, nx), tys.size),
                                 np.tile(tys, txs.size)))
    else:
        cand = _sample_bbox(lib, lon_min, lat_min, lon_max, lat_max, res,
                            max_samples)
    clon, clat = lib.cell_to_lonlat(cand)
    mid = 0.5 * (lon_min + lon_max)
    clon = clon + 360.0 * np.round((mid - clon) / 360.0)
    keep = ((clon >= lon_min) & (clon < lon_max)
            & (clat >= lat_min) & (clat < lat_max))
    return cand[keep]


def _sample_bbox(lib, lon_min, lat_min, lon_max, lat_max, res: int,
                 max_samples: int):
    """Candidate cells of a curved grid: encode a lattice sampled at a
    fraction of the pitch (dense enough to hit every center-inside
    cell)."""
    # projection distortion at coarse res shrinks the worst-case cell
    # inradius well below the nominal pitch (the hex7 round-4 battery
    # measured ~0.25× at res ≤ 3) — sample denser there
    step = lib.pitch_deg(res) * (0.18 if res <= 3 else 0.35)
    lat_lo = max(-90.0, lat_min - step)
    lat_hi = min(90.0, lat_max + step)
    # quasi-equal-area grids: cell lon extent in degrees is
    # ~pitch/cos(lat), narrowest at the lowest |lat| in the bbox —
    # stretch by that cos (conservative at every other latitude; the
    # extreme lat instead skips whole cell columns on the equatorial
    # side of a wide-lat bbox)
    if lat_lo <= 0.0 <= lat_hi:
        coslat = 1.0
    else:
        coslat = max(
            0.05, float(np.cos(np.radians(min(abs(lat_lo), abs(lat_hi)))))
        )
    lon_step = step / coslat
    lons = np.arange(lon_min - lon_step, lon_max + 2 * lon_step, lon_step)
    lats = np.arange(lat_lo, lat_hi + step, step)
    if lons.size * lats.size > max_samples:
        raise ValueError(
            f"bbox cover at res {res} needs {lons.size * lats.size} "
            "samples > cap; use a coarser res or split the bbox"
        )
    glon = np.repeat(lons, lats.size)
    glat = np.tile(lats, lons.size)
    # wrap samples into valid ranges for the encode (periodic in lon)
    wlon = np.mod(glon + 180.0, 360.0) - 180.0
    return np.unique(lib.lonlat_to_cell(wlon, np.clip(glat, -90.0, 90.0),
                                        res))
