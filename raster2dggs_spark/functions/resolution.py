"""Resolution auto-modes (reference F9: /root/reference/raster2dggs/
common.py:67-122, invariants tests/classes/test_resolution_modes.py:
152-217): choose the output resolution by comparing mean cell area to
the raster's mean pixel area.

Driver-side pure Python — no Spark involved.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs import grid_lib

EARTH_AREA_M2 = 4.0 * np.pi * 6371007.1809**2


def cell_area_m2_mean(res: int, dggs: str = "hex7") -> float:
    """Mean cell area at ``res`` (exact: cells partition the sphere —
    quadkey partitions the |lat| <= 85.05° Mercator band, its
    ``AREA_FRACTION`` of the sphere)."""
    lib = grid_lib(dggs)
    return EARTH_AREA_M2 * getattr(lib, "AREA_FRACTION", 1.0) / lib.n_cells(res)


def resolve_resolution(mode: str, mean_pixel_area_m2: float,
                       dggs: str = "hex7", max_res: int = 15) -> int:
    """Reference mode semantics, over the grid's ``MIN_RES..MAX_RES``
    (``max_res`` caps the top):

    - ``smaller-than-pixel``: coarsest res whose cells are smaller than
      (or equal to) a pixel;
    - ``larger-than-pixel``: finest res whose cells are still larger than
      (or equal to) a pixel;
    - ``min-diff``: res whose cell area is closest to the pixel area.
    """
    lib = grid_lib(dggs)
    lo, hi = lib.MIN_RES, min(max_res, lib.MAX_RES)
    areas = np.array([cell_area_m2_mean(r, dggs) for r in range(lo, hi + 1)])
    if mode == "smaller-than-pixel":
        ok = np.flatnonzero(areas <= mean_pixel_area_m2)
        if ok.size == 0:
            return hi
        return lo + int(ok[0])
    if mode == "larger-than-pixel":
        ok = np.flatnonzero(areas >= mean_pixel_area_m2)
        if ok.size == 0:
            return lo
        return lo + int(ok[-1])
    if mode == "min-diff":
        return lo + int(np.argmin(np.abs(areas - mean_pixel_area_m2)))
    raise ValueError(f"unknown mode {mode!r}")
