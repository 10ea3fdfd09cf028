"""Terrain derivatives (slope / aspect / hillshade) on the decode path.

Classic raster map algebra the reference does not carry (raster2dggs
indexes source pixel VALUES only): derive Horn-1981 3x3 surface
gradients per tile inside the decode UDF, then index the derived
surface to DGGS cells with the engine's normal machinery.  One narrow
``mapInPandas`` — the stencil needs no cross-tile halo exchange because
every tile's full array is already in task memory (the same obviation
the reference's margined reads collapse to, SURVEY.md S3); only the
tile's 1-pixel border is stencil-incomplete and is dropped (documented;
at production tile sizes the border is <1% of pixels and tiles can
overlap by 1px at ingest if seamless borders matter).

Definitions (pinned here, mirrored by the SQL oracles):

- gradients: Horn's weighted differences over the 3x3 window, divided
  by 8 * (pixel ground size).  Pixel ground size is |a|,|e| in map
  units for projected CRSs (gdaldem's default behavior) and
  degrees * radians(1) * R_authalic with a per-ROW cos(lat) on the
  east-west step for EPSG:4326 (gdaldem's ``-s`` workflow, done
  exactly per row rather than with one global scale).
- ``slope_deg`` = degrees(atan(hypot(p_east, q_north))).
- ``aspect_deg`` = azimuth of the DOWNSLOPE direction, degrees
  clockwise from north in [0, 360): degrees(atan2(-p_east, -q_north))
  mod 360.  Flat pixels (p = q = 0) have undefined aspect -> NaN.
- ``hillshade`` = 255 * max(0, sin(alt) cos(slope)
  + cos(alt) sin(slope) cos(az_sun - aspect)), the Lambertian
  reflectance with the default sun at azimuth 315 deg / altitude
  45 deg; flat pixels use cos(slope)=1 term only (aspect drops out).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EARTH_R = 6_371_007.1809
M_PER_DEG = float(np.radians(1.0) * EARTH_R)


def horn_derivatives(z: np.ndarray, affine, crs: str,
                     azimuth_deg: float = 315.0, altitude_deg: float = 45.0):
    """Pure-NumPy Horn 3x3 derivatives of one elevation tile.

    Returns interior-pixel (slope_deg, aspect_deg, hillshade) arrays of
    shape (h-2, w-2); any NaN in a pixel's 3x3 window yields NaN."""
    a, b, c, d, e, f = (float(x) for x in affine)
    h, w = z.shape
    if h < 3 or w < 3:
        return (np.empty((0, 0)),) * 3
    if crs == "EPSG:4326":
        # east-west metres shrink with cos(lat): exact per interior ROW
        rows = np.arange(1, h - 1, dtype=np.float64)
        lat_row = d * (w * 0.5) + e * (rows + 0.5) + f
        mx = abs(a) * M_PER_DEG * np.cos(np.radians(lat_row))[:, None]
        my = abs(e) * M_PER_DEG
    else:
        mx = abs(a)
        my = abs(e)
    zc = z.astype(np.float64)
    # col/row neighbor planes of the interior block
    nw, n_, ne = zc[:-2, :-2], zc[:-2, 1:-1], zc[:-2, 2:]
    w_, ctr, e_ = zc[1:-1, :-2], zc[1:-1, 1:-1], zc[1:-1, 2:]
    sw, s_, se = zc[2:, :-2], zc[2:, 1:-1], zc[2:, 2:]
    # d/d(col) and d/d(row) with Horn weights
    dcol = ((ne + 2.0 * e_ + se) - (nw + 2.0 * w_ + sw)) / 8.0
    drow = ((sw + 2.0 * s_ + se) - (nw + 2.0 * n_ + ne)) / 8.0
    # orient to east/north: col runs east iff a > 0; row runs SOUTH iff
    # e < 0 (north-up affine), so dz/dnorth = -drow then
    p = (dcol if a >= 0 else -dcol) / mx
    q = (-drow if e <= 0 else drow) / my
    # Horn's stencil does not read the centre pixel, but a nodata centre
    # must still emit nodata (gdaldem semantics)
    p = np.where(np.isnan(ctr), np.nan, p)
    q = np.where(np.isnan(ctr), np.nan, q)
    slope_r = np.arctan(np.hypot(p, q))
    slope = np.degrees(slope_r)
    flat = (p == 0.0) & (q == 0.0)
    with np.errstate(invalid="ignore"):
        aspect = np.degrees(np.arctan2(-p, -q)) % 360.0
    aspect = np.where(flat, np.nan, aspect)
    zen = np.radians(90.0 - altitude_deg)
    az = np.radians(azimuth_deg)
    shade = (np.cos(zen) * np.cos(slope_r)
             + np.sin(zen) * np.sin(slope_r)
             * np.where(flat, 1.0, np.cos(az - np.radians(aspect))))
    hill = 255.0 * np.maximum(0.0, shade)
    hill = np.where(np.isnan(slope), np.nan, hill)
    return slope, aspect, hill


def terrain_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-INTERIOR-pixel derivative rows
    ``(image_id?, parent, cell, slope_deg, aspect_deg, hillshade)`` —
    narrow, no shuffle; aggregate downstream with the normal
    ``groupBy(cell)`` machinery (e.g. ``.groupBy("cell").agg(avg(...))``
    for the mean-slope-per-cell map)."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("slope_deg", T.DoubleType(), True),
        T.StructField("aspect_deg", T.DoubleType(), True),
        T.StructField("hillshade", T.DoubleType(), True),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                slope, aspect, hill = horn_derivatives(
                    z, affine, row.crs, azimuth_deg, altitude_deg)
                keep = ~np.isnan(slope).ravel()
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id, cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                data["slope_deg"] = slope.ravel()[keep]
                data["aspect_deg"] = aspect.ravel()[keep]
                data["hillshade"] = hill.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


# ESRI D8 codes in SCAN ORDER (E, SE, S, SW, W, NW, N, NE) — the
# tie-break order: the first neighbor attaining the maximum drop wins.
D8_CODES = (1, 2, 4, 8, 16, 32, 64, 128)
_D8_OFFSETS = ((0, 1), (1, 1), (1, 0), (1, -1),
               (0, -1), (-1, -1), (-1, 0), (-1, 1))  # (drow, dcol), north-up


def d8_flow(z: np.ndarray, affine, crs: str):
    """D8 steepest-descent flow direction of one elevation tile.

    For every interior pixel, the drop to each of the 8 neighbors is
    ``(z_center - z_neighbor) / ground_distance`` (cardinal distance =
    pixel pitch, diagonal = sqrt(mx^2 + my^2); EPSG:4326 pitches are
    metre-scaled per row exactly as in :func:`horn_derivatives`).
    Returns interior arrays ``(code, drop)``: ``code`` is the ESRI D8
    code (1=E, 2=SE, 4=S, 8=SW, 16=W, 32=NW, 64=N, 128=NE) of the
    first neighbor in scan order attaining the maximum drop, 0 when no
    neighbor is strictly lower (flat or pit), and -32768 marks pixels
    whose 3x3 window contains NaN (callers drop them); ``drop`` is the
    maximum drop in (elevation units)/(ground unit).
    """
    a, b, c, d, e, f = (float(x) for x in affine)
    h, w = z.shape
    if h < 3 or w < 3:
        return np.empty((0, 0), np.int16), np.empty((0, 0))
    if crs == "EPSG:4326":
        rows = np.arange(1, h - 1, dtype=np.float64)
        lat_row = d * (w * 0.5) + e * (rows + 0.5) + f
        mx = abs(a) * M_PER_DEG * np.cos(np.radians(lat_row))[:, None]
        my = np.full_like(mx, abs(e) * M_PER_DEG)
    else:
        mx = np.full((h - 2, 1), abs(a))
        my = np.full((h - 2, 1), abs(e))
    dd = np.sqrt(mx * mx + my * my)
    east = 1 if a >= 0 else -1   # dcol that moves east
    south = 1 if e <= 0 else -1  # drow that moves south
    zc = z.astype(np.float64)
    ctr = zc[1:-1, 1:-1]
    drops = np.empty((8,) + ctr.shape)
    for k, (drow, dcol) in enumerate(_D8_OFFSETS):
        gr, gc = drow * south, dcol * east  # grid step for this compass dir
        nb = zc[1 + gr:h - 1 + gr, 1 + gc:w - 1 + gc]
        dist = dd if (drow and dcol) else (my if drow else mx)
        drops[k] = (ctr - nb) / dist
    bad = np.isnan(drops).any(axis=0)
    best = drops.argmax(axis=0)
    drop = np.take_along_axis(drops, best[None], axis=0)[0]
    code = np.asarray(D8_CODES, np.int16)[best]
    code = np.where(drop <= 0.0, np.int16(0), code)
    code = np.where(bad, np.int16(-32768), code)
    drop = np.where(bad, np.nan, drop)
    return code, drop


def d8_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-interior-pixel D8 rows ``(image_id?,
    parent, cell, d8, drop)`` — same narrow no-shuffle shape as
    :func:`terrain_cells`; NaN-window pixels are dropped.  Aggregate
    downstream (e.g. per-cell majority direction via ``F.mode``)."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("d8", T.IntegerType(), False),
        T.StructField("drop", T.DoubleType(), False),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                code, drop = d8_flow(z, affine, row.crs)
                keep = (code.ravel() != -32768)
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id, cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                data["d8"] = code.ravel()[keep].astype(np.int32)
                data["drop"] = drop.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


def flow_accumulation(z: np.ndarray, affine, crs: str):
    """Tile-local D8 flow accumulation of one elevation tile.

    Returns interior arrays ``(code, acc)``: ``code`` exactly as
    :func:`d8_flow`; ``acc`` is the number of INTERIOR pixels whose D8
    flow path drains through each pixel (upstream count, ESRI
    convention — not counting the pixel itself).  Tile-local contract
    (same as the rest of the decode-path map algebra): flow that exits
    the interior (into the 1-px stencil border or off-tile) leaves the
    accounting, and pixels with a NaN 3x3 window neither route nor
    forward flow.  Propagation is exact single-pass in descending-z
    topological order — D8 targets are strictly lower, so every
    pixel's inflow is complete before it pushes downstream.
    """
    code, _ = d8_flow(z, affine, crs)
    if code.size == 0:
        return code, np.empty((0, 0), np.int64)
    a = float(affine[0])
    e = float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    hi, wi = code.shape
    rr, cc = np.meshgrid(np.arange(hi), np.arange(wi), indexing="ij")
    nr = np.full(code.shape, -1, np.int64)
    nc = np.full(code.shape, -1, np.int64)
    for cd, (drow, dcol) in zip(D8_CODES, _D8_OFFSETS):
        m = code == cd
        if m.any():
            nr[m] = rr[m] + drow * south
            nc[m] = cc[m] + dcol * east
    ok = (code > 0) & (nr >= 0) & (nr < hi) & (nc >= 0) & (nc < wi)
    nxt = np.where(ok, nr * wi + nc, -1).ravel()
    zi = z[1:-1, 1:-1].astype(np.float64).ravel()
    # descending-z is a topological order of the (strictly downhill)
    # flow forest; NaNs sort last and have nxt == -1 anyway
    order = np.argsort(-zi, kind="stable")
    acc = [0] * zi.size
    nxt_l = nxt.tolist()
    for idx in order.tolist():
        j = nxt_l[idx]
        if j >= 0:
            acc[j] += acc[idx] + 1
    return code, np.asarray(acc, np.int64).reshape(code.shape)


def accumulation_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-interior-pixel accumulation rows
    ``(image_id?, parent, cell, d8, acc)`` — the same narrow
    no-shuffle decode-path shape as :func:`d8_cells`.  The per-tile
    propagation is O(n log n) (one sort) + one linear pass, so a task
    does no more work than the decode itself; cross-tile accumulation
    would need a drainage-graph join and is out of scope (documented,
    like the 1-px stencil border)."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("d8", T.IntegerType(), False),
        T.StructField("acc", T.LongType(), False),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                code, acc = flow_accumulation(z, affine, row.crs)
                keep = (code.ravel() != -32768)
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id, cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                data["d8"] = code.ravel()[keep].astype(np.int32)
                data["acc"] = acc.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


def basin_label(z: np.ndarray, affine, crs: str):
    """Tile-local D8 watershed labelling of one elevation tile.

    Returns interior arrays ``(code, basin)``: ``code`` exactly as
    :func:`d8_flow`; ``basin`` is the interior LINEAR index
    (``r * (w-2) + c`` in interior coordinates) of the terminal pixel
    each pixel's D8 path reaches — a pit/flat (code 0), a pixel whose
    flow exits the interior (edge outlet), or a NaN-window pixel
    (which neither routes nor forwards, so it acts as a sink; its own
    row is dropped by callers as in :func:`d8_cells`).  Tile-local
    contract as the rest of the decode-path map algebra.  Labelling is
    pointer-jumping on the drainage forest — O(n log path) with full
    path compression, no recursion.
    """
    code, _ = d8_flow(z, affine, crs)
    if code.size == 0:
        return code, np.empty((0, 0), np.int64)
    a = float(affine[0])
    e = float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    hi, wi = code.shape
    rr, cc = np.meshgrid(np.arange(hi), np.arange(wi), indexing="ij")
    nr = np.full(code.shape, -1, np.int64)
    nc = np.full(code.shape, -1, np.int64)
    for cd, (drow, dcol) in zip(D8_CODES, _D8_OFFSETS):
        m = code == cd
        if m.any():
            nr[m] = rr[m] + drow * south
            nc[m] = cc[m] + dcol * east
    ok = (code > 0) & (nr >= 0) & (nr < hi) & (nc >= 0) & (nc < wi)
    n = code.size
    parent = np.where(ok.ravel(), (nr * wi + nc).ravel(), np.arange(n))
    # pointer doubling: the forest has no cycles (strictly downhill),
    # so parent[parent] converges to the root in O(log path) sweeps
    while True:
        p2 = parent[parent]
        if np.array_equal(p2, parent):
            break
        parent = p2
    return code, parent.reshape(code.shape)


def basin_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-interior-pixel watershed rows
    ``(image_id?, parent, cell, d8, basin, basin_cell, is_pit)`` —
    the same narrow no-shuffle decode-path shape as :func:`d8_cells`.
    ``basin`` is the tile-local interior linear index of the terminal
    pixel (the per-tile basin key); ``basin_cell`` is that terminal's
    DGGS cell id (the globally joinable key); ``is_pit`` is True when
    the terminal is a pit/flat (code 0) rather than an edge outlet.
    Downstream: ``groupBy(image_id, basin)`` for basin sizes,
    ``groupBy(basin_cell)`` for cross-layer joins."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("d8", T.IntegerType(), False),
        T.StructField("basin", T.LongType(), False),
        T.StructField("basin_cell", T.LongType(), False),
        T.StructField("is_pit", T.BooleanType(), False),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                code, basin = basin_label(z, affine, row.crs)
                keep = (code.ravel() != -32768)
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon_i = lon[interior.ravel()]
                lat_i = lat[interior.ravel()]
                # terminals can be dropped (NaN-window) pixels, so the
                # basin_cell lookup must cover ALL interior pixels
                cell_all, parent_all = _encode_points(
                    lon_i, lat_i, res, parent_res, dggs)
                bflat = basin.ravel()
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 int(keep.sum()))
                data["parent"] = parent_all[keep]
                data["cell"] = cell_all[keep]
                data["d8"] = code.ravel()[keep].astype(np.int32)
                data["basin"] = bflat[keep]
                data["basin_cell"] = cell_all[bflat[keep]]
                data["is_pit"] = (code.ravel()[bflat[keep]] == 0)
                buf.append(pd.DataFrame(data))
                buf_rows += int(keep.sum())
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


_HORIZON_DIRS = {
    "e": (0, 1), "w": (0, -1), "s": (1, 0), "n": (-1, 0),
    "se": (1, 1), "nw": (-1, -1), "sw": (1, -1), "ne": (-1, 1),
}


def horizon_scan(z: np.ndarray, affine, crs: str, directions):
    """Tile-local horizon tangents of one elevation tile (GRASS
    ``r.horizon`` family): for every pixel and each requested
    principal compass direction, the MAXIMUM elevation tangent
    ``(z_obstacle - z_pixel) / ground_distance`` over all pixels along
    that ray within the tile (negative when everything is downhill;
    NaN where the ray is empty — the pixel sits on that tile edge).

    Directions are compass letters e/w/n/s/se/nw/sw/ne.  EPSG:4326
    supports the CARDINAL four only: an E/W ray stays on one row (its
    metre pitch ``mx(lat)`` is constant along the ray, so ``k * mx``
    is exact), N/S uses the constant ``my`` — while a diagonal ray
    crosses latitude bands where no single pitch is exact, so
    requesting one raises rather than silently distorting (the
    repo-wide latitude-distortion rule).  Projected CRSs support all
    eight.  NaN obstacles are ignored (``fmax``); NaN observers stay
    NaN.  O(ray length) vectorized passes per direction — bounded by
    the tile edge, the decode-path work unit.
    """
    h, w = z.shape
    a, e = float(affine[0]), float(affine[4])
    zc = z.astype(np.float64)
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    if crs == "EPSG:4326":
        rows = np.arange(h, dtype=np.float64)
        lat_row = (float(affine[3]) * (w * 0.5)
                   + e * (rows + 0.5) + float(affine[5]))
        mx = (abs(a) * M_PER_DEG
              * np.cos(np.radians(lat_row)))[:, None]  # per observer row
        my = np.full((h, 1), abs(e) * M_PER_DEG)
        dd = None
    else:
        mx = np.full((h, 1), abs(a))
        my = np.full((h, 1), abs(e))
        # sqrt(a*a + e*e), NOT np.hypot — hypot can differ in the last
        # ulp and every oracle replays the sqrt form (d8_flow convention)
        dd = np.full((h, 1), float(np.sqrt(a * a + e * e)))
    out = {}
    for name in directions:
        if name not in _HORIZON_DIRS:
            raise ValueError(f"horizon: unknown direction {name!r}")
        drow, dcol = _HORIZON_DIRS[name]
        if dd is None and drow and dcol:
            raise ValueError(
                "horizon: diagonal rays are not exact under EPSG:4326 "
                "(latitude-varying pixel pitch); use a projected CRS "
                "or cardinal directions")
        gr, gc = drow * south, dcol * east   # grid step for compass dir
        pitch = dd if (drow and dcol) else (my if drow else mx)
        best = np.full((h, w), -np.inf)
        for k in range(1, max(h, w)):
            r0, r1 = max(0, -gr * k), min(h, h - gr * k)
            c0, c1 = max(0, -gc * k), min(w, w - gc * k)
            if r0 >= r1 or c0 >= c1:
                break
            obs = zc[r0 + gr * k:r1 + gr * k, c0 + gc * k:c1 + gc * k]
            tan = (obs - zc[r0:r1, c0:c1]) / (k * pitch[r0:r1])
            best[r0:r1, c0:c1] = np.fmax(best[r0:r1, c0:c1], tan)
        best[np.isinf(best)] = np.nan        # empty ray: tile edge
        best[np.isnan(zc)] = np.nan
        out[name] = best
    return out


def horizon_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    directions=("e", "w", "n", "s"),
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-pixel horizon rows ``(image_id?,
    parent, cell, tan_<dir>...)`` — maximum elevation tangent along
    each requested compass ray (see :func:`horizon_scan`), the
    building block for solar/terrain-shading analytics.  Same narrow
    no-shuffle decode-path shape as the other terrain operators; all
    pixels emit (full tile — a ray op needs no 3x3 stencil), NaN-z
    pixels are dropped."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    directions = tuple(directions)
    for name in directions:
        if name not in _HORIZON_DIRS:
            raise ValueError(f"horizon: unknown direction {name!r}")
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
    ] + [T.StructField(f"tan_{d}", T.DoubleType(), True)
         for d in directions]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                tans = horizon_scan(z, affine, row.crs, directions)
                keep = ~np.isnan(z.ravel())
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                cell, parent = _encode_points(
                    lon[keep], lat[keep], res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 int(keep.sum()))
                data["parent"] = parent
                data["cell"] = cell
                for d in directions:
                    data[f"tan_{d}"] = tans[d].ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += int(keep.sum())
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


def viewshed(z: np.ndarray, observer: tuple, obs_height: float = 0.0):
    """Tile-local line-of-sight viewshed (GRASS ``r.viewshed`` /
    ArcGIS Viewshed, the R3 formulation): a pixel is VISIBLE from the
    observer iff no point along the straight grid-space sightline
    subtends an elevation angle STRICTLY above the target's own angle
    (a grazing tie is visible — flat terrain is fully visible, the
    GRASS/ArcGIS convention).

    The sightline is sampled at the D Chebyshev steps k = 1..D-1
    (D = max(|dr|, |dc|)) with BILINEAR elevation interpolation; along
    one ray the ground step length is constant, so it cancels from the
    tangent comparison and the test reduces to the exact cross
    product::

        blocked  <=>  (z_k - z_o) * D  >  (z_t - z_o) * k

    Bilinear z_k has denominator D^2, so with INTEGER elevations the
    whole decision is integer (int64, no float in any comparison —
    the proximity/cost-distance exactness discipline); non-integral
    elevations run the identical cross-multiplied form in float64.
    NaN terrain is transparent (a NaN sample never blocks); a NaN
    observer makes everything invisible.

    Geographic CRS rasters are REJECTED by :func:`viewshed_cells`:
    the step ground length along a N-S-leaning ray varies with
    latitude, so the cancellation (and any single-pitch tangent) is
    inexact — the repo's latitude-distortion rule.  Earth-curvature /
    refraction corrections (r.viewshed ``-c``) are out of scope.

    O(cells x max-Chebyshev-radius) fully vectorized; the distribution
    axis is many observers / many tiles (embarrassingly parallel on
    the decode path), matching how viewsheds are run in practice.
    """
    h, w = z.shape
    orr, occ = int(observer[0]), int(observer[1])
    if not (0 <= orr < h and 0 <= occ < w):
        raise ValueError(f"viewshed: observer {observer} outside "
                         f"{h}x{w} tile")
    finite = np.isfinite(z)
    integral = bool(np.all(z[finite] == np.floor(z[finite]))) \
        and float(obs_height) == int(obs_height)
    rr, cc = np.mgrid[0:h, 0:w]
    dr = (rr - orr).astype(np.int64)
    dc = (cc - occ).astype(np.int64)
    D = np.maximum(np.abs(dr), np.abs(dc))
    if integral:
        zmax = float(np.abs(z[finite]).max()) if finite.any() else 0.0
        # int64 headroom: |lhs| <= (2 zmax + |zo|) * D^3
        if (zmax + abs(obs_height) + 1) * float(D.max() + 1) ** 3 >= 2**62:
            integral = False
    if integral:
        zc = np.where(finite, z, 0).astype(np.int64)
        zo = zc[orr, occ] + int(obs_height)
    else:
        zc = z.astype(np.float64)
        zo = zc[orr, occ] + float(obs_height)
    if not finite[orr, occ]:
        return np.zeros((h, w), bool)

    blocked = np.zeros(h * w, bool)
    Df, drf, dcf = D.ravel(), dr.ravel(), dc.ravel()
    zf = zc.ravel()
    okf = finite.ravel()
    for k in range(1, int(D.max())):
        m = Df > k
        if not m.any():
            break
        Dm, drm, dcm = Df[m], drf[m], dcf[m]
        py = orr * Dm + k * drm          # >= 0: convex combination
        px = occ * Dm + k * dcm
        fy, ry = py // Dm, py % Dm
        fx, rx = px // Dm, px % Dm
        fy1 = np.minimum(fy + 1, h - 1)  # weight is 0 when clipped
        fx1 = np.minimum(fx + 1, w - 1)
        w00 = (Dm - ry) * (Dm - rx)
        w01 = (Dm - ry) * rx
        w10 = ry * (Dm - rx)
        w11 = ry * rx
        if integral:
            # NaN-as-0 never blocks here only if the sample touches no
            # NaN cell; mask samples touching any non-finite corner
            good = (okf.reshape(h, w)[fy, fx]
                    & okf.reshape(h, w)[fy, fx1]
                    & okf.reshape(h, w)[fy1, fx]
                    & okf.reshape(h, w)[fy1, fx1])
            zk = (zc[fy, fx] * w00 + zc[fy, fx1] * w01
                  + zc[fy1, fx] * w10 + zc[fy1, fx1] * w11)
            lhs = (zk - zo * Dm * Dm) * Dm
            rhs = (zf[m] - zo) * k * Dm * Dm
            blk = good & (lhs > rhs)
        else:
            zk = (zc[fy, fx] * w00 + zc[fy, fx1] * w01
                  + zc[fy1, fx] * w10 + zc[fy1, fx1] * w11)
            lhs = (zk - float(zo) * Dm * Dm) * Dm
            rhs = (zf[m] - zo) * k * (Dm * Dm).astype(np.float64)
            with np.errstate(invalid="ignore"):
                blk = lhs > rhs          # NaN comparison is False
        idx = np.flatnonzero(m)[blk]
        blocked[idx] = True
    vis = ~blocked.reshape(h, w)
    vis &= finite                        # NaN targets are not visible
    return vis


def viewshed_cells(
    images: DataFrame,
    observer: tuple = (2, 3),
    obs_height: float = 0.0,
    res: int = 7,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
    keep_pixel: bool = False,
) -> DataFrame:
    """Explode images into per-pixel visibility rows ``(image_id?,
    parent, cell, [pr, pc,] visible)`` from a per-tile observer pixel
    (see :func:`viewshed`).  Same narrow no-shuffle decode-path shape
    as the other terrain operators; NaN-z pixels are dropped;
    ``keep_pixel`` adds the tile-local (row, col) for relational
    replay.  Geographic CRS tiles raise (latitude-distortion rule)."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
    ]
    if keep_pixel:
        fields += [T.StructField("pr", T.LongType(), False),
                   T.StructField("pc", T.LongType(), False)]
    fields += [T.StructField("visible", T.BooleanType(), False)]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                if row.crs == "EPSG:4326":
                    raise ValueError(
                        "viewshed: geographic CRS tiles have "
                        "latitude-varying step lengths along a ray; "
                        "reproject first (latitude-distortion rule)")
                h, w = z.shape
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                vis = viewshed(z, observer, obs_height)
                keep = ~np.isnan(z.ravel())
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                cell, parent = _encode_points(
                    lon[keep], lat[keep], res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 int(keep.sum()))
                data["parent"] = parent
                data["cell"] = cell
                if keep_pixel:
                    rr, cc = np.mgrid[0:h, 0:w]
                    data["pr"] = rr.ravel()[keep]
                    data["pc"] = cc.ravel()[keep]
                data["visible"] = vis.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += int(keep.sum())
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


def terrain_indices(z: np.ndarray):
    """Pure-NumPy gdaldem-family 3x3 terrain indices of one tile:
    ``tpi`` (Topographic Position Index, centre minus 8-neighbour
    mean), ``tri`` (Terrain Ruggedness Index, Wilson's mean absolute
    centre-neighbour difference — the gdaldem default), ``roughness``
    (3x3 window max minus min).  All CRS-free (elevation-only
    stencils).  Returns interior-pixel arrays of shape (h-2, w-2); any
    NaN in the 3x3 window propagates (IEEE NaN arithmetic / fmax
    not used deliberately)."""
    h, w = z.shape
    if h < 3 or w < 3:
        return (np.empty((0, 0)),) * 3
    zc = z.astype(np.float64)
    nbrs = (zc[:-2, :-2], zc[:-2, 1:-1], zc[:-2, 2:],
            zc[1:-1, :-2], zc[1:-1, 2:],
            zc[2:, :-2], zc[2:, 1:-1], zc[2:, 2:])
    ctr = zc[1:-1, 1:-1]
    nsum = sum(nbrs)
    tpi = ctr - nsum / 8.0
    tri = sum(np.abs(ctr - nb) for nb in nbrs) / 8.0
    mx = ctr.copy()
    mn = ctr.copy()
    for nb in nbrs:
        mx = np.maximum(mx, nb)     # np.maximum propagates NaN
        mn = np.minimum(mn, nb)
    return tpi, tri, mx - mn


def terrain_index_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-INTERIOR-pixel index rows ``(image_id?,
    parent, cell, tpi, tri, roughness)`` (see :func:`terrain_indices`)
    — the gdaldem TPI/TRI/roughness modes the slope/aspect/hillshade
    operator does not cover.  Same narrow no-shuffle decode-path shape
    as :func:`terrain_cells`."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("tpi", T.DoubleType(), True),
        T.StructField("tri", T.DoubleType(), True),
        T.StructField("roughness", T.DoubleType(), True),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                tpi, tri, rough = terrain_indices(z)
                keep = ~np.isnan(tpi).ravel()
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res,
                                              dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                data["tpi"] = tpi.ravel()[keep]
                data["tri"] = tri.ravel()[keep]
                data["roughness"] = rough.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


def flow_length(z: np.ndarray, affine, crs: str):
    """Tile-local D8 downstream flow length (ArcGIS FlowLength
    DOWNSTREAM / GRASS r.stream.distance): for every interior pixel,
    the number of east-west, north-south and diagonal D8 steps along
    its drainage path to the terminal (pit/flat, edge outlet, or
    NaN sink) — INTEGER counters, so the result is bit-exact across
    engines and path-doubling orders; the metric length is the dot
    product ``n_ew*|a| + n_ns*|e| + n_diag*sqrt(a^2+e^2)`` taken once
    at the end (anisotropic pitches handled exactly, no float
    accumulates along the path).

    Pointer doubling with additive counters on the drainage forest
    (strictly downhill => acyclic): (ptr, ew, ns, dg) with the
    invariant "counters measure v -> ptr", updated counters-first —
    O(n log path) vectorized, no recursion.  Returns interior arrays
    (code, n_ew, n_ns, n_diag).
    """
    code, _ = d8_flow(z, affine, crs)
    if code.size == 0:
        return code, *(np.empty((0, 0), np.int64),) * 3
    a = float(affine[0])
    e = float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    hi, wi = code.shape
    rr, cc = np.meshgrid(np.arange(hi), np.arange(wi), indexing="ij")
    nr = np.full(code.shape, -1, np.int64)
    nc = np.full(code.shape, -1, np.int64)
    ew = np.zeros(code.shape, np.int64)
    ns = np.zeros(code.shape, np.int64)
    dg = np.zeros(code.shape, np.int64)
    for cd, (drow, dcol) in zip(D8_CODES, _D8_OFFSETS):
        m = code == cd
        if m.any():
            nr[m] = rr[m] + drow * south
            nc[m] = cc[m] + dcol * east
            if drow and dcol:
                dg[m] = 1
            elif drow:
                ns[m] = 1
            else:
                ew[m] = 1
    ok = (code > 0) & (nr >= 0) & (nr < hi) & (nc >= 0) & (nc < wi)
    n = code.size
    ptr = np.where(ok.ravel(), (nr * wi + nc).ravel(), np.arange(n))
    # a step that leaves the interior does not count toward the
    # interior path (the tile-local contract: the terminal is the last
    # INTERIOR pixel, as in basin_label)
    ew, ns, dg = (np.where(ok, x, 0).ravel() for x in (ew, ns, dg))
    while True:
        p2 = ptr[ptr]
        if np.array_equal(p2, ptr):
            break
        ew = ew + ew[ptr]
        ns = ns + ns[ptr]
        dg = dg + dg[ptr]
        ptr = p2
    return (code, ew.reshape(code.shape), ns.reshape(code.shape),
            dg.reshape(code.shape))


def flow_length_cells(
    images: DataFrame,
    res: int,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
    keep_pixel: bool = False,
) -> DataFrame:
    """Explode images into per-interior-pixel flow-length rows
    ``(image_id?, parent, cell, [pr, pc,] n_ew, n_ns, n_diag,
    flow_len_m)`` (see :func:`flow_length`); ``flow_len_m`` is the
    exact dot product with the tile's pitches, computed ONCE from the
    integer counters.  Same narrow no-shuffle decode-path shape as
    :func:`basin_cells`; NaN-window pixels are dropped."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
    ]
    if keep_pixel:
        fields += [T.StructField("pr", T.LongType(), False),
                   T.StructField("pc", T.LongType(), False)]
    fields += [
        T.StructField("n_ew", T.LongType(), False),
        T.StructField("n_ns", T.LongType(), False),
        T.StructField("n_diag", T.LongType(), False),
        T.StructField("flow_len_m", T.DoubleType(), False),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                code, ew, ns, dg = flow_length(z, affine, row.crs)
                keep = (code >= 0).ravel()   # NaN-window pixels: -1
                if not keep.any():
                    continue
                a, e = float(affine[0]), float(affine[4])
                dd = float(np.sqrt(a * a + e * e))
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res,
                                              dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                if keep_pixel:
                    rr, cc = np.mgrid[1:h - 1, 1:w - 1]
                    data["pr"] = rr.ravel()[keep]
                    data["pc"] = cc.ravel()[keep]
                data["n_ew"] = ew.ravel()[keep]
                data["n_ns"] = ns.ravel()[keep]
                data["n_diag"] = dg.ravel()[keep]
                data["flow_len_m"] = (ew.ravel()[keep] * abs(a)
                                      + ns.ravel()[keep] * abs(e)
                                      + dg.ravel()[keep] * dd)
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)


_COMPASS_AZ = {"n": 0.0, "ne": 45.0, "e": 90.0, "se": 135.0,
               "s": 180.0, "sw": 225.0, "w": 270.0, "nw": 315.0}


def solar_scan(z: np.ndarray, affine, crs: str, sun_dir: str,
               altitude_deg: float, s0: float = 1000.0):
    """Instantaneous clear-sky direct irradiance of one tile (the
    GRASS ``r.sun`` beam component at a single sun position): Lambert
    incidence on the Horn slope/aspect, zeroed where the terrain
    horizon toward the sun rises above the sun::

        cos_inc = cos(zen) cos(slope)
                  + sin(zen) sin(slope) cos(az - aspect)
        direct  = s0 * max(0, cos_inc) * [horizon_tan(az) <= tan(alt)]

    ``sun_dir`` is one of the 8 compass rays (the horizon machinery's
    exact directions — an arbitrary azimuth would interpolate between
    rays and lose the exactness contract); a grazing horizon tie stays
    lit (the viewshed convention).  Flat pixels use cos(zen) (aspect
    drops out, as in hillshade).  Returns interior-pixel
    (cos_inc, shadowed, direct) arrays of shape (h-2, w-2).
    """
    if sun_dir not in _COMPASS_AZ:
        raise ValueError(f"sun_dir: one of {sorted(_COMPASS_AZ)}")
    slope, aspect, _ = horn_derivatives(z, affine, crs)
    tans = horizon_scan(z, affine, crs, (sun_dir,))[sun_dir]
    tan_int = tans[1:-1, 1:-1]
    with np.errstate(invalid="ignore"):
        shadowed = tan_int > np.tan(np.radians(altitude_deg))
    shadowed = np.where(np.isnan(tan_int), False, shadowed)
    zen = np.radians(90.0 - altitude_deg)
    az = np.radians(_COMPASS_AZ[sun_dir])
    sr = np.radians(slope)
    flat = np.isnan(aspect)
    with np.errstate(invalid="ignore"):
        cos_inc = (np.cos(zen) * np.cos(sr)
                   + np.sin(zen) * np.sin(sr)
                   * np.where(flat, 1.0, np.cos(az - np.radians(aspect))))
    direct = s0 * np.maximum(0.0, cos_inc) * np.where(shadowed, 0.0, 1.0)
    direct = np.where(np.isnan(cos_inc), np.nan, direct)
    return cos_inc, shadowed, direct


def solar_cells(
    images: DataFrame,
    sun_dir: str = "w",
    altitude_deg: float = 40.0,
    s0: float = 1000.0,
    res: int = 7,
    dggs: str = "hex7",
    parent_res: int | None = None,
    band: int = 1,
    keep_image_id: bool = False,
) -> DataFrame:
    """Explode images into per-INTERIOR-pixel irradiance rows
    ``(image_id?, parent, cell, cos_inc, shadowed, direct)`` (see
    :func:`solar_scan`) — same narrow no-shuffle decode-path shape as
    the other terrain operators."""
    from raster2dggs_spark.dggs import check_grid
    from raster2dggs_spark.operators.indexing import (
        _decode_rows, _encode_points, _prune, default_parent_res,
    )

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    fields = ([T.StructField("image_id", T.StringType(), False)]
              if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("cos_inc", T.DoubleType(), True),
        T.StructField("shadowed", T.BooleanType(), False),
        T.StructField("direct", T.DoubleType(), True),
    ]
    schema = T.StructType(fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, [band]):
                z = arr[0]
                h, w = z.shape
                if h < 3 or w < 3:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                ci, sh, di = solar_scan(z, affine, row.crs, sun_dir,
                                        altitude_deg, s0)
                keep = ~np.isnan(ci).ravel()
                if not keep.any():
                    continue
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                interior = np.zeros((h, w), dtype=bool)
                interior[1:-1, 1:-1] = True
                lon = lon[interior.ravel()][keep]
                lat = lat[interior.ravel()][keep]
                cell, parent = _encode_points(lon, lat, res, parent_res,
                                              dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id,
                                                 cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                data["cos_inc"] = ci.ravel()[keep]
                data["shadowed"] = sh.ravel()[keep]
                data["direct"] = di.ravel()[keep]
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id).mapInPandas(fn, schema)
