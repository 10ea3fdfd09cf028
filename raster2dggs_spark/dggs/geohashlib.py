"""Pure-NumPy geohash library — exact published geohash system.

Replaces the reference's ``geohash`` backend
(/root/reference/raster2dggs/indexers/geohashrasterindexer.py): base-32
Z-order bisection of (lon, lat), precision 1..12 characters.

Int64 packing (engine-internal; strings at the output edge):

    id = (bits << 4) | precision        bits = 5*precision interleaved
                                        bits, left-aligned at bit 5p-1..0

so parent = drop characters = shift right 5*k then adjust the precision
nibble — pure bit arithmetic, expressible as a native Spark Column like
H3/S2 parents.  Known-vector pinned: geohash(57.64911N, 10.40744E, 11)
== "u4pruydqqvj" (the canonical example).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._bits import compress, spread
from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_INV = {c: i for i, c in enumerate(_B32)}
MAX_PRECISION = 12
MIN_RES = 1
MAX_RES = MAX_PRECISION
PARENT_OFFSET = 3  # 32^3 = 33K subcells per parent partition


def _axis_bits(precision: int) -> tuple[int, int]:
    """(lon bits, lat bits): lon takes the first (even) bit positions."""
    nbits = 5 * precision
    return (nbits + 1) // 2, nbits // 2


def lonlat_to_cell(lon_deg, lat_deg, precision: int):
    """Vectorized encode to packed int64 geohash ids."""
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..12")
    return encode_chunked("geohash", _encode, lon_deg, lat_deg, precision)


def _encode(lon, lat, precision: int):
    nlon, nlat = _axis_bits(precision)
    # quantized fractions
    fx = np.clip((lon + 180.0) / 360.0, 0.0, np.nextafter(1.0, 0.0))
    fy = np.clip((lat + 90.0) / 180.0, 0.0, np.nextafter(1.0, 0.0))
    ix = (fx * (1 << nlon)).astype(np.uint64)
    iy = (fy * (1 << nlat)).astype(np.uint64)
    return _interleave(ix, iy, precision)


def _interleave(ix, iy, precision: int):
    # bit k of the hash (from the MSB, k=0..nbits-1) is a lon bit for
    # even k, lat bit for odd k.  Magic-mask spread (dggs/_bits.py):
    # for even nbits lon bit m (from the LSB) lands at 2m+1, for odd
    # nbits at 2m (and lat at the complementary parity).
    sx, sy = spread(ix), spread(iy)
    if (5 * precision) % 2 == 0:
        bits = (sx << np.uint64(1)) | sy
    else:
        bits = sx | (sy << np.uint64(1))
    return ((bits << np.uint64(4)) | np.uint64(precision)).astype(np.int64)


def cell_from_indices(ix, iy, precision: int):
    """Pack integer (lon, lat) quantizer indices straight into ids —
    the same interleave as :func:`lonlat_to_cell` minus the float
    quantization (exact-supercover constructor).  Indices outside
    ``[0, 2^bits)`` on either axis raise ``ValueError``."""
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..12")
    nlon, nlat = _axis_bits(precision)
    ix = np.asarray(ix, dtype=np.int64).ravel()
    iy = np.asarray(iy, dtype=np.int64).ravel()
    if ix.size and (ix.min() < 0 or ix.max() >= (1 << nlon)
                    or iy.min() < 0 or iy.max() >= (1 << nlat)):
        raise ValueError(
            f"geohash indices outside [0, 2^{nlon}) x [0, 2^{nlat}) "
            f"at precision {precision}")
    return _interleave(ix, iy, precision)


def get_precision(cells):
    c = np.asarray(cells).astype(np.uint64)
    return (c & np.uint64(0xF)).astype(np.int64)


get_resolution = get_precision


def n_cells(res: int) -> int:
    return 32**res


def cell_spans(res: int) -> tuple[float, float]:
    """(lon_span, lat_span) of every cell at ``res``, in degrees."""
    nlon, nlat = _axis_bits(res)
    return 360.0 / (1 << nlon), 180.0 / (1 << nlat)


def pitch_deg(res: int) -> float:
    """The smaller cell dimension, in degrees."""
    return min(cell_spans(res))


def lattice(res: int):
    """The cell index lattice at ``res``: ``(u, v, nx, ny, to_cell,
    v_to_lat)``.  ``u(lon)``/``v(lat)`` map into continuous index space
    (cell ``(ix, iy)`` spans ``[ix, ix+1) x [iy, iy+1)``; the scaling is
    by a power of two, so ``floor`` matches the encoder bit for bit),
    ``to_cell(ix, iy)`` packs ids and ``v_to_lat`` inverts ``v``."""
    nlon, nlat = _axis_bits(res)
    nx, ny = 1 << nlon, 1 << nlat
    return (lambda lon: (lon + 180.0) / 360.0 * nx,
            lambda lat: (lat + 90.0) / 180.0 * ny, nx, ny,
            lambda ix, iy: cell_from_indices(ix, iy, res),
            lambda v: np.asarray(v, np.float64) / ny * 180.0 - 90.0)


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent` (prefix truncation);
    needs the cells' uniform ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("geohash parent_col needs from_res")
    drop = 5 * (from_res - parent_res)
    bits = F.shiftrightunsigned(col, 4 + drop)
    return F.shiftleft(bits, 4).bitwiseOR(F.lit(parent_res))


def cell_to_children(cells, child_res: int):
    """All 32^k descendants at ``child_res``: 5-bit appends, cell-major."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    if c.size == 0:
        return c.astype(np.int64)
    depth = child_depth(get_precision(c), child_res, MAX_PRECISION)
    bits = c >> np.uint64(4)
    pat = np.arange(32 ** depth, dtype=np.uint64)
    kids = (bits[:, None] << np.uint64(5 * depth)) | pat[None, :]
    return ((kids << np.uint64(4)) | np.uint64(child_res)).ravel().astype(
        np.int64)


def cell_to_parent(cells, parent_precision: int):
    """Drop trailing characters — prefix truncation exactly as the
    reference does (geohashrasterindexer.py:58-65)."""
    c = np.asarray(cells).astype(np.uint64)
    p = get_precision(c)
    if np.any(np.int64(parent_precision) > p):
        raise ValueError("parent_precision coarser than cell precision required")
    shift = (np.uint64(5) * (p.astype(np.uint64) - np.uint64(parent_precision)))
    bits = (c >> np.uint64(4)) >> shift
    return ((bits << np.uint64(4)) | np.uint64(parent_precision)).astype(np.int64)


def cell_to_lonlat(cells):
    """Bbox-center lon/lat of packed geohash ids (vectorized)."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    p = get_precision(c)
    out_lon = np.empty(c.shape[0])
    out_lat = np.empty(c.shape[0])
    for prec in np.unique(p):
        m = p == prec
        nbits = int(5 * prec)
        nlon, nlat = _axis_bits(int(prec))
        bits = (c[m] >> np.uint64(4)).astype(np.uint64)
        # inverse of the encode parity rule (magic-mask compress)
        if nbits % 2 == 0:
            ix = compress(bits >> np.uint64(1))
            iy = compress(bits)
        else:
            ix = compress(bits)
            iy = compress(bits >> np.uint64(1))
        out_lon[m] = (ix.astype(np.float64) + 0.5) / (1 << nlon) * 360.0 - 180.0
        out_lat[m] = (iy.astype(np.float64) + 0.5) / (1 << nlat) * 180.0 - 90.0
    return out_lon, out_lat


def cells_to_string(cells):
    """Packed ids -> canonical geohash strings."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    out = []
    for v in c:
        prec = int(v & np.uint64(0xF))
        bits = int(v >> np.uint64(4))
        s = []
        for i in range(prec):
            s.append(_B32[(bits >> (5 * (prec - 1 - i))) & 0x1F])
        out.append("".join(s))
    return out


def strings_to_cells(strs):
    out = np.empty(len(strs), dtype=np.int64)
    for i, s in enumerate(strs):
        bits = 0
        for ch in s:
            bits = (bits << 5) | _B32_INV[ch]
        v = ((bits << 4) | len(s)) & 0xFFFFFFFFFFFFFFFF
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return out


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT per-cell spherical areas: geohash cells are lon/lat
    rectangles, so area = R² · Δλ · (sin φ_top − sin φ_bottom) —
    closed form, per each cell's own packed precision."""
    return rect_area_m2(cells, cell_to_lonlat, get_precision, cell_spans,
                        radius_m)


def cell_to_boundary(cells):
    """(vlon, vlat) open-ring (n, 4) exact rectangle corners."""
    return rect_boundary(cells, cell_to_lonlat, get_precision, cell_spans)


def rect_area_m2(cells, to_lonlat, get_res, spans, radius_m: float):
    """Spherical area of lon/lat-rectangle cells (geohash, maidenhead)
    from their centers and per-res ``spans``."""
    c = np.asarray(cells, dtype=np.int64)
    lon, lat = to_lonlat(c)
    p = get_res(c)
    out = np.empty(c.shape[0], dtype=np.float64)
    for pr in np.unique(p):
        m = p == pr
        w, h = spans(int(pr))
        top = np.radians(np.minimum(lat[m] + h / 2.0, 90.0))
        bot = np.radians(np.maximum(lat[m] - h / 2.0, -90.0))
        out[m] = np.radians(w) * (np.sin(top) - np.sin(bot))
    return out * radius_m * radius_m


def rect_boundary(cells, to_lonlat, get_res, spans):
    """Corner rings (center ± span/2, CCW from SW) of lon/lat-rectangle
    cells, spans per each cell's own packed res (compacted frames mix
    resolutions)."""
    c = np.asarray(cells, dtype=np.int64)
    res_of = get_res(c)
    lon, lat = to_lonlat(c)
    vlon = np.empty((c.shape[0], 4), dtype=np.float64)
    vlat = np.empty((c.shape[0], 4), dtype=np.float64)
    for r in np.unique(res_of):
        m = res_of == r
        w, h = spans(int(r))
        vlon[m] = lon[m, None] + np.array(
            [-w / 2, w / 2, w / 2, -w / 2])[None, :]
        vlat[m] = lat[m, None] + np.array(
            [-h / 2, -h / 2, h / 2, h / 2])[None, :]
    return vlon, vlat
