"""Web-Mercator quadtree grid ("quadkey" — Bing tile / slippy-map XYZ).

The 12th backend: the de-facto web-mapping grid every tile server and
basemap pipeline speaks.  A level-z cell is the (tx, ty) Web Mercator
tile of the standard slippy scheme; ids pack the Morton interleave of
(ty, tx) — exactly the base-4 digits of the Bing quadkey string, MSB
first — beside a 5-bit level:

    id = (morton(ty, tx) << 5) | level,   1 <= level <= MAX_LEVEL (23)

digit_k = 2*ybit_k + xbit_k, so ``cells_to_string`` is a straight
base-4 render and parent/children are 2-bit shifts (the compaction and
``parent_expr`` contracts).  Ids stay well under 2^51 — always positive
int64, no INT64_MIN sentinels needed.

Geometry: tiles are exact lon x Mercator-lat rectangles over
|lat| <= MAX_LAT (85.05112878°, the square-Mercator cut); latitudes
outside clamp into the edge rows, the reference slippy behavior.  Cell
areas are closed-form: sin(gd(u)) = tanh(u) collapses the spherical
band area to R²·(2π/n)·(tanh(u_top) − tanh(u_bot)).

No reference counterpart (raster2dggs ships H3/S2/rHEALPix/geohash/
maidenhead indexers); semantics follow the public Bing tile-system
spec.  The encode is pure ln/tan/floor arithmetic, so the oracle gate
replays it relationally in DuckDB (quadkey_pixel_index).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._bits import compress, spread
from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

MAX_LEVEL = 23
MIN_RES = 1
MAX_RES = MAX_LEVEL
PARENT_OFFSET = 8  # 4^8 = 65K subcells per parent partition
MAX_LAT = 85.05112878
# the tiles cover only the |lat| <= MAX_LAT band of the sphere
AREA_FRACTION = float(np.sin(np.radians(MAX_LAT)))
EARTH_R = 6_371_007.1809


def _fy(lat_deg):
    """Mercator N-S tile fraction (0 at the top row), lat clipped."""
    phi = np.radians(np.clip(lat_deg, -MAX_LAT, MAX_LAT))
    return (1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / np.pi) / 2.0


def _tile_xy(lon_deg, lat_deg, level: int):
    """Slippy-scheme tile indices (vectorized, clipped into the grid)."""
    n = 1 << level
    lon = np.asarray(lon_deg, dtype=np.float64).ravel()
    fx = (lon + 180.0) / 360.0
    fy = _fy(np.asarray(lat_deg, dtype=np.float64).ravel())
    tx = np.clip(np.floor(fx * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(fy * n), 0, n - 1).astype(np.int64)
    return tx, ty


def _morton(ty, tx, level: int):
    """Interleave (ty, tx) bits, y high — the base-4 quadkey digits.
    Magic-mask spread (dggs/_bits.py): 5 passes per axis instead of 4
    per BIT — bit-identical to the former per-bit loop."""
    return ((spread(ty) << np.uint64(1)) | spread(tx)).astype(np.int64)


def _demorton(bits, level: int):
    b = np.asarray(bits).astype(np.uint64)
    return (compress(b).astype(np.int64),
            compress(b >> np.uint64(1)).astype(np.int64))


def lonlat_to_cell(lon_deg, lat_deg, level: int):
    if not 1 <= level <= MAX_LEVEL:
        raise ValueError(f"level 1..{MAX_LEVEL}")
    return encode_chunked("quadkey", _encode, lon_deg, lat_deg, level)


def _encode(lon, lat, level: int):
    tx, ty = _tile_xy(lon, lat, level)
    return (_morton(ty, tx, level) << 5) | np.int64(level)


def tile_to_cell(tx, ty, level: int):
    """Pack slippy (tx, ty) indices into ids — the XYZ ingestion path
    and the exact-supercover constructor (no float round-trip).
    Indices outside ``[0, 2^level)`` raise ``ValueError``."""
    if not 1 <= level <= MAX_LEVEL:
        raise ValueError(f"level 1..{MAX_LEVEL}")
    tx = np.asarray(tx, dtype=np.int64).ravel()
    ty = np.asarray(ty, dtype=np.int64).ravel()
    n = 1 << level
    if tx.size and (tx.min() < 0 or tx.max() >= n
                    or ty.min() < 0 or ty.max() >= n):
        raise ValueError(f"tile indices outside [0, {n}) at level {level}")
    return (_morton(ty, tx, level) << 5) | np.int64(level)


def get_resolution(cells):
    return (np.asarray(cells, dtype=np.int64) & 0x1F)


def n_cells(res: int) -> int:
    return 4**res


def pitch_deg(res: int) -> float:
    """The constant lon span.  The lat span shrinks toward ±85°, so
    this is the EQUATORIAL pitch: conservative-large for margins; covers
    enumerate the lattice exactly and never sample quadkey."""
    return 360.0 / (1 << res)


def lattice(res: int):
    """The tile lattice at ``res``: ``(u, v, nx, ny, to_cell,
    v_to_lat)`` — lon linear, the N-S axis through the Mercator
    fraction (rows are straight lines of the grid's own planar space);
    ``v_to_lat`` extends the edge rows, which absorb the |lat| > MAX_LAT
    clip, to the poles."""
    n = 1 << res

    def v_to_lat(v):
        v = np.asarray(v, np.float64)
        lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * v / n))))
        lat = np.where(v <= 0, 90.0, lat)
        return np.where(v >= n, -90.0, lat)

    return (lambda lon: (lon + 180.0) / 360.0 * n,
            lambda lat: _fy(lat) * n, n, n,
            lambda ix, iy: tile_to_cell(ix, iy, res), v_to_lat)


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent` (drop trailing
    base-4 digits); needs the cells' uniform ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("quadkey parent_col needs from_res")
    drop = 2 * (from_res - parent_res)
    bits = F.shiftrightunsigned(col, 5 + drop)
    return F.shiftleft(bits, 5).bitwiseOR(F.lit(parent_res))


def _unpack(cells):
    c = np.asarray(cells, dtype=np.int64).ravel()
    return c >> 5, c & 0x1F


def cell_to_tile(cells):
    """(tx, ty, level) of each id — the XYZ server triple."""
    bits, lvl = _unpack(cells)
    if lvl.size and lvl.min() != lvl.max():
        out_tx = np.empty_like(bits)
        out_ty = np.empty_like(bits)
        for u in np.unique(lvl):
            m = lvl == u
            out_tx[m], out_ty[m] = _demorton(bits[m], int(u))
        return out_tx, out_ty, lvl
    level = int(lvl[0]) if lvl.size else 0
    tx, ty = _demorton(bits, level)
    return tx, ty, lvl


def cell_to_parent(cells, parent_level: int):
    bits, lvl = _unpack(cells)
    if np.any(parent_level > lvl):
        raise ValueError("parent_level coarser than cell level required")
    drop = 2 * (lvl - np.int64(parent_level))
    return ((bits >> drop) << 5) | np.int64(parent_level)


def cell_to_children(cells, child_level: int):
    """All 4^(child−level) children, cell-major, digit ascending (flat,
    uniform count — the h3lib children contract)."""
    bits, lvl = _unpack(cells)
    if bits.size == 0:
        return bits
    dl = child_depth(lvl, child_level, MAX_LEVEL)
    pat = np.arange(4 ** dl, dtype=np.int64)
    kids = (bits[:, None] << (2 * dl)) | pat[None, :]
    return ((kids << 5) | np.int64(child_level)).ravel()


def cell_to_lonlat(cells):
    """Tile-center (lon, lat)."""
    tx, ty, lvl = cell_to_tile(cells)
    n = (np.int64(1) << lvl).astype(np.float64)
    lon = (tx.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    u = np.pi * (1.0 - 2.0 * (ty.astype(np.float64) + 0.5) / n)
    lat = np.degrees(np.arctan(np.sinh(u)))
    return lon, lat


def cell_to_boundary(cells):
    """(vlon, vlat) open-ring (n, 4) vertex arrays — exact rectangle
    corners, CCW from the SW corner (the package-wide boundary
    contract; consumers close the ring)."""
    tx, ty, lvl = cell_to_tile(cells)
    n = (np.int64(1) << lvl).astype(np.float64)
    lon0 = tx.astype(np.float64) / n * 360.0 - 180.0
    lon1 = (tx.astype(np.float64) + 1.0) / n * 360.0 - 180.0
    lat1 = np.degrees(np.arctan(np.sinh(
        np.pi * (1.0 - 2.0 * ty.astype(np.float64) / n))))
    lat0 = np.degrees(np.arctan(np.sinh(
        np.pi * (1.0 - 2.0 * (ty.astype(np.float64) + 1.0) / n))))
    vlon = np.stack([lon0, lon1, lon1, lon0], axis=1)
    vlat = np.stack([lat0, lat0, lat1, lat1], axis=1)
    return vlon, vlat


def cell_area_m2(cells, radius_m: float = EARTH_R):
    """EXACT spherical area: R²·Δλ·(sin φ_top − sin φ_bot) with
    sin(gd(u)) = tanh(u) — no trig round-trip."""
    tx, ty, lvl = cell_to_tile(cells)
    n = (np.int64(1) << lvl).astype(np.float64)
    u_top = np.pi * (1.0 - 2.0 * ty.astype(np.float64) / n)
    u_bot = np.pi * (1.0 - 2.0 * (ty.astype(np.float64) + 1.0) / n)
    return ((2.0 * np.pi / n) * (np.tanh(u_top) - np.tanh(u_bot))
            * radius_m * radius_m)


def is_valid_cell(cells):
    bits, lvl = _unpack(cells)
    ok = (lvl >= 1) & (lvl <= MAX_LEVEL)
    ok &= np.asarray(cells, dtype=np.int64) >= 0
    with np.errstate(over="ignore"):
        ok &= bits < (np.int64(1) << (2 * np.minimum(lvl, MAX_LEVEL)))
    return ok


def cells_to_string(cells):
    """Bing quadkey strings (base-4 digits, MSB first)."""
    bits, lvl = _unpack(cells)
    out = []
    for v, p in zip(bits, lvl):
        v, p = int(v), int(p)
        out.append("".join(str((v >> (2 * (p - 1 - i))) & 3)
                           for i in range(p)))
    return out


def strings_to_cells(strs):
    out = np.empty(len(strs), dtype=np.int64)
    for i, s in enumerate(strs):
        bits = 0
        for ch in s:
            d = ord(ch) - 48
            if not 0 <= d <= 3:
                raise ValueError(f"bad quadkey digit {ch!r}")
            bits = (bits << 2) | d
        out[i] = (bits << 5) | len(s)
    return out
