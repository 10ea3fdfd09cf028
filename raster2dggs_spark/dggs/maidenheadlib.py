"""Pure-NumPy Maidenhead locator library — exact published system.

Replaces the reference's ``maidenhead`` backend
(/root/reference/raster2dggs/indexers/maidenheadrasterindexer.py):
alternating lon/lat digit pairs with bases 18 (fields, A-R), 10
(squares), 24 (subsquares, a-x), 10, 24 — precision = number of pairs
(1..5).

Int64 packing: ``id = (mixed_radix << 4) | precision`` where
mixed_radix accumulates (lon_digit * base + ... interleaved by pair);
parent = integer division by the dropped pairs' base products — pure
arithmetic, like the other grids.  Known vectors pinned: Greenwich →
``IO91``, Wellington NZ → ``RE78``.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked
from raster2dggs_spark.dggs.geohashlib import rect_area_m2, rect_boundary

BASES = (18, 10, 24, 10, 24)
MAX_PRECISION = 5
MIN_RES = 1
MAX_RES = MAX_PRECISION
PARENT_OFFSET = 2
_FIELD = "ABCDEFGHIJKLMNOPQR"
_SUB = "abcdefghijklmnopqrstuvwx"


def _pair_product(precision: int) -> int:
    p = 1
    for b in BASES[:precision]:
        p *= b * b
    return p


def lonlat_to_cell(lon_deg, lat_deg, precision: int):
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..5")
    return encode_chunked("maidenhead", _encode, lon_deg, lat_deg, precision)


def _encode(lon, lat, precision: int):
    rx = np.clip((lon + 180.0) / 360.0, 0.0, np.nextafter(1.0, 0.0))
    ry = np.clip((lat + 90.0) / 180.0, 0.0, np.nextafter(1.0, 0.0))
    bits = np.zeros(lon.shape[0], dtype=np.int64)
    for b in BASES[:precision]:
        rx = rx * b
        ry = ry * b
        dx = np.floor(rx).astype(np.int64)
        dy = np.floor(ry).astype(np.int64)
        rx -= dx
        ry -= dy
        bits = bits * (b * b) + dx * b + dy
    return (bits << 4) | precision


def _side(precision: int) -> int:
    """Cells per axis at ``precision`` (the product of its bases)."""
    n = 1
    for b in BASES[:precision]:
        n *= b
    return n


def cell_from_indices(ix, iy, precision: int):
    """Pack total mixed-radix (column, row) indices (0..Πb-1 each)
    straight into ids — digit-peel twin of :func:`lonlat_to_cell`
    minus the float quantization (exact-supercover constructor)."""
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..5")
    ix = np.asarray(ix, dtype=np.int64).ravel().copy()
    iy = np.asarray(iy, dtype=np.int64).ravel().copy()
    n = _side(precision)
    bits = np.zeros(ix.shape[0], dtype=np.int64)
    for b in BASES[:precision]:
        n //= b
        dx, ix = np.divmod(ix, n)
        dy, iy = np.divmod(iy, n)
        bits = bits * (b * b) + dx * b + dy
    return (bits << 4) | precision


def get_precision(cells):
    return (np.asarray(cells, dtype=np.int64) & 0xF)


get_resolution = get_precision


def n_cells(res: int) -> int:
    return _pair_product(res)


def cell_spans(res: int) -> tuple[float, float]:
    """(lon_span, lat_span) of every cell at ``res``, in degrees."""
    n = _side(res)
    return 360.0 / n, 180.0 / n


def pitch_deg(res: int) -> float:
    return min(cell_spans(res))


def lattice(res: int):
    """The (column, row) index lattice at ``res``: ``(u, v, nx, ny,
    to_cell, v_to_lat)`` as in geohashlib.lattice.  The scaling is not a
    power of two, so ``floor(u)`` can disagree with the encoder's
    per-pair digit peel on a boundary; callers that need the encoder's
    exact image use only the power-of-two lattices."""
    n = _side(res)
    lonspan, latspan = cell_spans(res)
    return (lambda lon: (lon + 180.0) / lonspan,
            lambda lat: (lat + 90.0) / latspan, n, n,
            lambda ix, iy: cell_from_indices(ix, iy, res),
            lambda v: np.asarray(v, np.float64) * latspan - 90.0)


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`; needs the cells'
    uniform ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("maidenhead parent_col needs from_res")
    prod = 1
    for b in BASES[parent_res:from_res]:
        prod *= b * b
    # max packed value (18·10·24·10·24)² < 2^53 → double floor-div exact
    bits = F.shiftrightunsigned(col, 4)
    return F.shiftleft(F.floor(bits / F.lit(prod)).cast("long"), 4).bitwiseOR(
        F.lit(parent_res)
    )


def cell_to_children(cells, child_res: int):
    """All descendants at ``child_res``: mixed-radix pair appends, so a
    cell's block is ``bits·P + [0, P)`` with P the appended pairs'
    base-square product; cell-major, ascending."""
    bits, prec = _unpack(cells)
    if bits.size == 0:
        return bits
    depth = child_depth(prec, child_res, MAX_PRECISION)
    r0 = child_res - depth
    prod = _pair_product(child_res) // _pair_product(r0)
    kids = bits[:, None] * prod + np.arange(prod, dtype=np.int64)[None, :]
    return ((kids << 4) | child_res).ravel()


def _unpack(cells):
    c = np.asarray(cells, dtype=np.int64).ravel()
    prec = c & 0xF
    return c >> 4, prec


def cell_to_parent(cells, parent_precision: int):
    bits, prec = _unpack(cells)
    if np.any(parent_precision > prec):
        raise ValueError("parent_precision coarser than cell precision required")
    out = bits.copy()
    # drop pairs one level at a time (per-row precision may vary)
    for lvl in range(MAX_PRECISION - 1, parent_precision - 1, -1):
        b = BASES[lvl]
        m = prec > lvl
        out = np.where(m, out // (b * b), out)
    return (out << 4) | parent_precision


def cell_to_lonlat(cells):
    """Cell-center lon/lat."""
    bits, prec = _unpack(cells)
    n = bits.shape[0]
    lon = np.zeros(n)
    lat = np.zeros(n)
    span_x = np.full(n, 360.0)
    span_y = np.full(n, 180.0)
    # peel digits from the most significant pair
    for u in np.unique(prec):
        m = prec == u
        bb = bits[m].copy()
        x = np.zeros(m.sum())
        y = np.zeros(m.sum())
        sx, sy = 360.0, 180.0
        digs = []
        for lvl in range(int(u) - 1, -1, -1):
            b = BASES[lvl]
            pair = bb % (b * b)
            digs.append((pair // b, pair % b, b))
            bb //= b * b
        for dx, dy, b in reversed(digs):
            sx /= b
            sy /= b
            x += dx * sx
            y += dy * sy
        lon[m] = x + sx / 2.0 - 180.0
        lat[m] = y + sy / 2.0 - 90.0
    return lon, lat


def cells_to_string(cells):
    bits, prec = _unpack(cells)
    out = []
    for v, p in zip(bits, prec):
        v = int(v)
        p = int(p)
        pairs = []
        for lvl in range(p - 1, -1, -1):
            b = BASES[lvl]
            pair = v % (b * b)
            v //= b * b
            pairs.append((pair // b, pair % b, lvl))
        s = []
        for dx, dy, lvl in reversed(pairs):
            if lvl == 0:
                s.append(_FIELD[dx] + _FIELD[dy])
            elif BASES[lvl] == 10:
                s.append(f"{dx}{dy}")
            else:
                s.append(_SUB[dx] + _SUB[dy])
        out.append("".join(s))
    return out


def strings_to_cells(strs):
    out = np.empty(len(strs), dtype=np.int64)
    for i, s in enumerate(strs):
        p = len(s) // 2
        bits = 0
        for lvl in range(p):
            cx, cy = s[2 * lvl], s[2 * lvl + 1]
            b = BASES[lvl]
            if lvl == 0:
                dx, dy = _FIELD.index(cx.upper()), _FIELD.index(cy.upper())
            elif b == 10:
                dx, dy = int(cx), int(cy)
            else:
                dx, dy = _SUB.index(cx.lower()), _SUB.index(cy.lower())
            bits = bits * (b * b) + dx * b + dy
        out[i] = (bits << 4) | p
    return out


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT per-cell spherical areas (lon/lat rectangles):
    R² · Δλ · (sin φ_top − sin φ_bottom) per packed precision."""
    return rect_area_m2(cells, cell_to_lonlat, get_precision, cell_spans,
                        radius_m)


def cell_to_boundary(cells):
    """(vlon, vlat) open-ring (n, 4) exact rectangle corners."""
    return rect_boundary(cells, cell_to_lonlat, get_precision, cell_spans)
