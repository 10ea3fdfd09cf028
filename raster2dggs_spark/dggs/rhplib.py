"""Pure-NumPy rHEALPix DGGS — closed-form, offline.

Replaces the reference's rHEALPix backend
(/root/reference/raster2dggs/indexers/rhprasterindexer.py, which wraps
the rhealpixdggs library): the (K=3, H=4) HEALPix equal-area projection
with the rHEALPix (0,0) cap rearrangement (north/south polar triangles
reassembled into single squares over the first equatorial face), 3x3
aperture-9 digit hierarchy, row-major digits 0-8 from the cell's
northwest corner (the rhealpixdggs suid ordering).

Deviations from rhealpixdggs (documented, unavoidable offline):
- spherical, not ellipsoidal: no authalic-latitude conversion (the rest
  of this engine is spherical too), so cell boundaries differ from
  WGS84_003 by up to ~0.2 deg at mid-latitudes; hierarchy, equal-area
  and id structure are preserved.
- resolution r cell = face letter + r digits (6*9^r cells, area
  A/(6*9^r)); the reference's adapter counts len(cell) so its
  cell_area_m2 reads A/(6*9^(n-1)) for n = r+1 — same areas, shifted
  index (rhprasterindexer.py:101-107).

Faces: N O P Q R S = north cap, four equatorial squares (lon bands
[-180,-90) [-90,0) [0,90) [90,180)), south cap.

Int64 packing (same pattern as geohash/maidenhead): ``id =
((face * 9^r + digits_base9) << 4) | r`` — parents are pure integer
division, Spark-side via native expressions.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

FACES = "NOPQRS"
MIN_RES = 0
MAX_RES = 15
PARENT_OFFSET = 5  # 9^5 ~ 59K subcells per parent partition
NORTH_SQUARE = 0  # rhealpixdggs default (0, 0) layout
SOUTH_SQUARE = 0

_PI = np.pi
_HALF = np.pi / 2.0
_QUART = np.pi / 4.0
_PHI0_SIN = 2.0 / 3.0  # sin of the equatorial/polar transition latitude
_EPS1 = np.nextafter(1.0, 0.0)


# ---------------------------------------------------------------------------
# HEALPix projection (sphere -> plane) and inverse
# ---------------------------------------------------------------------------

def _project(lon, lat):
    """(lon, lat) radians -> HEALPix plane (x in [-pi,pi], y in
    [-pi/2, pi/2]); equal-area by construction."""
    sinlat = np.sin(lat)
    eq = np.abs(sinlat) <= _PHI0_SIN
    x = np.where(eq, lon, 0.0)
    y = np.where(eq, (3.0 * _PI / 8.0) * sinlat, 0.0)
    if not eq.all():
        po = ~eq
        sig = np.sqrt(3.0 * (1.0 - np.abs(sinlat[po])))
        c = np.clip(np.floor((lon[po] + _PI) / _HALF), 0.0, 3.0)
        xc = -_PI + (c + 0.5) * _HALF
        x[po] = xc + (lon[po] - xc) * sig
        y[po] = np.sign(lat[po]) * _QUART * (2.0 - sig)
    return x, y


def _unproject(x, y):
    """Inverse of :func:`_project`."""
    eq = np.abs(y) <= _QUART
    lon = np.where(eq, x, 0.0)
    lat = np.where(eq, np.arcsin(np.clip(y * (8.0 / (3.0 * _PI)), -1, 1)), 0.0)
    if not eq.all():
        po = ~eq
        sig = 2.0 - 4.0 * np.abs(y[po]) / _PI
        c = np.clip(np.floor((x[po] + _PI) / _HALF), 0.0, 3.0)
        xc = -_PI + (c + 0.5) * _HALF
        with np.errstate(invalid="ignore", divide="ignore"):
            lo = xc + (x[po] - xc) / sig
        lo = np.where(sig > 0, lo, xc)  # pole: longitude of the cap centre
        lon[po] = lo
        lat[po] = np.sign(y[po]) * np.arcsin(
            np.clip(1.0 - sig * sig / 3.0, -1, 1)
        )
    return lon, lat


def _rot(dx, dy, k):
    """Rotate (dx, dy) by k*90 deg CCW (k int array, exact arithmetic)."""
    k = np.asarray(k, dtype=np.int64) % 4
    ox = np.where(k == 0, dx, np.where(k == 1, -dy, np.where(k == 2, -dx, dy)))
    oy = np.where(k == 0, dy, np.where(k == 1, dx, np.where(k == 2, -dy, -dx)))
    return ox, oy


def _combine(x, y):
    """HEALPix stairstep -> rHEALPix plane: each polar triangle c is
    rotated about the pole apex into the single N/S square (CCW by
    (c - square)*90 in the north, CW in the south)."""
    north = y > _QUART
    south = y < -_QUART
    x = x.copy()
    y = y.copy()
    for mask, sq, sgn in ((north, NORTH_SQUARE, 1.0), (south, SOUTH_SQUARE, -1.0)):
        if not mask.any():
            continue
        c = np.clip(np.floor((x[mask] + _PI) / _HALF), 0.0, 3.0).astype(np.int64)
        xc = -_PI + (c + 0.5) * _HALF
        dx = x[mask] - xc
        dy = y[mask] - sgn * _HALF
        k = (c - sq) if sgn > 0 else (sq - c)
        dx, dy = _rot(dx, dy, k)
        xs = -_PI + (sq + 0.5) * _HALF
        x[mask] = xs + dx
        y[mask] = sgn * _HALF + dy
    return x, y


def _uncombine(x, y):
    """Inverse of :func:`_combine`: classify the square quarter the point
    sits in (bottom/east/top/west of the cap square, ties resolved in
    that order) and rotate it back onto its HEALPix triangle."""
    north = y > _QUART
    south = y < -_QUART
    x = x.copy()
    y = y.copy()
    for mask, sq, sgn in ((north, NORTH_SQUARE, 1.0), (south, SOUTH_SQUARE, -1.0)):
        if not mask.any():
            continue
        xs = -_PI + (sq + 0.5) * _HALF
        dx = x[mask] - xs
        dy = y[mask] - sgn * _HALF
        # quarter of the cap square the point sits in (= which HEALPix
        # triangle it came from): 0 = toward-equator, 1 = east, 2 = away,
        # 3 = west; diagonal ties resolve in that order (deterministic)
        toward_eq = -sgn * dy
        bottom = toward_eq >= np.abs(dx)
        east = ~bottom & (dx >= np.abs(dy))
        top = ~bottom & ~east & (-toward_eq >= np.abs(dx))
        k = np.where(bottom, 0, np.where(east, 1, np.where(top, 2, 3)))
        # both hemispheres: triangle c sits k quarters CCW-from-bottom
        # (forward rotation was +k CCW in the north, -k CCW in the south)
        c = (sq + k) % 4
        rk = (-k) % 4 if sgn > 0 else k % 4
        dx, dy = _rot(dx, dy, rk)
        xc = -_PI + (c + 0.5) * _HALF
        x[mask] = xc + dx
        y[mask] = sgn * _HALF + dy
    return x, y


# ---------------------------------------------------------------------------
# plane -> cell digits
# ---------------------------------------------------------------------------

def _plane_to_face_uv(x, y):
    """rHEALPix plane -> (face 0..5, u, v) with u,v in [0,1), v measured
    from the face's NORTH edge (row-major digit convention)."""
    north = y > _QUART
    south = y < -_QUART
    face = np.where(
        north, 0,
        np.where(south, 5, 1 + np.clip(np.floor((x + _PI) / _HALF), 0, 3)),
    ).astype(np.int64)
    x0 = np.where(north, -_PI + NORTH_SQUARE * _HALF,
                  np.where(south, -_PI + SOUTH_SQUARE * _HALF,
                           -_PI + (face - 1) * _HALF))
    ytop = np.where(north, 3 * _QUART, np.where(south, -_QUART, _QUART))
    u = np.clip((x - x0) / _HALF, 0.0, _EPS1)
    v = np.clip((ytop - y) / _HALF, 0.0, _EPS1)
    return face, u, v


def lonlat_to_cell(lon_deg, lat_deg, res: int):
    """Vectorized lon/lat (degrees) -> packed rHEALPix cell id at ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError("res 0..15")
    return encode_chunked("rhp", _encode, lon_deg, lat_deg, res)


def _encode(lon_deg, lat_deg, res: int):
    lon = np.radians(lon_deg)
    lat = np.radians(lat_deg)
    # wrap lon into [-pi, pi)
    lon = np.mod(lon + _PI, 2.0 * _PI) - _PI
    x, y = _project(lon, lat)
    x, y = _combine(x, y)
    face, u, v = _plane_to_face_uv(x, y)
    # digit loop in float64 (round 8): every intermediate is an exact
    # integer (max 6·9^15 + digits ≈ 1.24e15 < 2^53), so skipping the
    # per-level floor().astype(int64) round trips is bit-identical
    bitsf = face.astype(np.float64)
    for _ in range(res):
        u = u * 3.0
        v = v * 3.0
        du = np.floor(u)
        dv = np.floor(v)
        u -= du
        v -= dv
        bitsf = bitsf * 9.0 + (dv * 3.0 + du)
    return (bitsf.astype(np.int64) << 4) | res


def get_resolution(cells):
    return np.asarray(cells, dtype=np.int64) & 0xF


def _unpack(cells):
    c = np.asarray(cells, dtype=np.int64).ravel()
    return c >> 4, (c & 0xF).astype(np.int64)


def cell_to_parent(cells, parent_res: int):
    bits, res = _unpack(cells)
    if np.any(parent_res > res):
        raise ValueError("parent_res coarser than cell res required")
    out = bits // (9 ** (res - parent_res))
    return (out << 4) | parent_res


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`; needs the cells'
    uniform ``from_res``."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("rhp parent_col needs from_res")
    prod = 9 ** (from_res - parent_res)
    # 6*9^15 < 2^53 -> double floor-div exact
    bits = F.shiftrightunsigned(col, 4)
    return F.shiftleft(F.floor(bits / F.lit(prod)).cast("long"), 4).bitwiseOR(
        F.lit(parent_res)
    )


def cell_to_children(cells, child_res: int):
    """All 9^k descendants at ``child_res`` (base-9 digit appends),
    cell-major, ascending."""
    bits, res = _unpack(cells)
    if bits.size == 0:
        return bits
    n = 9 ** child_depth(res, child_res, MAX_RES)
    kids = bits[:, None] * np.int64(n) + np.arange(n, dtype=np.int64)[None, :]
    return ((kids << 4) | np.int64(child_res)).ravel()


def children_size(res: int, child_res: int) -> int:
    return 9 ** (child_res - res)


def cell_to_face_uv(cells):
    """Packed id -> (face, u, v) of the cell CENTER (u, v in [0,1))."""
    bits, res = _unpack(cells)
    n = bits.shape[0]
    u = np.zeros(n)
    v = np.zeros(n)
    span = np.ones(n)
    for r in np.unique(res):
        m = res == r
        bb = bits[m]
        digs = []
        for _ in range(int(r)):
            digs.append(bb % 9)
            bb //= 9
        uu = np.zeros(m.sum())
        vv = np.zeros(m.sum())
        s = 1.0
        for d in reversed(digs):
            s /= 3.0
            uu += (d % 3) * s
            vv += (d // 3) * s
        u[m] = uu + s / 2.0
        v[m] = vv + s / 2.0
        span[m] = s
    face = bits // (9 ** res)
    return face, u, v


def cell_to_lonlat(cells):
    """Cell-center lon/lat (degrees)."""
    face, u, v = cell_to_face_uv(cells)
    north = face == 0
    south = face == 5
    x0 = np.where(north, -_PI + NORTH_SQUARE * _HALF,
                  np.where(south, -_PI + SOUTH_SQUARE * _HALF,
                           -_PI + (face - 1) * _HALF))
    ytop = np.where(north, 3 * _QUART, np.where(south, -_QUART, _QUART))
    x = x0 + u * _HALF
    y = ytop - v * _HALF
    x, y = _uncombine(x, y)
    lon, lat = _unproject(x, y)
    return np.degrees(lon), np.degrees(lat)


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """Exact equal-area cell areas: A_sphere / (6 * 9^res) per cell.
    A bare resolution ``r`` (0..15) is itself a valid id — face N's
    first res-``r`` cell — so ``cell_area_m2(r)`` reads as the per-res
    constant."""
    res = get_resolution(cells)
    return 4.0 * np.pi * radius_m * radius_m / (6.0 * 9.0 ** res)


def n_cells(res: int) -> int:
    return 6 * 9**res


def cell_pitch_rad(res: int) -> float:
    """Angular size of a cell edge at ``res`` (plane edge pi/2 / 3^res)."""
    return float(_HALF / 3 ** res)


def pitch_deg(res: int) -> float:
    return float(np.degrees(cell_pitch_rad(res)))


def cells_to_string(cells):
    """Packed id -> reference-style suid string, e.g. ``N12345678``
    (face letter + base-9 digits; rhprasterindexer cell format)."""
    bits, res = _unpack(cells)
    out = []
    for b, r in zip(bits.tolist(), res.tolist()):
        digs = []
        for _ in range(r):
            digs.append(str(b % 9))
            b //= 9
        out.append(FACES[b] + "".join(reversed(digs)))
    return out


def strings_to_cells(strs):
    out = np.empty(len(strs), dtype=np.int64)
    for i, s in enumerate(strs):
        bits = FACES.index(s[0])
        for ch in s[1:]:
            bits = bits * 9 + int(ch)
        out[i] = (bits << 4) | (len(s) - 1)
    return out


def cell_to_boundary(cells):
    """(vlon, vlat) of shape (n, 4): corner vertices (CCW in the
    projection plane).  rHEALPix cells are exact squares in the plane,
    so corners are the center ± half a cell span unprojected."""
    face, u, v = cell_to_face_uv(cells)
    _bits, res = _unpack(cells)
    half = 0.5 / (3.0 ** res.astype(np.float64))
    du = np.array([-1.0, 1.0, 1.0, -1.0])
    dv = np.array([-1.0, -1.0, 1.0, 1.0])
    uu = u[:, None] + half[:, None] * du[None, :]
    vv = v[:, None] + half[:, None] * dv[None, :]
    north = (face == 0)[:, None]
    south = (face == 5)[:, None]
    x0 = np.where(north, -_PI + NORTH_SQUARE * _HALF,
                  np.where(south, -_PI + SOUTH_SQUARE * _HALF,
                           -_PI + (face[:, None] - 1) * _HALF))
    ytop = np.where(north, 3 * _QUART, np.where(south, -_QUART, _QUART))
    # clamp a hair inside the face so corner points unproject on the
    # cell's own face (corners on face seams are shared anyway)
    eps = 1e-12
    uu = np.clip(uu, eps, 1.0 - eps)
    vv = np.clip(vv, eps, 1.0 - eps)
    x = x0 + uu * _HALF
    y = ytop - vv * _HALF
    x, y = _uncombine(x, y)
    lon, lat = _unproject(x, y)
    return np.degrees(lon), np.degrees(lat)
