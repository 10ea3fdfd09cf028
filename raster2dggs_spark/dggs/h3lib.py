"""Pure-NumPy H3-layout hexagonal DGGS library.

Replaces the reference's ``h3`` dependency
(/root/reference/raster2dggs/indexers/h3rasterindexer.py:15-40, not
installable offline).  What is **exact H3**:

- the 64-bit index bit layout (mode/res/base-cell/15×3-bit digits),
- the aperture-7 hierarchy (``_upAp7``/``_downAp7`` class II/III chains,
  digit extraction, parent/child bit arithmetic, 60° digit rotations),
- the icosahedral gnomonic geometry with the published H3 face-center and
  face-axis-azimuth constants, the class-III rotation angle
  ``asin(sqrt(3/28))``, and the res-0 gnomonic scale.

What is **derived rather than copied** (offline, no tables available): the
122 base cells are recovered *geometrically* at import time by enumerating
the res-0 lattice window of every face, clustering coincident centers, and
numbering them deterministically by (-lat, lon).  Base-cell numbering and
near-seam boundary micro-shape may therefore differ from libh3; hierarchy,
determinism and the equal-area statistics are preserved, and every cell id
is stable across processes/executors (pure function of the constants).
Pentagons (icosahedron-vertex base cells) are flagged, but the digit tree
is uniformly 7-ary (no deleted-K subsequence) — a cell has ``7**n``
children ``n`` levels down everywhere, which simplifies compaction
(SURVEY.md §2.4 A16).

Everything is vectorized NumPy — safe under Spark's executor threads by
construction (no shared mutable state; cf. the reference's module locks,
/root/reference/raster2dggs/indexers/a5rasterindexer.py:16-31).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._hier import child_depth, encode_chunked

MIN_RES = 0
MAX_RES = 15
PARENT_OFFSET = 6  # 7^6 ~ 117K subcells per parent partition
COVER_HALO = 1.5  # circumradius ~0.58 pitch: a tighter polygon-cover halo

# --- published H3 constants (faceijk.c / constants.h) -----------------
M_SIN60 = np.sqrt(3.0) / 2.0
M_SQRT7 = np.sqrt(7.0)
M_AP7_ROT_RADS = np.arcsin(np.sqrt(3.0 / 28.0))  # 0.333473172251832
RES0_U_GNOMONIC = 0.38196601125010500003

_FACE_CENTER_GEO = np.array([  # (lat, lon) radians, 20 icosahedron faces
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615),
])

_FACE_AXES_AZ = np.array([  # azimuth (rad) from face center to the i-axis
    (5.619958268523939882, 3.525563166130744542, 1.431168063737548730),
    (5.760339081714187279, 3.665943979320991689, 1.571548876927796127),
    (0.780213654393430055, 4.969003859179821079, 2.874608756786625655),
    (0.430469363979999913, 4.619259568766391033, 2.524864466373195467),
    (6.130269123335111400, 4.035874020941915804, 1.941478918548720291),
    (2.692877706530642877, 0.598482604137447119, 4.787272808923838195),
    (2.982963003477243874, 0.888567901084048369, 5.077358105870439176),
    (3.532912002790141181, 1.438516900396945656, 5.627307105183336758),
    (3.494305004259568154, 1.399909901866372864, 5.588700106652763709),
    (3.003214169499538391, 0.908819067106342928, 5.097609271892733906),
    (5.930472956509811562, 3.836077854116615875, 1.741682751723420374),
    (0.138378484090254847, 4.327168688876645809, 2.232773586483450311),
    (0.448714947059150361, 4.637505151845541521, 2.543110049452346024),
    (0.158629650112549365, 4.347419854898940135, 2.253024752505744869),
    (5.891865957979238535, 3.797470855586042958, 1.703075753192847583),
    (2.711123289609793325, 0.616728187216597771, 4.805518392002988683),
    (3.294508837434268316, 1.200113735041072948, 5.388903939827463860),
    (3.804819692245439833, 1.710424589852244509, 5.899214794638635377),
    (3.664438879055192436, 1.570043776661997357, 5.758833981448388225),
    (2.361378999196363184, 0.266983896803167583, 4.455774101589558636),
])

_FACE_CENTER_XYZ = np.column_stack([
    np.cos(_FACE_CENTER_GEO[:, 0]) * np.cos(_FACE_CENTER_GEO[:, 1]),
    np.cos(_FACE_CENTER_GEO[:, 0]) * np.sin(_FACE_CENTER_GEO[:, 1]),
    np.sin(_FACE_CENTER_GEO[:, 0]),
])

# digit <-> axial unit vector (axial coords (a,b) = (i-k, j-k))
# digits: 0 center, 1 K, 2 J, 3 JK, 4 I, 5 IK, 6 IJ
_DIGIT_AXIAL = np.array(
    [(0, 0), (-1, -1), (0, 1), (-1, 0), (1, 0), (0, -1), (1, 1)], dtype=np.int64
)
# axial diff (da+1)*3+(db+1) -> digit
_AXIAL_TO_DIGIT = np.array([1, 3, 99, 5, 0, 2, 99, 4, 6], dtype=np.int64)
_DIGIT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)  # rotate 60° ccw
_DIGIT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)

# --- bit layout (exact H3) --------------------------------------------
_H3_INIT = np.uint64(0x08001FFFFFFFFFFF)  # mode=1, res=0, bc=0, digits=7


def _geo_azimuth(lat1, lon1, lat2, lon2):
    """Bearing (radians, cw from north) from point 1 to point 2."""
    dlon = lon2 - lon1
    return np.arctan2(
        np.cos(lat2) * np.sin(dlon),
        np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlon),
    )


def _geo_az_distance(lat, lon, az, dist):
    """Destination point given start, bearing, angular distance (radians)."""
    sl, cl = np.sin(lat), np.cos(lat)
    sd, cd = np.sin(dist), np.cos(dist)
    lat2 = np.arcsin(np.clip(sl * cd + cl * sd * np.cos(az), -1.0, 1.0))
    lon2 = lon + np.arctan2(np.sin(az) * sd * cl, cd - sl * np.sin(lat2))
    return lat2, lon2


def _hex2d_to_axial(x, y):
    """Round plane coords to the containing hex cell, axial ints.

    Standard cube rounding — equivalent semantics to H3's
    ``_hex2dToCoordIJK`` branchy rounding (nearest lattice center)."""
    b = y / M_SIN60
    a = x + b * 0.5
    c = -a - b
    ra, rb, rc = np.round(a), np.round(b), np.round(c)
    da, db, dc = np.abs(ra - a), np.abs(rb - b), np.abs(rc - c)
    fix_a = (da > db) & (da > dc)
    fix_b = ~fix_a & (db > dc)
    ra = np.where(fix_a, -rb - rc, ra)
    rb = np.where(fix_b, -ra - rc, rb)
    return ra.astype(np.int64), rb.astype(np.int64)


def _hex2d_to_axial_f(x, y):
    """Float64 twin of :func:`_hex2d_to_axial` (same cube rounding, no
    int cast) — feeds the encode digit loop, which stays in float64
    where every value is an exact small integer (see :func:`_rdiv7_f`)."""
    b = y / M_SIN60
    a = x + b * 0.5
    c = -a - b
    ra, rb, rc = np.round(a), np.round(b), np.round(c)
    da, db, dc = np.abs(ra - a), np.abs(rb - b), np.abs(rc - c)
    fix_a = (da > db) & (da > dc)
    fix_b = ~fix_a & (db > dc)
    ra = np.where(fix_a, -rb - rc, ra)
    rb = np.where(fix_b, -ra - rc, rb)
    return ra, rb


def _axial_to_hex2d(a, b):
    af = np.asarray(a, dtype=np.float64)
    bf = np.asarray(b, dtype=np.float64)
    return af - 0.5 * bf, bf * M_SIN60


def _rdiv7_f(x):
    """round(x/7) for float64 arrays holding exact integers — one fused
    multiply/floor instead of abs + 2·mul + div + where (measured ~2x on
    the res-9 digit loop).  EXACT for |x| < 2^45: the fractional part of
    t/7 is k/7, at least 1/14 from the .5 boundary, while the multiply's
    rounding error is ~|x|·2^-52 — so floor(x·(1/7) + 0.5) is the
    nearest integer for every axial coordinate this library can produce
    (|a|,|b| ≲ 3·7^(res/2) < 2^24 at MAX_RES)."""
    return np.floor(x * (1.0 / 7.0) + 0.5)


def _up_ap7_f(a, b, class3: bool):
    """One aperture-7 coarsening step on axial coords, in float64 for
    the encode digit loop — the linear combinations of small integers
    are exact in float64 and :func:`_rdiv7_f` rounds them exactly on
    this domain (validated by the seam round-trip battery +
    known-vector tests)."""
    if class3:
        return _rdiv7_f(3.0 * a - b), _rdiv7_f(a + 2.0 * b)
    return _rdiv7_f(2.0 * a + b), _rdiv7_f(3.0 * b - a)


def _down_ap7(a, b, class3: bool):
    # exact inverses of _up_ap7_f: class III (ccw) [[2,1],[-1,3]],
    # class II (cw) [[3,-1],[1,2]]
    if class3:
        return 2 * a + b, 3 * b - a
    return 3 * a - b, a + 2 * b


def _is_class3(res: int) -> bool:
    return bool(res % 2)


# --- geometric res-0 derivation (base cells) ---------------------------


def _fijk0_to_geo(face: int, a: int, b: int):
    """Geo center (lat, lon radians) of res-0 lattice point (a, b) on a
    face's gnomonic plane — exact central-projection inverse."""
    x, y = _axial_to_hex2d(np.array([a]), np.array([b]))
    r2d = np.hypot(x, y)[0]
    lat0, lon0 = _FACE_CENTER_GEO[face]
    if r2d < 1e-12:
        return lat0, lon0
    rang = np.arctan(r2d * RES0_U_GNOMONIC)
    az = _FACE_AXES_AZ[face][0] - np.arctan2(y, x)[0]
    lat, lon = _geo_az_distance(lat0, lon0, az, rang)
    return float(lat), float(lon)


def _axis_azimuth(face: int, a: int, b: int) -> float:
    """Azimuth of the +a (i-axis) lattice direction at lattice point (a,b)
    as rendered by ``face``'s plane — used to derive frame rotations."""
    eps = 1e-6
    lat0, lon0 = _fijk0_to_geo_f(face, float(a), float(b))
    lat1, lon1 = _fijk0_to_geo_f(face, float(a) + eps, float(b))
    return float(_geo_azimuth(lat0, lon0, lat1, lon1))


def _fijk0_to_geo_f(face: int, a: float, b: float):
    x = a - 0.5 * b
    y = b * M_SIN60
    r2d = float(np.hypot(x, y))
    lat0, lon0 = _FACE_CENTER_GEO[face]
    if r2d < 1e-12:
        return float(lat0), float(lon0)
    rang = float(np.arctan(r2d * RES0_U_GNOMONIC))
    az = float(_FACE_AXES_AZ[face][0] - np.arctan2(y, x))
    lat, lon = _geo_az_distance(lat0, lon0, az, rang)
    return float(lat), float(lon)


def _build_base_cells():
    """Derive the 122 base cells + per-(face, window-coord) lookup.

    Returns:
      base_xyz   (122, 3) canonical centers,
      base_home  (122,) home face,
      base_home_ab (122, 2) axial coords on the home face,
      base_is_pent (122,) bool,
      window     dict (face, a, b) -> (base_cell, ccw_rot60 steps)
    """
    entries = []  # (face, a, b, lat, lon)
    seen = set()
    for face in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    a, b = i - k, j - k
                    if (face, a, b) in seen:
                        continue
                    seen.add((face, a, b))
                    lat, lon = _fijk0_to_geo(face, a, b)
                    entries.append((face, a, b, lat, lon))
    xyz = np.array([
        (np.cos(lat) * np.cos(lon), np.cos(lat) * np.sin(lon), np.sin(lat))
        for _, _, _, lat, lon in entries
    ])
    # cluster by angular proximity. Same-cell entries rendered on different
    # face planes mismatch by up to ~6.5° (projective plane disagreement);
    # distinct res-0 centers are >=15° apart — union-find at 8° separates.
    n = len(entries)
    cos_tol = np.cos(np.radians(8.0))
    parent = list(range(n))

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    dots = xyz @ xyz.T
    for u in range(n):
        close = np.flatnonzero(dots[u] > cos_tol)
        for v in close:
            ru, rv = find(u), find(int(v))
            if ru != rv:
                parent[rv] = ru
    roots = {}
    labels = np.empty(n, dtype=np.int64)
    for u in range(n):
        r = find(u)
        labels[u] = roots.setdefault(r, len(roots))
    n_clusters = len(roots)
    if n_clusters != 122:
        raise RuntimeError(f"base-cell derivation found {n_clusters} != 122 cells")
    # canonical centers = normalized means
    centers = np.zeros((n_clusters, 3))
    for idx in range(n):
        centers[labels[idx]] += xyz[idx]
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # deterministic numbering: descending lat, then ascending lon
    lat_c = np.arcsin(np.clip(centers[:, 2], -1, 1))
    lon_c = np.arctan2(centers[:, 1], centers[:, 0])
    order = np.lexsort((np.round(lon_c, 9), -np.round(lat_c, 9)))
    renum = np.empty(n_clusters, dtype=np.int64)
    renum[order] = np.arange(n_clusters)
    labels = renum[labels]
    centers = centers[order]
    # faces seen per cluster → pentagon flag (icosa vertices appear on 5 faces)
    faces_per = [set() for _ in range(n_clusters)]
    for idx, (face, a, b, _, _) in enumerate(entries):
        faces_per[labels[idx]].add(face)
    # icosahedron-vertex cells appear on exactly 5 faces (verified: they sit
    # 37.38° = the face circumradius from every adjacent face center)
    is_pent = np.array([len(s) == 5 for s in faces_per])
    if int(is_pent.sum()) != 12:
        raise RuntimeError(f"expected 12 pentagons, found {int(is_pent.sum())}")
    # home face = face whose center is nearest the canonical center
    home = np.argmax(centers @ _FACE_CENTER_XYZ.T, axis=1).astype(np.int64)
    # home axial coords + window lookup with frame rotations
    home_ab = np.zeros((n_clusters, 2), dtype=np.int64)
    home_seen = np.zeros(n_clusters, dtype=bool)
    by_cluster_entries: list[list[tuple[int, int, int]]] = [[] for _ in range(n_clusters)]
    for idx, (face, a, b, _, _) in enumerate(entries):
        bc = labels[idx]
        by_cluster_entries[bc].append((face, a, b))
        if face == home[bc] and not home_seen[bc]:
            home_ab[bc] = (a, b)
            home_seen[bc] = True
    if not home_seen.all():
        raise RuntimeError("some base cell has no lattice entry on its home face")
    window: dict[tuple[int, int, int], tuple[int, int]] = {}
    for bc in range(n_clusters):
        hf = int(home[bc])
        ha, hb = int(home_ab[bc][0]), int(home_ab[bc][1])
        az_home = _axis_azimuth(hf, ha, hb)
        for face, a, b in by_cluster_entries[bc]:
            az_f = _axis_azimuth(face, a, b)
            # ccw steps to re-express face-frame digits in the home frame
            theta = az_f - az_home
            steps = int(np.round(theta / (np.pi / 3.0))) % 6
            resid = abs(theta - np.round(theta / (np.pi / 3.0)) * (np.pi / 3.0))
            # hexagon frames align to 60° multiples (projective residual
            # up to ~21° for far window entries — measured; <30° keeps the
            # rounding unambiguous); pentagon (vertex) frames physically
            # differ by 72° multiples — nearest-60° keeps ids deterministic,
            # vertex-sector seams are approximate (module docstring).
            if resid > np.radians(28.0) and not is_pent[bc]:
                raise RuntimeError(
                    f"ambiguous frame rotation: bc={bc} face={face}"
                )
            window[(face, a, b)] = (bc, steps)
    return centers, home, home_ab, is_pent, window


(_BASE_XYZ, _BASE_HOME, _BASE_HOME_AB, _BASE_IS_PENT, _WINDOW) = _build_base_cells()

# dense window lookup arrays: key = face*25 + (a+2)*5 + (b+2)
_WIN_BC = -np.ones(20 * 25, dtype=np.int64)
_WIN_ROT = np.zeros(20 * 25, dtype=np.int64)
for (_f, _a, _b), (_bc, _rot) in _WINDOW.items():
    _key = _f * 25 + (_a + 2) * 5 + (_b + 2)
    _WIN_BC[_key] = _bc
    _WIN_ROT[_key] = _rot

# per-(base cell, face) lattice coords + frame rotation (inverse rendering)
_BASE_ON_FACE_A = np.zeros((122, 20), dtype=np.int64)
_BASE_ON_FACE_B = np.zeros((122, 20), dtype=np.int64)
_BASE_ON_FACE_ROT = np.zeros((122, 20), dtype=np.int64)
_BASE_ON_FACE_OK = np.zeros((122, 20), dtype=bool)
for (_f, _a, _b), (_bc, _rot) in _WINDOW.items():
    if not _BASE_ON_FACE_OK[_bc, _f]:
        _BASE_ON_FACE_A[_bc, _f] = _a
        _BASE_ON_FACE_B[_bc, _f] = _b
        _BASE_ON_FACE_ROT[_bc, _f] = _rot
        _BASE_ON_FACE_OK[_bc, _f] = True

PENTAGON_BASE_CELLS = np.flatnonzero(_BASE_IS_PENT)

# precomputed per-face trig for the transcendental-free forward core
_FACE_SIN_LAT = np.sin(_FACE_CENTER_GEO[:, 0])
_FACE_COS_LAT = np.cos(_FACE_CENTER_GEO[:, 0])
_FACE_SIN_LON = np.sin(_FACE_CENTER_GEO[:, 1])
_FACE_COS_LON = np.cos(_FACE_CENTER_GEO[:, 1])
_FACE_AXIS_COS_II = np.cos(_FACE_AXES_AZ[:, 0])
_FACE_AXIS_SIN_II = np.sin(_FACE_AXES_AZ[:, 0])
_FACE_AXIS_COS_III = np.cos(_FACE_AXES_AZ[:, 0] - M_AP7_ROT_RADS)
_FACE_AXIS_SIN_III = np.sin(_FACE_AXES_AZ[:, 0] - M_AP7_ROT_RADS)


def cell_pitch_rad(res: int) -> float:
    """Approx angular distance between adjacent cell centers at ``res``."""
    return float(np.arctan(RES0_U_GNOMONIC) / M_SQRT7**res)


def pitch_deg(res: int) -> float:
    return float(np.degrees(cell_pitch_rad(res)))


def n_cells(res: int) -> int:
    """Uniformly 7-ary over the 122 base cells."""
    return 122 * 7**res


# --- forward: lonlat -> cell -------------------------------------------


_ENCODE_CHUNK = 8192  # keep the ~20 temporaries in L2 (4x faster than 1M-row passes)


def latlng_to_cell(lon_deg, lat_deg, res: int):
    """Vectorized lon/lat (degrees) -> H3-layout cell id (int64 view of the
    uint64 index) at resolution ``res``.

    Mirrors the contract of ``h3.latlng_to_cell`` used by the reference
    (/root/reference/raster2dggs/indexers/h3rasterindexer.py:21-27).
    Large inputs are processed in cache-sized chunks (measured 3-4x
    speedup over one monolithic pass)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError("res out of range")
    return encode_chunked("hex7", _latlng_to_cell_chunk, lon_deg, lat_deg,
                          res, _ENCODE_CHUNK)


def _latlng_to_cell_chunk(lon_deg, lat_deg, res: int):
    """Transcendental-free forward core after the initial lat/lon trig:

    tan(angular distance) = sqrt(1-c²)/c for c = cos distance (the face
    dot product), and cos/sin of the bearing come from the azimuth
    formula's numerator/denominator normalized by sin(distance) —
    θ = A − az is then expanded with per-face cos/sin tables.  Bitwise
    identical semantics to the trig formulation (same rounding targets),
    ~1.5-2× faster per point."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64).ravel())
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64).ravel())
    n = lon.shape[0]
    sin_lat = np.sin(lat)
    cos_lat = np.cos(lat)
    sin_lon = np.sin(lon)
    cos_lon = np.cos(lon)
    xyz = np.column_stack([cos_lat * cos_lon, cos_lat * sin_lon, sin_lat])
    dots = xyz @ _FACE_CENTER_XYZ.T
    face = np.argmax(dots, axis=1).astype(np.int64)
    c = np.clip(dots[np.arange(n), face], 1e-12, 1.0)  # faces within 37.4°
    # azimuth components: az = atan2(N, D); N = sin c sin az, D = sin c cos az
    fsl = _FACE_SIN_LAT[face]
    fcl = _FACE_COS_LAT[face]
    cos_dlon = cos_lon * _FACE_COS_LON[face] + sin_lon * _FACE_SIN_LON[face]
    sin_dlon = sin_lon * _FACE_COS_LON[face] - cos_lon * _FACE_SIN_LON[face]
    N = cos_lat * sin_dlon
    D = fcl * sin_lat - fsl * cos_lat * cos_dlon
    sin_c = np.sqrt(np.maximum(N * N + D * D, 1e-300))
    cos_az = D / sin_c
    sin_az = N / sin_c
    # θ = A − az with per-face (and res-parity) A = axis azimuth (− ap7 rot)
    if _is_class3(res):
        cA, sA = _FACE_AXIS_COS_III[face], _FACE_AXIS_SIN_III[face]
    else:
        cA, sA = _FACE_AXIS_COS_II[face], _FACE_AXIS_SIN_II[face]
    cos_t = cA * cos_az + sA * sin_az
    sin_t = sA * cos_az - cA * sin_az
    rp = (sin_c / c) / RES0_U_GNOMONIC * (M_SQRT7**res)  # tan(dist) scaled
    x = rp * cos_t
    y = rp * sin_t
    # digit loop in float64: every axial coord is an exact small integer
    # (< 2^24 at MAX_RES), so float64 reproduces integer arithmetic
    # bit-for-bit while skipping int64 division and astype churn (~2x on
    # the loop, ~20% on the whole encode — round 8)
    a, b = _hex2d_to_axial_f(x, y)

    digits = np.zeros((n, res), dtype=np.int64) if res else np.zeros((n, 0), np.int64)
    for rr in range(res, 0, -1):
        la, lb = a, b
        a, b = _up_ap7_f(a, b, _is_class3(rr))
        ca, cb = _down_ap7(a, b, _is_class3(rr))
        key = ((la - ca + 1) * 3 + (lb - cb + 1)).astype(np.int64)
        digits[:, rr - 1] = _AXIAL_TO_DIGIT[key]
    a = a.astype(np.int64)
    b = b.astype(np.int64)
    # res-0 window lookup
    key0 = face * 25 + (a + 2) * 5 + (b + 2)
    valid = (a >= -2) & (a <= 2) & (b >= -2) & (b <= 2)
    if not valid.all():
        raise RuntimeError("res-0 coords escaped the face window")
    bc = _WIN_BC[key0]
    if (bc < 0).any():
        raise RuntimeError("unmapped res-0 window coordinate")
    rot = _WIN_ROT[key0]
    # rotate digits into the base cell's home frame (bearing-cw steps;
    # direction fixed empirically by the seam round-trip property test)
    if res:
        for step in range(1, 6):
            m = rot >= step
            if m.any():
                digits[m] = _DIGIT_CW[digits[m]]
    # assemble
    h = np.full(n, _H3_INIT, dtype=np.uint64)
    h |= np.uint64(res) << np.uint64(52)
    h |= bc.astype(np.uint64) << np.uint64(45)
    for rr in range(1, res + 1):
        shift = np.uint64(3 * (MAX_RES - rr))
        h &= ~(np.uint64(7) << shift)
        h |= digits[:, rr - 1].astype(np.uint64) << shift
    return h.astype(np.int64)


# --- inverse: cell -> lonlat -------------------------------------------


def _extract_digits(c, res, max_res):
    """(n, max_res) digit array in the stored (home) frame; 0 padding."""
    n = c.shape[0]
    digits = np.zeros((n, max_res), dtype=np.int64)
    for rr in range(1, max_res + 1):
        shift = np.uint64(3 * (MAX_RES - rr))
        dig = ((c >> shift) & np.uint64(7)).astype(np.int64)
        digits[:, rr - 1] = np.where(res >= rr, dig, 0)
    return digits


def _replay(digits, res, face, a0, b0, max_res):
    """Replay a digit path on a given face plane: returns res-scale hex2d
    coords + geo (lat, lon radians). Fully vectorized."""
    a, b = a0.copy(), b0.copy()
    for rr in range(1, max_res + 1):
        active = res >= rr
        na, nb = _down_ap7(a, b, _is_class3(rr))
        dig = digits[:, rr - 1]
        da = _DIGIT_AXIAL[dig, 0]
        db = _DIGIT_AXIAL[dig, 1]
        a = np.where(active, na + da, a)
        b = np.where(active, nb + db, b)
    x, y = _axial_to_hex2d(a, b)
    r2d = np.hypot(x, y)
    scale = M_SQRT7 ** res.astype(np.float64)
    rang = np.arctan(r2d * RES0_U_GNOMONIC / scale)
    theta = np.arctan2(y, x)
    # undo class-III rotation applied in forward for odd res
    theta = np.where(res % 2 == 1, theta + M_AP7_ROT_RADS, theta)
    az = _FACE_AXES_AZ[face, 0] - theta
    lat0 = _FACE_CENTER_GEO[face, 0]
    lon0 = _FACE_CENTER_GEO[face, 1]
    lat, lon = _geo_az_distance(lat0, lon0, az, rang)
    small = r2d < 1e-12
    lat = np.where(small, lat0, lat)
    lon = np.where(small, lon0, lon)
    return lat, lon


def cell_to_latlng(cells):
    """Vectorized cell center (lon_deg, lat_deg).

    Exact analogue of H3's overage adjustment
    (faceijk.c ``_adjustOverageClassII``), done geometrically: replay the
    digit path on the home-face plane; for cells whose center lands nearer
    another face, un-rotate the digits into that face's frame and replay
    there — the plane the forward encoder actually used."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    res = get_resolution(c)
    bc = get_base_cell(c)
    max_res = int(res.max()) if res.size else 0
    digits = _extract_digits(c, res, max_res)
    home = _BASE_HOME[bc]
    lat, lon = _replay(digits, res, home, _BASE_HOME_AB[bc, 0].copy(),
                       _BASE_HOME_AB[bc, 1].copy(), max_res)
    # pass 2: re-render cells whose center's nearest face != replay face
    cur_face = home.copy()
    for _ in range(3):
        cl = np.cos(lat)
        xyz = np.column_stack([cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)])
        near = np.argmax(xyz @ _FACE_CENTER_XYZ.T, axis=1).astype(np.int64)
        redo = near != cur_face
        if not redo.any():
            break
        # base cell's lattice coords + frame rotation on the target face
        key = near * 25 + (_BASE_ON_FACE_A[bc, near] + 2) * 5 + (
            _BASE_ON_FACE_B[bc, near] + 2
        )
        has_entry = _BASE_ON_FACE_OK[bc, near]
        redo &= has_entry
        if not redo.any():
            break
        idx = np.flatnonzero(redo)
        f2 = near[idx]
        rot = _BASE_ON_FACE_ROT[bc[idx], f2]
        d2 = digits[idx].copy()
        for step in range(1, 6):
            m = rot >= step
            if m.any():
                d2[m] = _DIGIT_CCW[d2[m]]  # inverse of forward's CW
        a0 = _BASE_ON_FACE_A[bc[idx], f2].astype(np.int64)
        b0 = _BASE_ON_FACE_B[bc[idx], f2].astype(np.int64)
        lat2, lon2 = _replay(d2, res[idx], f2, a0, b0, max_res)
        lat[idx] = lat2
        lon[idx] = lon2
        cur_face[idx] = f2
    lon = np.mod(lon + np.pi, 2 * np.pi) - np.pi
    return np.degrees(lon), np.degrees(lat)


# --- bit-arithmetic hierarchy (exact H3 semantics) ----------------------


# protocol names (lon-first like every grid module)
lonlat_to_cell = latlng_to_cell
cell_to_lonlat = cell_to_latlng


def cell_to_boundary(cells):
    """Hexagon boundary vertices, (n, 6, 2) arrays (lon_deg, lat_deg).

    Vertices sit at circumradius 1/sqrt(3) lattice units from the center
    at angles 30°+60k in the cell's res-frame, rendered through the same
    face plane the center uses (cf. libh3 cellToBoundary)."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    n = c.shape[0]
    res = get_resolution(c)
    # first find the rendering face per cell (same two-pass as centers)
    lon_c, lat_c = cell_to_latlng(c)
    cl = np.cos(np.radians(lat_c))
    xyz = np.column_stack([
        cl * np.cos(np.radians(lon_c)), cl * np.sin(np.radians(lon_c)),
        np.sin(np.radians(lat_c)),
    ])
    face = np.argmax(xyz @ _FACE_CENTER_XYZ.T, axis=1).astype(np.int64)
    bc = get_base_cell(c)
    use_face = np.where(_BASE_ON_FACE_OK[bc, face], face, _BASE_HOME[bc])
    rot = _BASE_ON_FACE_ROT[bc, use_face]
    a0 = _BASE_ON_FACE_A[bc, use_face]
    b0 = _BASE_ON_FACE_B[bc, use_face]
    max_res = int(res.max()) if n else 0
    digits = _extract_digits(c, res, max_res)
    for step in range(1, 6):
        m = rot >= step
        if m.any():
            digits[m] = _DIGIT_CCW[digits[m]]
    # replay to axial coords on use_face
    a, b = a0.astype(np.int64).copy(), b0.astype(np.int64).copy()
    for rr in range(1, max_res + 1):
        active = res >= rr
        na, nb = _down_ap7(a, b, _is_class3(rr))
        dig = digits[:, rr - 1]
        a = np.where(active, na + _DIGIT_AXIAL[dig, 0], a)
        b = np.where(active, nb + _DIGIT_AXIAL[dig, 1], b)
    x, y = _axial_to_hex2d(a, b)
    # 6 vertices in the res-frame plane
    ang = np.radians(30.0 + 60.0 * np.arange(6))
    vr = 1.0 / np.sqrt(3.0)
    vx = x[:, None] + vr * np.cos(ang)[None, :]
    vy = y[:, None] + vr * np.sin(ang)[None, :]
    scale = (M_SQRT7 ** res.astype(np.float64))[:, None]
    r2d = np.hypot(vx, vy)
    rang = np.arctan(r2d * RES0_U_GNOMONIC / scale)
    theta = np.arctan2(vy, vx)
    theta = np.where((res % 2 == 1)[:, None], theta + M_AP7_ROT_RADS, theta)
    az = _FACE_AXES_AZ[use_face, 0][:, None] - theta
    lat0 = _FACE_CENTER_GEO[use_face, 0][:, None]
    lon0 = _FACE_CENTER_GEO[use_face, 1][:, None]
    vlat, vlon = _geo_az_distance(lat0, lon0, az, rang)
    vlon = np.mod(vlon + np.pi, 2 * np.pi) - np.pi
    return np.degrees(vlon), np.degrees(vlat)


def get_resolution(cells):
    c = np.asarray(cells).astype(np.uint64)
    return ((c >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)


def get_base_cell(cells):
    c = np.asarray(cells).astype(np.uint64)
    return ((c >> np.uint64(45)) & np.uint64(0x7F)).astype(np.int64)


def cell_to_parent(cells, parent_res):
    """Exact H3 parent: set res bits, fill finer digits with 7."""
    c = np.asarray(cells).astype(np.uint64)
    res = get_resolution(c)
    pr = np.int64(parent_res)
    if np.any(pr > res):
        raise ValueError("parent_res coarser than cell res required")
    h = (c & ~(np.uint64(0xF) << np.uint64(52))) | (
        np.uint64(parent_res) << np.uint64(52)
    )
    # set digits parent_res+1..15 to 7
    keep_bits = np.uint64(3 * (MAX_RES - int(parent_res)))
    mask = (np.uint64(1) << keep_bits) - np.uint64(1)
    return (h | mask).astype(np.int64)


def parent_col(col, parent_res: int, from_res: int | None = None):
    """Spark Column twin of :func:`cell_to_parent`: set the res nibble,
    fill the finer digits with 7."""
    from pyspark.sql import functions as F

    res_mask = ~(0xF << 52)  # python int; fits int64
    fill = (1 << (3 * (15 - parent_res))) - 1
    return (col.bitwiseAND(F.lit(res_mask))).bitwiseOR(
        F.lit(parent_res << 52)
    ).bitwiseOR(F.lit(fill))


def cell_to_center_child(cells, child_res: int):
    c = np.asarray(cells).astype(np.uint64)
    res = get_resolution(c)
    if np.any(np.int64(child_res) < res):
        raise ValueError("child_res finer than cell res required")
    h = (c & ~(np.uint64(0xF) << np.uint64(52))) | (
        np.uint64(child_res) << np.uint64(52)
    )
    # zero digits res+1..child_res
    for rr in range(1, child_res + 1):
        shift = np.uint64(3 * (MAX_RES - rr))
        m = rr > res
        dig = (h >> shift) & np.uint64(7)
        newdig = np.where(m, np.uint64(0), dig)
        h = (h & ~(np.uint64(7) << shift)) | (newdig.astype(np.uint64) << shift)
    return h.astype(np.int64)


def cell_to_children(cells, child_res: int):
    """All 7^(child_res−res) children of each cell (uniform 7-ary tree —
    the hex7 contract, so no pentagon digit-1 exclusions).  Input cells
    must share one resolution; output is ordered cell-major then
    digit-pattern ascending."""
    c = np.asarray(cells).astype(np.uint64)
    if c.size == 0:
        return c.astype(np.int64)
    dr = child_depth(get_resolution(c).ravel(), child_res, MAX_RES)
    if dr == 0:
        return np.asarray(cells).astype(np.int64)
    base = (c & ~(np.uint64(0xF) << np.uint64(52))) | (
        np.uint64(child_res) << np.uint64(52)
    )
    # clear the (all-7 in the parent id) digits r0+1..child_res
    clear_bits = np.uint64(3 * (MAX_RES - int(child_res)))
    mask = ((np.uint64(1) << np.uint64(3 * dr)) - np.uint64(1)) << clear_bits
    base = base & ~mask
    # pack every base-7 digit pattern at the cleared positions
    digs = np.arange(7 ** dr, dtype=np.uint64)
    pat = np.zeros_like(digs)
    tmp = digs.copy()
    for i in range(dr):
        shift = np.uint64(3 * (MAX_RES - (int(child_res) - i)))
        pat |= (tmp % np.uint64(7)) << shift
        tmp //= np.uint64(7)
    return (base[:, None] | pat[None, :]).ravel().astype(np.int64)


def is_valid_cell(cells):
    c = np.asarray(cells).astype(np.uint64)
    mode = ((c >> np.uint64(59)) & np.uint64(0xF)).astype(np.int64)
    res = get_resolution(c)
    bc = get_base_cell(c)
    ok = (mode == 1) & (bc >= 0) & (bc < 122) & (res >= 0) & (res <= MAX_RES)
    ok &= ((c >> np.uint64(63)) & np.uint64(1)) == 0
    for rr in range(1, MAX_RES + 1):
        shift = np.uint64(3 * (MAX_RES - rr))
        dig = ((c >> shift) & np.uint64(7)).astype(np.int64)
        ok &= np.where(rr <= res, dig <= 6, dig == 7)
    return ok


def cells_to_string(cells):
    """Canonical lowercase-hex representation (h3-style string ids)."""
    return [format(int(v) & 0xFFFFFFFFFFFFFFFF, "x") for v in np.asarray(cells).ravel()]


def strings_to_cells(strs):
    out = np.array([int(s, 16) for s in strs], dtype=np.uint64)
    return out.astype(np.int64)


# --- coverings (polyfill / disks) — lattice-sampling based --------------


def _sample_cover(lon_pts, lat_pts, res: int):
    cells = latlng_to_cell(lon_pts, lat_pts, res)
    return np.unique(cells)


def _filter_centers(cand, lon_min, lat_min, lon_max, lat_max):
    """Exact center-in-bbox filter, centers unwrapped into the bbox
    longitude frame (F14: a ±180-crossing bbox lives in the unwrapped
    frame, lon_max > 180 allowed)."""
    clon, clat = cell_to_latlng(cand)
    mid = 0.5 * (lon_min + lon_max)
    clon = clon + 360.0 * np.round((mid - clon) / 360.0)
    keep = (clon >= lon_min) & (clon < lon_max) & (clat >= lat_min) & (clat < lat_max)
    return cand[keep]


def _dense_cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int,
                      max_samples: int):
    """Dense lattice sampling at 0.35× cell pitch (guarantees every
    center-inside cell is hit) → encode + unique + center filter.

    res ≤ 3 samples at 0.18× pitch instead: gnomonic distortion at
    coarse res shrinks the worst-case cell inradius to ~0.25× pitch
    (measured), putting 0.35 past the √2·r_min hit guarantee — the
    round-4 dense-vs-hierarchical battery caught real missed cells at
    res 2-3.  Coarse res has few cells globally, so the 3.8× extra
    samples are cheap."""
    pitch_deg = np.degrees(cell_pitch_rad(res)) * (0.35 if res >= 4 else 0.18)
    lat_lo = max(-90.0, lat_min - pitch_deg)
    lat_hi = min(90.0, lat_max + pitch_deg)
    # cells keep ~constant physical size, so their lon extent in degrees
    # is ~pitch/cos(lat): within the bbox they are NARROWEST at the
    # lowest |lat| — stretch the lon step by that cos (conservative for
    # every other latitude row; using the extreme lat instead skips
    # whole cell columns near the equatorial side of a wide-lat bbox)
    if lat_lo <= 0.0 <= lat_hi:
        coslat = 1.0
    else:
        coslat = max(0.05, np.cos(np.radians(min(abs(lat_lo), abs(lat_hi)))))
    lon_step = pitch_deg / coslat
    lons = np.arange(lon_min - lon_step, lon_max + 2 * lon_step, lon_step)
    lats = np.arange(lat_lo, lat_hi + pitch_deg, pitch_deg)
    if lons.size * lats.size > max_samples:
        raise ValueError(
            f"bbox cover at res {res} needs {lons.size * lats.size} samples > cap; "
            "use a coarser res or split the bbox"
        )
    glon = np.repeat(lons, lats.size)
    glat = np.tile(lats, lons.size)
    cand = _sample_cover(glon, glat, res)
    return _filter_centers(cand, lon_min, lat_min, lon_max, lat_max)


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int, max_samples: int = 4_000_000):
    """All cells whose *center* lies in the bbox (reference semantics:
    cells_in_bbox post-filters centers strictly inside — e.g.
    /root/reference/raster2dggs/indexers/s2rasterindexer.py:127-134).

    Guaranteed-density lattice sampling (``_dense_cover_bbox``).  A
    hierarchical children-expansion variant (coarse cover → 7-ary bit
    expansion → exact filter, prototyped round 4) was REJECTED: the
    encoder is not canonical near icosahedron face seams — one physical
    hex can carry two ids (one per adjacent face, each owning part of
    the hex), so the cover's id universe is the ENCODER IMAGE, and only
    sampling at guaranteed density enumerates it; the bit-tree ancestor
    of a seam id can itself be a sliver id that no coarse cover finds
    (~1 cell per 10⁵ silently lost).  The battery that caught this
    (randomized uniform/pole/antimeridian bboxes vs a 3× denser
    reference) is pinned in tests/test_cover.py.

    Antimeridian: a bbox crossing ±180 is expressed in the *unwrapped*
    frame (lon_max > 180 allowed, e.g. 175..185); the encode is periodic
    and centers are unwrapped into the bbox frame before filtering
    (reference F14 semantics, overlay.py:111-123)."""
    return _dense_cover_bbox(lon_min, lat_min, lon_max, lat_max, res,
                             max_samples)


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """Per-cell spherical area (F7) from the boundary polygon via the
    spherical trapezoid (Green's theorem) formula:
    A = R²/2 · |Σ (λ₂−λ₁)(sin φ₁ + sin φ₂)| over boundary edges."""
    vlon, vlat = cell_to_boundary(cells)
    lam = np.radians(vlon)
    phi = np.radians(vlat)
    # unwrap each ring's longitudes relative to its first vertex
    lam = lam - 2 * np.pi * np.round((lam - lam[:, :1]) / (2 * np.pi))
    lam2 = np.roll(lam, -1, axis=1)
    phi2 = np.roll(phi, -1, axis=1)
    s = np.sum((lam2 - lam) * (np.sin(phi) + np.sin(phi2)), axis=1)
    return 0.5 * radius_m * radius_m * np.abs(s)
