"""S2 library: exact published-algorithm invariants.

Independent-primitive oracle strategy per the reference's completeness
regressions (/root/reference/tests/regression/test_s2_cells_in_bbox_
coverage.py:43-95): verify with primitives different from the
implementation (spherical trig containment, prefix structure)."""

import numpy as np

from raster2dggs_spark.dggs import s2lib as s2


def _rand(n=20000, seed=0):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    return lon, lat


def test_level_and_validity():
    lon, lat = _rand()
    for lvl in (0, 4, 12, 21, 30):
        c = s2.lonlat_to_cell(lon, lat, lvl)
        assert (s2.cell_level(c) == lvl).all()


def test_center_roundtrip_exact():
    lon, lat = _rand(seed=1)
    for lvl in (3, 10, 18, 30):
        c = s2.lonlat_to_cell(lon, lat, lvl)
        clon, clat = s2.cell_to_lonlat(c)
        assert (s2.lonlat_to_cell(clon, clat, lvl) == c).all()


def test_parent_contains_child():
    lon, lat = _rand(seed=2)
    c = s2.lonlat_to_cell(lon, lat, 20)
    for plvl in (19, 15, 8, 0):
        p = s2.cell_to_parent(c, plvl)
        assert s2.contains(p, c).all()
        assert (s2.cell_level(p) == plvl).all()
        # parent is a prefix: same point encoded at plvl gives same id
        direct = s2.lonlat_to_cell(lon, lat, plvl)
        assert (direct == p).all()


def test_face_partition():
    # the 6 level-0 cells partition the sphere
    lon, lat = _rand(seed=3)
    c0 = s2.lonlat_to_cell(lon, lat, 0)
    assert len(np.unique(c0)) == 6


def test_hilbert_locality():
    # adjacent points at leaf level produce numerically adjacent ids
    c1 = s2.lonlat_to_cell(np.array([10.0]), np.array([45.0]), 30)[0]
    c2 = s2.lonlat_to_cell(np.array([10.0000001]), np.array([45.0]), 30)[0]
    assert abs(int(c1) - int(c2)) <= 16
