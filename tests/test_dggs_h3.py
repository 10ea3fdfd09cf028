"""H3-layout library invariants.

The reference pins its indexing to libh3 at runtime (not hard-coded ids),
so our oracle is the same style: structural invariants + independent
primitives (haversine containment, dense-sampling covers — cf.
/root/reference/tests/regression/test_s2_cells_in_bbox_coverage.py)."""

import numpy as np
import pytest

from raster2dggs_spark.dggs import h3lib as h3
from raster2dggs_spark.geo import haversine_m

R = 6371007.1809


def _rand(n=30000, seed=0):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    return lon, lat


def test_base_cell_derivation():
    # 122 base cells, 12 pentagons — the H3 res-0 grid structure
    assert h3._BASE_XYZ.shape == (122, 3)
    assert len(h3.PENTAGON_BASE_CELLS) == 12
    lon, lat = _rand()
    c0 = h3.latlng_to_cell(lon, lat, 0)
    assert len(np.unique(c0)) == 122
    assert (h3.get_resolution(c0) == 0).all()


def test_validity_and_resolution():
    lon, lat = _rand(seed=1)
    for res in (0, 1, 5, 9, 15):
        c = h3.latlng_to_cell(lon, lat, res)
        assert h3.is_valid_cell(c).all()
        assert (h3.get_resolution(c) == res).all()
    assert not h3.is_valid_cell(np.array([0, -1, 12345])).any()


def test_containment_invariant():
    # every point lies within 1.2x cell pitch of its cell's center
    lon, lat = _rand(seed=2)
    for res in (1, 4, 8, 12):
        c = h3.latlng_to_cell(lon, lat, res)
        clon, clat = h3.cell_to_latlng(c)
        d = haversine_m(lon, lat, clon, clat)
        assert (d <= 1.2 * h3.cell_pitch_rad(res) * R).all(), res


def test_center_roundtrip():
    lon, lat = _rand(seed=3)
    for res in (6, 9, 12):
        c = np.unique(h3.latlng_to_cell(lon, lat, res))
        clon, clat = h3.cell_to_latlng(c)
        c2 = h3.latlng_to_cell(clon, clat, res)
        assert (c2 == c).mean() >= 0.9999, res


def test_parent_hierarchy_bit_exact():
    lon, lat = _rand(seed=4)
    c9 = h3.latlng_to_cell(lon, lat, 9)
    p7 = h3.cell_to_parent(c9, 7)
    assert (h3.get_resolution(p7) == 7).all()
    assert h3.is_valid_cell(p7).all()
    # parent-of-parent == grandparent (transitivity, pure bit arithmetic)
    p5a = h3.cell_to_parent(p7, 5)
    p5b = h3.cell_to_parent(c9, 5)
    assert (p5a == p5b).all()
    # base cell unchanged
    assert (h3.get_base_cell(p7) == h3.get_base_cell(c9)).all()
    # center child of parent shares the parent prefix
    cc = h3.cell_to_center_child(p7, 9)
    assert (h3.cell_to_parent(cc, 7) == p7).all()


def test_parent_consistency_with_direct_encode():
    # aperture-7 children overhang their parent (true in libh3 too): direct
    # coarse encode and digit truncation agree for the majority of points,
    # and *every* disagreement is an adjacent parent cell (<= 1.2 pitch).
    lon, lat = _rand(seed=5)
    c9 = h3.latlng_to_cell(lon, lat, 9)
    c7 = h3.latlng_to_cell(lon, lat, 7)
    p = h3.cell_to_parent(c9, 7)
    agree = (p == c7).mean()
    assert agree >= 0.6
    bad = p != c7
    plon, plat = h3.cell_to_latlng(p[bad])
    dlon, dlat = h3.cell_to_latlng(c7[bad])
    d = haversine_m(plon, plat, dlon, dlat)
    assert (d <= 1.2 * h3.cell_pitch_rad(7) * R).all()


def test_pentagon_flags():
    pents = h3.PENTAGON_BASE_CELLS
    clon, clat = h3.cell_to_latlng(
        np.array([(1 << 59) | (0 << 52) | (int(b) << 45) | (2**45 - 1) for b in pents])
    )
    # pentagons are the icosahedron vertices: pairwise distance of the 12
    # vertices is either ~63.43 deg (adjacent) or antipodal-ish
    xyz = np.column_stack([
        np.cos(np.radians(clat)) * np.cos(np.radians(clon)),
        np.cos(np.radians(clat)) * np.sin(np.radians(clon)),
        np.sin(np.radians(clat)),
    ])
    d = np.degrees(np.arccos(np.clip(xyz @ xyz.T, -1, 1)))
    np.fill_diagonal(d, 63.43)
    assert d.min() > 60.0  # vertices are never closer than adjacent


def test_string_roundtrip():
    lon, lat = _rand(n=100, seed=6)
    c = h3.latlng_to_cell(lon, lat, 9)
    s = h3.cells_to_string(c)
    back = h3.strings_to_cells(s)
    assert (back == c).all()
    assert all(ss == format(int(np.uint64(v)), "x") for ss, v in zip(s, c))


def test_cover_bbox_complete_against_dense_sampling():
    # independent oracle: every cell hit by a 10x-denser sampling whose
    # center is in the bbox must be in cover_bbox's result
    bbox = (10.0, 45.0, 10.5, 45.4)
    res = 7
    cover = set(h3.cover_bbox(*bbox, res).tolist())
    rng = np.random.default_rng(7)
    lon = rng.uniform(bbox[0], bbox[2], 200000)
    lat = rng.uniform(bbox[1], bbox[3], 200000)
    hit = np.unique(h3.latlng_to_cell(lon, lat, res))
    clon, clat = h3.cell_to_latlng(hit)
    inside = (
        (clon >= bbox[0]) & (clon < bbox[2]) & (clat >= bbox[1]) & (clat < bbox[3])
    )
    missing = set(hit[inside].tolist()) - cover
    assert not missing
    # and soundness: all returned centers inside
    cells = np.array(sorted(cover))
    clon2, clat2 = h3.cell_to_latlng(cells)
    assert (
        (clon2 >= bbox[0]) & (clon2 < bbox[2]) & (clat2 >= bbox[1]) & (clat2 < bbox[3])
    ).all()


def test_latitude_sweep_no_gaps():
    # the cos(lat) bug class from the reference's regressions: encode a
    # near-pole sweep; inverse stays within containment bound
    lats = np.linspace(84.0, 89.9, 5000)
    lons = np.linspace(-179.0, 179.0, 5000)
    for res in (3, 6):
        c = h3.latlng_to_cell(lons, lats, res)
        clon, clat = h3.cell_to_latlng(c)
        d = haversine_m(lons, lats, clon, clat)
        assert (d <= 1.2 * h3.cell_pitch_rad(res) * R).all()
