"""``e4r`` — the EQUAL-AREA icosahedral-rhombus grid (IVEA/ISEA-class
aperture 4, round 6).

Same battery shape as i4r plus the defining property: statistically
exact equal-area cells (uniform Monte-Carlo occupancy — the gnomonic
i4r fails this by design with a 1.8× area spread at res 3).
"""

import numpy as np
import pytest

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.dggs.rhombuslib import E4R

RNG = np.random.default_rng(31)


def _rand_points(n):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_counts_and_schedule():
    assert E4R.get_num_children(0, 1) == 4
    assert E4R.get_num_children(2, 5) == 64
    lon, lat = _rand_points(60000)
    for res, n in [(0, 10), (1, 40), (2, 160), (3, 640)]:
        assert np.unique(E4R.lonlat_to_cell(lon, lat, res)).size == n


def test_uv_map_roundtrip_machine_precision():
    """forward∘inverse on the equal-area wedge map is identity to
    ~1e-13 (the Newton inverse converges fully)."""
    from raster2dggs_spark.dggs.rhombuslib import (
        _lonlat_to_xyz, _sph_to_uv, _uv_to_sph)

    lon, lat = _rand_points(20000)
    xyz = _lonlat_to_xyz(lon, lat)
    d, u, v = _sph_to_uv(xyz)
    back = _uv_to_sph(d, u, v)
    assert np.linalg.norm(back - xyz, axis=1).max() < 1e-12


def test_center_round_trip_and_nesting():
    lon, lat = _rand_points(5000)
    for res in (0, 1, 2, 6, 12, 16):
        c = E4R.lonlat_to_cell(lon, lat, res)
        clon, clat = E4R.cell_to_lonlat(c)
        assert np.array_equal(E4R.lonlat_to_cell(clon, clat, res), c)
    c10 = E4R.lonlat_to_cell(lon, lat, 10)
    for pr in (0, 1, 5, 9):
        assert np.array_equal(E4R.cell_to_parent(c10, pr),
                              E4R.lonlat_to_cell(lon, lat, pr))


def test_children_parent_inverse():
    lon, lat = _rand_points(400)
    for res in (0, 3):
        p = np.unique(E4R.lonlat_to_cell(lon, lat, res))
        kids = E4R.cell_to_children(p, res + 1).reshape(p.size, -1)
        assert kids.shape[1] == 4
        assert np.array_equal(
            E4R.cell_to_parent(kids.ravel(), res).reshape(-1, 4),
            np.repeat(p, 4).reshape(-1, 4))
        klon, klat = E4R.cell_to_lonlat(kids.ravel())
        assert np.array_equal(
            E4R.lonlat_to_cell(klon, klat, res + 1), kids.ravel())


def test_equal_area_monte_carlo_uniformity():
    """THE defining property: uniform random sphere points occupy every
    res-3 cell with multinomially-uniform counts (max |z| < 5 over 640
    cells), while the gnomonic i4r twin on the same points shows its
    known ~1.8× area spread (z ≫ 10) — the two grids differ exactly by
    the equal-area re-projection."""
    from raster2dggs_spark.dggs.rhombuslib import I4R

    m = 2_000_000
    lon = RNG.uniform(-180.0, 180.0, m)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, m)))
    expc = m / 640.0
    sd = np.sqrt(expc * (1 - 1 / 640.0))

    c = E4R.lonlat_to_cell(lon, lat, 3)
    _, counts = np.unique(c, return_counts=True)
    assert counts.size == 640
    assert np.abs(counts - expc).max() / sd < 5.0

    ci = I4R.lonlat_to_cell(lon, lat, 3)
    _, ci_counts = np.unique(ci, return_counts=True)
    assert np.abs(ci_counts - expc).max() / sd > 10.0  # gnomonic contrast


def test_cell_area_closed_form_partition():
    """Closed-form areas: constant per res and summing to the sphere."""
    R = 6371007.1809
    sphere = 4.0 * np.pi * R * R
    lon, lat = _rand_points(150000)
    for res in (0, 1, 2):
        c = np.unique(E4R.lonlat_to_cell(lon, lat, res))
        a = E4R.cell_area_m2(c)
        assert np.allclose(a, sphere / (10 * 4 ** res), rtol=1e-12)
        assert abs(a.sum() / sphere - 1.0) < 1e-12


@pytest.mark.parametrize("bbox", [
    (-0.5, -0.5, 0.5, 0.5),
    (-0.5, 29.5, 0.5, 30.5),
    (89.5, 59.5, 90.5, 60.5),
    (119.5, -85.5, 120.5, -84.5),
])
def test_cells_in_bbox_complete(bbox):
    """Dense-sample ground truth vs the generic cover (cos-latitude
    bug-class battery, same shape as i4r/i9r)."""
    res = 8
    lo, la, hi, lb = bbox
    step = np.degrees(E4R.cell_pitch_rad(res)) * 0.05
    pad = 5 * step
    lons = np.arange(lo - pad, hi + pad, step)
    lats = np.arange(la - pad, lb + pad, step)
    g = np.meshgrid(lons, lats)
    cand = np.unique(E4R.lonlat_to_cell(
        g[0].ravel(), np.clip(g[1].ravel(), -90.0, 90.0), res))
    clon, clat = E4R.cell_to_lonlat(cand)
    expected = set(cand[(clon >= lo) & (clon < hi)
                        & (clat >= la) & (clat < lb)].tolist())
    actual = set(cover.cover_bbox(lo, la, hi, lb, res, dggs="e4r").tolist())
    missing = expected - actual
    assert not missing, f"missing {len(missing)}/{len(expected)}: {bbox}"
    assert not (actual - expected)


def test_parent_expr_native_matches_numpy(spark):
    import pandas as pd
    from raster2dggs_spark.operators.joins import parent_expr

    lon, lat = _rand_points(2000)
    c = E4R.lonlat_to_cell(lon, lat, 8)
    df = spark.createDataFrame(pd.DataFrame({"cell": c}), "cell long")
    for pr in (0, 1, 4, 7):
        got = np.array(
            df.select(parent_expr("cell", pr, "e4r", from_res=8)
                      .alias("p")).toPandas()["p"])
        assert np.array_equal(got, E4R.cell_to_parent(c, pr)), pr


def test_compact_roundtrip_identity(spark):
    """A16 on e4r (same id arithmetic as i4r): full 4-child families
    collapse to the diamond; partial family passes through."""
    import pandas as pd
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    d0 = np.array([3, 8], dtype=np.int64) << np.int64(57)
    full = E4R.cell_to_children(d0, 2)
    part = E4R.cell_to_children(
        np.array([5], dtype=np.int64) << np.int64(57), 2)[:-1]
    pdf = pd.DataFrame({
        "cell": np.concatenate([full, part]),
        "v": np.ones(full.size + part.size),
    })
    df = spark.createDataFrame(pdf, "cell long, v double")
    comp = compact_cells(df, ["v"], res=2, min_res=0, dggs="e4r").toPandas()
    got = set(comp["cell"].tolist())
    assert set(d0.tolist()) <= got
    assert not (set(full.tolist()) & got)
    back = uncompact_cells(
        spark.createDataFrame(comp, "cell long, v double"), 2, dggs="e4r"
    ).toPandas()
    assert set(back["cell"].tolist()) == set(np.concatenate([full, part]))


def test_check_grid_accepts_e4r():
    from raster2dggs_spark.dggs import check_grid

    assert check_grid("e4r") == "e4r"
