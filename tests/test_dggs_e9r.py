"""``e9r`` — the equal-area aperture-9 diamond grid (IVEA9R class,
round 6): e4r's equal-area map × i9r's base-3 arithmetic."""

import numpy as np
import pytest

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.dggs.rhombuslib import E9R

RNG = np.random.default_rng(37)


def _rand_points(n):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_counts_roundtrip_nesting():
    lon, lat = _rand_points(60000)
    for res, n in [(0, 10), (1, 90), (2, 810)]:
        assert np.unique(E9R.lonlat_to_cell(lon, lat, res)).size == n
    c = E9R.lonlat_to_cell(lon[:5000], lat[:5000], 8)
    clon, clat = E9R.cell_to_lonlat(c)
    assert np.array_equal(E9R.lonlat_to_cell(clon, clat, 8), c)
    for pr in (0, 2, 5):
        assert np.array_equal(
            E9R.cell_to_parent(c, pr),
            E9R.lonlat_to_cell(lon[:5000], lat[:5000], pr))
    kids = E9R.cell_to_children(np.unique(c)[:50], 9).reshape(50, -1)
    assert kids.shape[1] == 9
    assert np.array_equal(
        E9R.cell_to_parent(kids.ravel(), 8).reshape(-1, 9),
        np.repeat(np.unique(c)[:50], 9).reshape(-1, 9))


def test_equal_area_monte_carlo_and_closed_form():
    m = 2_000_000
    lon = RNG.uniform(-180.0, 180.0, m)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, m)))
    c = E9R.lonlat_to_cell(lon, lat, 2)
    _, counts = np.unique(c, return_counts=True)
    expc = m / 810.0
    sd = np.sqrt(expc * (1 - 1 / 810.0))
    assert counts.size == 810
    assert np.abs(counts - expc).max() / sd < 5.0
    R = 6371007.1809
    a = E9R.cell_area_m2(np.unique(c))
    assert np.allclose(a, 4 * np.pi * R * R / (10 * 81), rtol=1e-12)


@pytest.mark.parametrize("bbox", [
    (-0.5, -0.5, 0.5, 0.5),
    (89.5, 59.5, 90.5, 60.5),
    (119.5, -85.5, 120.5, -84.5),
])
def test_cells_in_bbox_complete(bbox):
    res = 5
    lo, la, hi, lb = bbox
    step = np.degrees(E9R.cell_pitch_rad(res)) * 0.05
    pad = 5 * step
    lons = np.arange(lo - pad, hi + pad, step)
    lats = np.arange(la - pad, lb + pad, step)
    g = np.meshgrid(lons, lats)
    cand = np.unique(E9R.lonlat_to_cell(
        g[0].ravel(), np.clip(g[1].ravel(), -90.0, 90.0), res))
    clon, clat = E9R.cell_to_lonlat(cand)
    expected = set(cand[(clon >= lo) & (clon < hi)
                        & (clat >= la) & (clat < lb)].tolist())
    actual = set(cover.cover_bbox(lo, la, hi, lb, res, dggs="e9r").tolist())
    assert not (expected - actual) and not (actual - expected)


def test_parent_expr_and_compaction(spark):
    import pandas as pd
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )
    from raster2dggs_spark.operators.joins import parent_expr

    lon, lat = _rand_points(2000)
    c = E9R.lonlat_to_cell(lon, lat, 6)
    df = spark.createDataFrame(pd.DataFrame({"cell": c}), "cell long")
    for pr in (0, 2, 5):
        got = np.array(df.select(parent_expr("cell", pr, "e9r", from_res=6)
                                 .alias("p")).toPandas()["p"])
        assert np.array_equal(got, E9R.cell_to_parent(c, pr)), pr

    d0 = np.array([4], dtype=np.int64) << np.int64(57)
    full = E9R.cell_to_children(d0, 2)
    df2 = spark.createDataFrame(
        pd.DataFrame({"cell": full, "v": np.ones(full.size)}),
        "cell long, v double")
    comp = compact_cells(df2, ["v"], res=2, min_res=0, dggs="e9r").toPandas()
    assert set(comp["cell"].tolist()) == set(d0.tolist())
    back = uncompact_cells(
        spark.createDataFrame(comp, "cell long, v double"), 2, dggs="e9r"
    ).toPandas()
    assert set(back["cell"].tolist()) == set(full.tolist())


def test_check_grid_accepts_e9r():
    from raster2dggs_spark.dggs import check_grid

    assert check_grid("e9r") == "e9r"
