"""``i9r`` — the ISEA9R-layout icosahedral-rhombus grid (aperture 9).

Covers the reference's *9R DGGAL family semantics (ref
indexers/dggalrasterindexer.py:375-401 registry; ``get_num_children``
returns 9: 10 diamonds, refinement ratio 9, single parents) with the
same battery shape as i4r: counts, round trips, nesting, fold-exact
areas, bbox cover completeness, native parent parity, compaction
round trip.
"""

import numpy as np
import pytest

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.dggs.rhombuslib import I9R

RNG = np.random.default_rng(29)


def _rand_points(n):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_counts_and_schedule():
    assert I9R.get_num_children(0, 1) == 9
    assert I9R.get_num_children(2, 4) == 81
    assert I9R.get_num_children(3, 3) == 1
    lon, lat = _rand_points(120000)
    for res, n in [(0, 10), (1, 90), (2, 810)]:
        assert np.unique(I9R.lonlat_to_cell(lon, lat, res)).size == n


def test_center_round_trip_and_nesting():
    lon, lat = _rand_points(5000)
    for res in (0, 1, 2, 6, 12, 16):
        c = I9R.lonlat_to_cell(lon, lat, res)
        clon, clat = I9R.cell_to_lonlat(c)
        assert np.array_equal(I9R.lonlat_to_cell(clon, clat, res), c)
    c10 = I9R.lonlat_to_cell(lon, lat, 10)
    for pr in (0, 1, 5, 9):
        assert np.array_equal(I9R.cell_to_parent(c10, pr),
                              I9R.lonlat_to_cell(lon, lat, pr))


def test_children_parent_inverse():
    lon, lat = _rand_points(400)
    for res in (0, 3):
        p = np.unique(I9R.lonlat_to_cell(lon, lat, res))
        kids = I9R.cell_to_children(p, res + 1).reshape(p.size, -1)
        assert kids.shape[1] == 9
        assert np.array_equal(
            I9R.cell_to_parent(kids.ravel(), res).reshape(-1, 9),
            np.repeat(p, 9).reshape(-1, 9))
        klon, klat = I9R.cell_to_lonlat(kids.ravel())
        assert np.array_equal(
            I9R.lonlat_to_cell(klon, klat, res + 1), kids.ravel())


def test_area_partition_of_unity_with_fold():
    """Every res's cells sum to the sphere (straddling cells included),
    and the 10 diamonds are exactly equal-area."""
    R = 6371007.1809
    sphere = 4.0 * np.pi * R * R
    lon, lat = _rand_points(200000)
    for res in (0, 1, 2):
        c = np.unique(I9R.lonlat_to_cell(lon, lat, res))
        assert c.size == 10 * 9 ** res
        a = I9R.cell_area_m2(c)
        assert abs(a.sum() / sphere - 1.0) < 1e-9, res
    c0 = np.unique(I9R.lonlat_to_cell(lon, lat, 0))
    a0 = I9R.cell_area_m2(c0)
    assert a0.max() / a0.min() < 1.0 + 1e-9


@pytest.mark.parametrize("bbox", [
    (-0.5, -0.5, 0.5, 0.5),
    (-0.5, 29.5, 0.5, 30.5),
    (89.5, 59.5, 90.5, 60.5),
    (119.5, -85.5, 120.5, -84.5),
])
def test_cells_in_bbox_complete(bbox):
    """Dense-sample ground truth vs the generic cover (the cos-latitude
    bug-class battery, same shape as i4r/a5/hex7)."""
    res = 6
    lo, la, hi, lb = bbox
    step = np.degrees(I9R.cell_pitch_rad(res)) * 0.05
    pad = 5 * step
    lons = np.arange(lo - pad, hi + pad, step)
    lats = np.arange(la - pad, lb + pad, step)
    g = np.meshgrid(lons, lats)
    cand = np.unique(I9R.lonlat_to_cell(
        g[0].ravel(), np.clip(g[1].ravel(), -90.0, 90.0), res))
    clon, clat = I9R.cell_to_lonlat(cand)
    expected = set(cand[(clon >= lo) & (clon < hi)
                        & (clat >= la) & (clat < lb)].tolist())
    actual = set(cover.cover_bbox(lo, la, hi, lb, res, dggs="i9r").tolist())
    missing = expected - actual
    assert not missing, f"missing {len(missing)}/{len(expected)}: {bbox}"
    assert not (actual - expected)


def test_parent_expr_native_matches_numpy(spark):
    import pandas as pd
    from raster2dggs_spark.operators.joins import parent_expr

    lon, lat = _rand_points(2000)
    c = I9R.lonlat_to_cell(lon, lat, 8)
    df = spark.createDataFrame(pd.DataFrame({"cell": c}), "cell long")
    for pr in (0, 1, 4, 7):
        got = np.array(
            df.select(parent_expr("cell", pr, "i9r", from_res=8)
                      .alias("p")).toPandas()["p"])
        assert np.array_equal(got, I9R.cell_to_parent(c, pr)), pr


def test_compact_roundtrip_identity(spark):
    """A16 on i9r: full 9-child families collapse level by level to the
    diamond; a partial family passes through; uncompact returns the
    exact constructed set."""
    import pandas as pd
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    d0 = np.array([3, 8], dtype=np.int64) << np.int64(57)
    full = I9R.cell_to_children(d0, 2)          # res 2
    part = I9R.cell_to_children(
        np.array([5], dtype=np.int64) << np.int64(57), 2)[:-1]                                            # 80 of 81
    pdf = pd.DataFrame({
        "cell": np.concatenate([full, part]),
        "v": np.ones(full.size + part.size),
    })
    df = spark.createDataFrame(pdf, "cell long, v double")
    comp = compact_cells(df, ["v"], res=2, min_res=0, dggs="i9r").toPandas()
    got = set(comp["cell"].tolist())
    assert set(d0.tolist()) <= got
    assert not (set(full.tolist()) & got)
    r = (np.array(sorted(got)) >> 52) & 0x1F
    assert set(r.tolist()) == {0, 1, 2}
    assert (r == 2).sum() == 8
    back = uncompact_cells(
        spark.createDataFrame(comp, "cell long, v double"), 2, dggs="i9r"
    ).toPandas()
    assert set(back["cell"].tolist()) == set(np.concatenate([full, part]))
    assert len(back) == full.size + part.size


def test_check_grid_accepts_i9r():
    from raster2dggs_spark.dggs import check_grid

    assert check_grid("i9r") == "i9r"
