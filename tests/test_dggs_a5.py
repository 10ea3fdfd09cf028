"""``a5`` — the A5-layout pentagonal grid (aperture 5 then 4).

Mirrors the reference's own A5 regression strategy:
- the subdivision-schedule special case (ref tests/regression/
  test_a5_cell_to_children_size.py: 12 pentagons → 60 cells at res 1,
  aperture 4 thereafter);
- cells_in_bbox COMPLETENESS at high latitude / near-polar boxes via
  dense point sampling as an independent ground truth (ref tests/
  regression/test_a5_cells_in_bbox_coverage.py — the cos-latitude
  pruning bug class this repo has hit three times itself).
"""

import numpy as np
import pytest

from raster2dggs_spark.dggs import a5lib, cover

RNG = np.random.default_rng(17)


def _rand_points(n):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_counts_and_schedule():
    # reference regression values (test_a5_cell_to_children_size.py)
    assert a5lib.get_num_children(0, 1) == 5
    assert a5lib.get_num_children(0, 2) == 20
    assert a5lib.get_num_children(0, 0) == 1
    assert a5lib.get_num_children(1, 2) == 4
    assert a5lib.get_num_children(5, 8) == 64
    assert a5lib.get_num_children(3, 3) == 1
    # global cell counts: 12 pentagons, 60 quintants, 4x thereafter
    lon, lat = _rand_points(60000)
    for res, n in [(0, 12), (1, 60), (2, 240), (3, 960)]:
        assert np.unique(a5lib.lonlat_to_cell(lon, lat, res)).size == n


def test_center_round_trip_and_nesting():
    lon, lat = _rand_points(5000)
    for res in (0, 1, 2, 6, 11):
        c = a5lib.lonlat_to_cell(lon, lat, res)
        clon, clat = a5lib.cell_to_lonlat(c)
        assert np.array_equal(a5lib.lonlat_to_cell(clon, clat, res), c)
    # nested hierarchy: encode at coarse res == parent of fine encode
    c9 = a5lib.lonlat_to_cell(lon, lat, 9)
    for pr in (0, 1, 4, 8):
        assert np.array_equal(a5lib.cell_to_parent(c9, pr),
                              a5lib.lonlat_to_cell(lon, lat, pr))


def test_children_parent_inverse():
    lon, lat = _rand_points(500)
    for res in (0, 1, 5):
        p = a5lib.lonlat_to_cell(lon, lat, res)
        kids = a5lib.cell_to_children(np.unique(p), res + 1).reshape(
            np.unique(p).size, -1)
        k = kids.shape[1]
        assert k == (5 if res == 0 else 4)
        back = a5lib.cell_to_parent(kids.ravel(), res)
        assert np.array_equal(back.reshape(-1, k),
                              np.repeat(np.unique(p), k).reshape(-1, k))
        # children tile the parent: each child's center encodes into it
        klon, klat = a5lib.cell_to_lonlat(kids.ravel())
        assert np.array_equal(
            a5lib.lonlat_to_cell(klon, klat, res + 1), kids.ravel())


def test_area_partition_of_unity():
    """Spherical-excess areas are exact: cells at each res sum to the
    sphere, and the 60 quintants are exactly equal-area (the layout's
    symmetry group acts transitively on them)."""
    R = 6371007.1809
    sphere = 4.0 * np.pi * R * R
    lon, lat = _rand_points(120000)
    for res in (0, 1, 2):
        c = np.unique(a5lib.lonlat_to_cell(lon, lat, res))
        assert c.size == (12, 60, 240)[res]
        a = a5lib.cell_area_m2(c)
        assert abs(a.sum() / sphere - 1.0) < 1e-9
        if res <= 1:
            assert a.max() / a.min() < 1.0 + 1e-9  # exact equal-area
    # finer levels: planar congruence + gnomonic distortion → bounded
    c2 = np.unique(a5lib.lonlat_to_cell(lon, lat, 2))
    a2 = a5lib.cell_area_m2(c2)
    assert a2.max() / a2.min() < 2.5


def test_boundary_consistent_with_encode():
    """Boundary vertices nudged toward the center must encode back into
    the cell (the boundary really is this cell's rim, not a neighbour's
    — a cross-check of cell_to_boundary against the encoder)."""
    lon, lat = _rand_points(300)
    for res in (1, 4, 8):
        c = np.unique(a5lib.lonlat_to_cell(lon, lat, res))
        vlon, vlat = a5lib.cell_to_boundary(c)
        assert vlon.shape == (c.size, 3)
        clon, clat = a5lib.cell_to_lonlat(c)
        # pull 10% toward the center ALONG THE GEODESIC (3D chord +
        # renormalize): cells are geodesically convex, so the pulled
        # point is strictly interior — a lon/lat-space chord is not a
        # geodesic and can exit the cell near a vertex at coarse res
        v = a5lib._lonlat_to_xyz(vlon.ravel(), vlat.ravel())
        ctr = np.repeat(a5lib._lonlat_to_xyz(clon, clat), 3, axis=0)
        p = 0.9 * v + 0.1 * ctr
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        ilon = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
        ilat = np.degrees(np.arcsin(np.clip(p[:, 2], -1.0, 1.0)))
        enc = a5lib.lonlat_to_cell(ilon, ilat, res)
        assert np.array_equal(enc.reshape(-1, 3),
                              np.repeat(c, 3).reshape(-1, 3))
    c0 = np.unique(a5lib.lonlat_to_cell(lon, lat, 0))
    vlon0, _ = a5lib.cell_to_boundary(c0)
    assert vlon0.shape == (12, 5)


@pytest.mark.parametrize("bbox", [
    (-0.5, -0.5, 0.5, 0.5),        # equator
    (-0.5, 29.5, 0.5, 30.5),       # mid-latitude
    (89.5, 59.5, 90.5, 60.5),      # high latitude
    (119.5, -85.5, 120.5, -84.5),  # near-polar
])
def test_cells_in_bbox_complete(bbox):
    """The reference's A5 completeness battery (test_a5_cells_in_bbox_
    coverage.py shape): ground truth from dense point sampling +
    center filter — a genuinely different code path than the cover's
    lattice sampler."""
    res = 9
    lo, la, hi, lb = bbox
    step = np.degrees(a5lib.cell_pitch_rad(res)) * 0.05
    pad = 5 * step
    lons = np.arange(lo - pad, hi + pad, step)
    lats = np.arange(la - pad, lb + pad, step)
    g = np.meshgrid(lons, lats)
    cand = np.unique(a5lib.lonlat_to_cell(
        g[0].ravel(), np.clip(g[1].ravel(), -90.0, 90.0), res))
    clon, clat = a5lib.cell_to_lonlat(cand)
    expected = set(cand[(clon >= lo) & (clon < hi)
                        & (clat >= la) & (clat < lb)].tolist())
    actual = set(cover.cover_bbox(lo, la, hi, lb, res, dggs="a5").tolist())
    missing = expected - actual
    assert not missing, f"missing {len(missing)}/{len(expected)}: {bbox}"
    assert not (actual - expected), "cover returned center-outside cells"


def test_parent_expr_native_matches_numpy(spark):
    """The Column-expression parent (joins.parent_expr) must be
    bit-identical to a5lib.cell_to_parent at every target res."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raster2dggs_spark.operators.joins import parent_expr

    lon, lat = _rand_points(2000)
    c = a5lib.lonlat_to_cell(lon, lat, 7)
    df = spark.createDataFrame(pd.DataFrame({"cell": c}), "cell long")
    for pr in (0, 1, 3, 6):
        got = np.array(
            df.select(parent_expr("cell", pr, "a5", from_res=7)
                      .alias("p")).toPandas()["p"])
        assert np.array_equal(got, a5lib.cell_to_parent(c, pr)), pr


def test_compact_roundtrip_identity(spark):
    """A16 on a5 including the aperture-5 boundary: build the FULL
    res-2 child set of a few res-0 pentagons with a uniform value —
    compaction must collapse them to the pentagons, and uncompaction
    must reproduce the exact constructed set."""
    import pandas as pd
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    # faces 2 and 9: face 9 exercises the bit-63 (negative-id) range
    faces = np.array([2, 9], dtype=np.int64)
    res0 = (faces << np.int64(60))
    cells = a5lib.cell_to_children(res0, 2)         # res 2: 2 x 5 x 4
    # a third pentagon contributes a PARTIAL family (one missing child)
    part = a5lib.cell_to_children(
        np.array([7], dtype=np.int64) << np.int64(60), 2)[:-1]
    pdf = pd.DataFrame({
        "cell": np.concatenate([cells, part]),
        "v": np.ones(cells.size + part.size),
    })
    df = spark.createDataFrame(pdf, "cell long, v double")
    comp = compact_cells(df, ["v"], res=2, min_res=0, dggs="a5").toPandas()
    got = set(comp["cell"].tolist())
    # complete pentagons collapse fully to res 0
    assert set(res0.tolist()) <= got
    assert not (set(cells.tolist()) & got)
    # the partial family survives: its quintants with all 4 children
    # compact to res 1, the short one keeps 3 res-2 cells
    r = ((np.array(sorted(got)) >> 55) & 0x1F)
    assert set(r.tolist()) == {0, 1, 2}
    assert (r == 2).sum() == 3
    # round trip: uncompact to res 2 == the constructed set
    back = uncompact_cells(
        spark.createDataFrame(comp, "cell long, v double"), 2, dggs="a5"
    ).toPandas()
    assert set(back["cell"].tolist()) == set(np.concatenate([cells, part]))
    assert len(back) == cells.size + part.size


def test_check_grid_accepts_a5():
    from raster2dggs_spark.dggs import check_grid

    assert check_grid("a5") == "a5"


def test_spatial_joins_grid_generic_on_a5(spark):
    """The join operators are grid-generic: PIP, zonal and kNN must
    produce correct results with dggs='a5' (kNN checked against
    brute-force haversine top-k)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raster2dggs_spark.operators.joins import (
        knn_join, point_in_polygon_join, zonal_join, index_points,
    )
    from raster2dggs_spark.sources.vectors import (
        generate_points_pdf, generate_zones_pdf,
    )

    zones = generate_zones_pdf(4, seed=7)
    points = generate_points_pdf(60, seed=7, zones=zones)
    zdf = spark.createDataFrame(
        zones[["poly_id", "xs", "ys"]],
        "poly_id long, xs array<double>, ys array<double>",
    )
    pdf = spark.createDataFrame(points, "point_id long, lon double, lat double")

    # PIP on a5 == PIP on hex7 (same geometric predicate, different index)
    a = point_in_polygon_join(pdf, zdf, res=6, dggs="a5").toPandas()
    b = point_in_polygon_join(pdf, zdf, res=6, dggs="hex7").toPandas()
    key = lambda d: sorted(zip(d["point_id"], d["poly_id"]))
    assert key(a) == key(b) and len(a) > 0

    # zonal agg equality across grids (cell-center semantics at fine res
    # converge to point membership)
    cells = index_points(pdf, 9, "a5").select("cell", "point_id")
    za = zonal_join(cells, zdf, 9, [F.count(F.lit(1)).alias("n")],
                    dggs="a5").toPandas()
    assert za["n"].sum() > 0

    # kNN on a5 vs brute force
    import numpy as np
    t = points.copy()
    t["target_id"] = t["point_id"] + 1000
    tdf = spark.createDataFrame(
        t[["target_id", "lon", "lat"]],
        "target_id long, lon double, lat double")
    q = pdf.limit(12)
    got = knn_join(q, tdf, k=3, dggs="a5", q_id="point_id",
                   t_id="target_id").toPandas()
    qp = q.toPandas()
    R = 6371007.1809
    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = np.radians(lat1), np.radians(lat2)
        dl = np.radians(lon2 - lon1)
        dph = p2 - p1
        h = np.sin(dph / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
        return 2 * R * np.arcsin(np.sqrt(h))
    for _, row in qp.iterrows():
        d = hav(row["lon"], row["lat"], t["lon"].values, t["lat"].values)
        exp = set(t["target_id"].values[np.argsort(d, kind="stable")[:3]])
        mine = set(got[got["point_id"] == row["point_id"]]["target_id"])
        assert mine == exp, (row["point_id"], mine, exp)
