"""rHEALPix backend: structural known vectors (own convention, documented
in rhplib), round-trips, hierarchy, equal-area statistics, and the Spark
parent_expr twin."""

import numpy as np
import pytest

from raster2dggs_spark.dggs import rhplib as R


def test_known_structural_vectors():
    # equatorial face centers (lon bands O P Q R), cap faces N S
    cases = [
        (-135.0, 0.0, 0, "O"), (-45.0, 0.0, 0, "P"),
        (45.0, 0.0, 0, "Q"), (135.0, 0.0, 0, "R"),
        (10.0, 89.99, 0, "N"), (10.0, -89.99, 0, "S"),
        # face centers at res 1 land in the middle digit 4
        (45.0, 0.0, 1, "Q4"),
        (0.0, 89.99, 1, "N4"),  # pole is the center of the N square
    ]
    for lon, lat, res, want in cases:
        got = R.cells_to_string(R.lonlat_to_cell(np.array([lon]),
                                                 np.array([lat]), res))[0]
        assert got == want, (lon, lat, res, got, want)


def test_string_roundtrip():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 5000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 5000)))
    for res in (0, 2, 5, 9, 12):
        cells = R.lonlat_to_cell(lon, lat, res)
        s = R.cells_to_string(cells)
        assert all(len(x) == res + 1 and x[0] in "NOPQRS" for x in s)
        assert (R.strings_to_cells(s) == cells).all()


def test_center_reencode_identity():
    rng = np.random.default_rng(8)
    lon = rng.uniform(-180, 180, 20000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20000)))
    for res in (1, 4, 8, 11):
        cells = np.unique(R.lonlat_to_cell(lon, lat, res))
        clon, clat = R.cell_to_lonlat(cells)
        assert (R.lonlat_to_cell(clon, clat, res) == cells).all()


def test_parent_hierarchy():
    rng = np.random.default_rng(9)
    lon = rng.uniform(-180, 180, 10000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 10000)))
    fine = R.lonlat_to_cell(lon, lat, 8)
    for pr in (7, 4, 1, 0):
        assert (R.cell_to_parent(fine, pr)
                == R.lonlat_to_cell(lon, lat, pr)).all()
    # children invert parent
    c3 = np.unique(R.lonlat_to_cell(lon, lat, 3))
    kids = R.cell_to_children(c3, 4)
    assert (R.cell_to_parent(kids, 3) == np.repeat(c3, 9)).all()
    assert R.children_size(3, 6) == 9**3


def test_equal_area_statistics():
    """Cells partition the sphere into equal areas: area-uniform samples
    land uniformly across cells (chi-square-ish bound on the count cv)."""
    rng = np.random.default_rng(10)
    n = 200_000
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    cells = R.lonlat_to_cell(lon, lat, 2)
    _, counts = np.unique(cells, return_counts=True)
    assert counts.size == 6 * 9**2  # every cell hit
    mean = n / (6 * 9**2)
    cv = counts.std() / counts.mean()
    # Poisson cv ~ 1/sqrt(mean) = 0.049; allow 30% slack
    assert cv < 1.3 / np.sqrt(mean), cv
    # closed-form area sums to the sphere
    assert np.isclose(R.cell_area_m2(2) * 6 * 9**2,
                      4 * np.pi * 6371007.1809**2)


def test_resolution_and_area_monotonic():
    assert R.get_resolution(R.lonlat_to_cell(np.array([1.0]),
                                             np.array([1.0]), 7))[0] == 7
    areas = [R.cell_area_m2(r) for r in range(6)]
    assert all(a / b == pytest.approx(9.0) for a, b in zip(areas, areas[1:]))


def test_spark_parent_expr_twin(spark):
    """Native-Column rhp parent matches the NumPy library."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raster2dggs_spark.operators.joins import parent_expr

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 3000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 3000)))
    cells = R.lonlat_to_cell(lon, lat, 7)
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}), "cell long")
    got = df.select(
        parent_expr("cell", 2, "rhp", from_res=7).alias("p")
    ).toPandas()["p"].values
    assert (np.sort(got) == np.sort(R.cell_to_parent(cells, 2))).all()


def test_index_point_agg_rhp(spark):
    """End-to-end pixel indexing on the rhp grid."""
    from pyspark.sql import functions as F

    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 8, seed=42)
    out = index_point_agg(imgs, res=6, dggs="rhp", agg="mean").toPandas()
    assert len(out) > 0
    assert (R.get_resolution(out["cell"].values) == 6).all()
    assert (R.get_resolution(out["parent"].values) == 1).all()
    assert (R.cell_to_parent(out["cell"].values, 1)
            == out["parent"].values).all()
