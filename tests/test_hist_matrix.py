"""A11 weight/normalize matrix and P1 band-selection-by-label."""

import numpy as np
import pandas as pd
import pytest


def test_hist_weight_field_matrix():
    from raster2dggs_spark.operators.aggregates import hist_weight_field

    assert hist_weight_field("count", "none") == "counts"
    assert hist_weight_field("count", "valid_overlap") == "count_frac"
    assert hist_weight_field("area", "none") == "area"
    assert hist_weight_field("area", "cell_area") == "area_frac"
    assert hist_weight_field("area", "valid_overlap") == "area_share"
    with pytest.raises(ValueError, match="density"):
        hist_weight_field("count", "cell_area")


def test_hist_normalize_cell_area_rhp(spark):
    from raster2dggs_spark.operators.aggregates import hist_normalize_cell_area
    from raster2dggs_spark.dggs import rhplib

    df = spark.createDataFrame(
        pd.DataFrame({"cell": [1, 2], "weight": [1e9, 2e9]}),
        "cell long, weight double",
    )
    out = hist_normalize_cell_area(df, res=3, dggs="rhp").toPandas()
    a = rhplib.cell_area_m2(3)
    assert np.allclose(sorted(out["area_frac"]), [1e9 / a, 2e9 / a])


def test_hist_normalize_cell_area_hex7(spark):
    from raster2dggs_spark.operators.aggregates import hist_normalize_cell_area
    from raster2dggs_spark.dggs import h3lib

    cells = h3lib.latlng_to_cell(np.array([5.0, 100.0]), np.array([10.0, -40.0]), 5)
    df = spark.createDataFrame(
        pd.DataFrame({"cell": cells, "weight": [1e8, 1e8]}),
        "cell long, weight double",
    )
    out = hist_normalize_cell_area(df, res=5, dggs="hex7").toPandas()
    exp = 1e8 / h3lib.cell_area_m2(cells)
    assert np.allclose(np.sort(out["area_frac"]), np.sort(exp))


def test_hist_normalize_cell_area_every_grid(spark):
    """Round 5: CELL_AREA normalization works on EVERY grid (the
    reference supports it grid-generically, histogram.py:135-151) with
    exact per-cell areas — spherical excess on great-circle-edged
    grids, closed-form rectangles on geohash/maidenhead."""
    from raster2dggs_spark.operators.aggregates import hist_normalize_cell_area
    from raster2dggs_spark.dggs import (
        a5lib, geohashlib, maidenheadlib, s2lib,
    )
    from raster2dggs_spark.dggs.rhombuslib import I4R

    lon = np.array([5.0, 100.0, -170.0])
    lat = np.array([10.0, -40.0, 75.0])
    for dggs, lib, res in [("s2", s2lib, 8), ("geohash", geohashlib, 4),
                           ("maidenhead", maidenheadlib, 2),
                           ("a5", a5lib, 7), ("i4r", I4R, 8)]:
        cells = lib.lonlat_to_cell(lon, lat, res)
        df = spark.createDataFrame(
            pd.DataFrame({"cell": cells, "weight": [1e8, 2e8, 3e8]}),
            "cell long, weight double",
        )
        out = hist_normalize_cell_area(df, res=res, dggs=dggs).toPandas()
        exp = np.array([1e8, 2e8, 3e8]) / lib.cell_area_m2(cells)
        assert np.allclose(np.sort(out["area_frac"]), np.sort(exp)), dggs


def test_band_selection_by_label(spark):
    from raster2dggs_spark.operators.indexing import (
        index_point_agg, pixel_cells, resolve_bands,
    )
    from raster2dggs_spark.sources import images_spark_df

    # unit semantics
    assert resolve_bands(None, None, 3) == [1, 2, 3]
    assert resolve_bands([2, 1, 2], None, 3) == [2, 1]
    assert resolve_bands(["nir", "red"], ["red", "green", "blue", "nir"], 4) == [4, 1]
    assert resolve_bands(["band_2"], None, 3) == [2]
    with pytest.raises(ValueError, match="not found"):
        resolve_bands(["swir"], ["red", "green"], 2)
    assert resolve_bands([1, 9], None, 3) == [1]  # heterogeneity: drop OOR

    # end to end: selecting 'nir' from the multiband scenario equals
    # selecting band 4 by index
    imgs = images_spark_df(spark, 12, seed=42,
                           scenarios=("multiband_nodata",),
                           size_range=(8, 12))
    by_label = index_point_agg(imgs, res=5, bands=["nir"], n_bands=1,
                               agg="mean").toPandas()
    by_index = index_point_agg(imgs, res=5, bands=[4], n_bands=1,
                               agg="mean").toPandas()
    a = by_label.sort_values("cell").reset_index(drop=True)
    b = by_index.sort_values("cell").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_point_histogram_multiband_one_pass(spark):
    """--point histogram with a band LIST: one struct per band (ref
    common.py:503-512), single decode pass; each band's struct equals
    the single-band run's."""
    from raster2dggs_spark.api import index_raster
    from raster2dggs_spark.sources import images_spark_df

    imgs = images_spark_df(spark, 4, seed=19, scenarios=("multiband_nodata",),
                           size_range=(10, 12))
    multi = index_raster(imgs, resolution=6, transfer="point",
                         agg="histogram", hist_width=20.0, band=[1, 3],
                         raw_ids=True).toPandas()
    assert {"band_1", "band_3"} <= set(multi.columns)
    multi = multi.set_index("cell").sort_index()

    def norm(s):
        if s is None or (isinstance(s, float)):
            return None
        d = s.asDict() if hasattr(s, "asDict") else dict(s)
        w = next(v for k, v in d.items() if k not in ("left", "right"))
        return (tuple(d["left"]), tuple(d["right"]), tuple(w))

    for b in (1, 3):
        single = index_raster(imgs, resolution=6, transfer="point",
                              agg="histogram", hist_width=20.0, band=b,
                              raw_ids=True).toPandas().set_index("cell")
        got = multi[f"band_{b}"].map(norm).dropna()
        exp = single[f"band_{b}"].map(norm)
        # single-band run contains exactly the cells where band b has
        # valid pixels; multi pads the union with nulls
        assert got.sort_index().equals(exp.sort_index())
