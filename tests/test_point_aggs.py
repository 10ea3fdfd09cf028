"""index_point full aggregation surface on cells (reference --agg matrix,
uniform-value exactness per tests/classes/helpers.py fixtures)."""

import numpy as np
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def uni(spark):
    from raster2dggs_spark.sources import images_spark_df

    df = images_spark_df(spark, 6, seed=31, scenarios=("uniform42",),
                         size_range=(12, 16))
    df.cache().count()
    return df


@pytest.mark.parametrize("agg", ["mean", "min", "max", "median", "mode",
                                 "majority", "sum"])
def test_uniform_value_invariants(spark, uni, agg):
    from raster2dggs_spark.operators.indexing import index_point

    out = index_point(uni, res=8, agg=agg).toPandas()
    assert len(out) > 0
    v = out["band_1"].dropna()
    if agg == "sum":
        # per-cell sum = 42 * npx -> multiples of 42
        assert (np.abs(np.round(v / 42.0) * 42.0 - v) < 1e-9).all()
    else:
        np.testing.assert_allclose(v.values, 42.0)


def test_list_agg_sorted_and_rounded(spark):
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point

    imgs = images_spark_df(spark, 4, seed=32, scenarios=("gradient",),
                           size_range=(10, 12))
    out = index_point(imgs, res=6, agg="list", decimals=0).toPandas()
    assert len(out) > 0
    for lst in out["band_1"]:
        arr = list(lst)
        assert arr == sorted(arr)
        assert all(float(x).is_integer() for x in arr)
    # conservation: total list elements == total pixels
    from raster2dggs_spark.sources import generate_images_pdf
    from raster2dggs_spark.codecs import decode_image

    pdf = generate_images_pdf(4, 32, scenarios=("gradient",), size_range=(10, 12))
    npx = sum(decode_image(b)[0].size for b in pdf["bytes"])
    assert sum(len(lst) for lst in out["band_1"]) == npx


def test_decimals_cast_to_long(spark, uni):
    from raster2dggs_spark.operators.indexing import index_point

    out = index_point(uni, res=8, agg="mean", decimals=-1)
    # reference: decimals<=0 -> integer dtype (P9)
    assert dict(out.dtypes)["band_1"] == "bigint"
    vals = out.select("band_1").dropna().distinct().collect()
    assert {r[0] for r in vals} == {40}  # 42 -> 40 at -1 decimals


def test_skew_coastline_correctness_with_salt(spark):
    # the skew fixture: many tiles into few parents; salted rollup over
    # parents must equal the unsalted rollup exactly
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.plans.skew import salted_agg

    imgs = images_spark_df(spark, 24, seed=33, scenarios=("skew_coastline",),
                           size_range=(12, 16))
    idx = index_point_agg(imgs, res=9, agg="mean").cache()
    # heavy skew: few parents
    parents = idx.select("parent").distinct().count()
    cells = idx.count()
    assert parents <= 6 and cells > 500
    plain = idx.groupBy("parent").agg(
        F.count(F.lit(1)).alias("n"), F.sum("npx").alias("px")
    ).toPandas().set_index("parent").sort_index()
    salted = salted_agg(
        idx, ["parent"], {"n": ("count", "cell"), "px": ("sum", "npx")},
        salt_parts=8, salt_from="cell",
    ).toPandas().set_index("parent").sort_index()
    import pandas as pd

    pd.testing.assert_frame_equal(plain, salted, check_like=True)


def test_multi_agg_struct_and_histogram_pack(spark, uni):
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.operators.aggregates import (
        agg_multi, hist_categorical,
    )

    px = pixel_cells(uni, res=8, keep_image_id=False)
    multi = agg_multi(px, ["parent", "cell"], ["band_1"], ["min", "max", "mean"],
                      as_struct=True)
    row = multi.first()
    assert row["band_1"]["min"] == row["band_1"]["max"] == 42.0
    h = hist_categorical(px, ["cell"], "band_1", decimals=0).collect()
    assert {r["value"] for r in h} == {42.0}
    assert all(r["weight"] >= 1 for r in h)


def test_list_agg_per_band(spark):
    """--point list emits ONE list per selected band (ref common.py:
    495-502); per-band nodata at different pixels -> differing lengths."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point

    imgs = images_spark_df(spark, 4, seed=33, scenarios=("multiband_nodata",),
                           size_range=(10, 12))
    out = index_point(imgs, res=6, agg="list").toPandas()
    for b in ("band_1", "band_2", "band_3", "band_4"):
        assert b in out.columns
        for lst in out[b]:
            assert list(lst) == sorted(lst)
    l1 = out["band_1"].map(len)
    l2 = out["band_2"].map(len)
    assert (l1 != l2).any()  # 15% holes per band at different pixels


def test_crosstab_cells_known_table(spark):
    """r.coin-style cross-tab on a hand-checkable 6-cell pair of layers:
    inner join drops cells missing from b, null classes drop from a,
    counts/weights/shares come out exactly."""
    from raster2dggs_spark.operators.aggregates import crosstab_cells

    a = spark.createDataFrame(
        [(1, 0, 2.0), (2, 0, 3.0), (3, 1, 5.0), (4, 1, 1.0),
         (5, None, 9.0), (6, 0, 4.0)],
        "cell int, class_a int, area double")
    b = spark.createDataFrame(
        [(1, 10), (2, 11), (3, 10), (5, 10), (6, 10)],
        "cell int, class_b int")  # cell 4 missing
    out = {(r.class_a, r.class_b): r
           for r in crosstab_cells(a, b, "cell", weight="area").collect()}
    # survivors: (1,0,10,w2) (2,0,11,w3) (3,1,10,w5) (6,0,10,w4); total=14
    assert set(out) == {(0, 10), (0, 11), (1, 10)}
    assert out[(0, 10)].n_cells == 2 and out[(0, 10)].joint_weight == 6.0
    assert out[(0, 11)].n_cells == 1 and out[(0, 11)].joint_weight == 3.0
    assert out[(1, 10)].n_cells == 1 and out[(1, 10)].joint_weight == 5.0
    assert abs(out[(0, 10)].share - round(6.0 / 14.0, 6)) < 1e-12
    # unweighted path: joint_weight == n_cells
    uw = {(r.class_a, r.class_b): r
          for r in crosstab_cells(a, b, "cell").collect()}
    assert all(r.joint_weight == r.n_cells for r in uw.values())
