"""Compaction (A16): uniform regions roll up; round-trip conservation.

Mirrors the reference's compaction contract (rasterindexer.py:474-513):
a parent replaces its children iff all children present and values
uniform; mixed regions stay at full res."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def test_compact_uniform_rolls_up(spark):
    from raster2dggs_spark.operators.compaction import compact_cells, uncompact_cells
    from raster2dggs_spark.dggs import h3lib

    # build: all res-9 children of two res-7 cells; one uniform, one mixed
    base = h3lib.latlng_to_cell(np.array([10.0, 12.0]), np.array([45.0, 46.0]), 7)
    rows = []
    for which, cell7 in enumerate(base):
        # enumerate all 49 res-9 descendants by digit arithmetic
        u = np.uint64(cell7)
        u = (u & ~(np.uint64(0xF) << np.uint64(52))) | (np.uint64(9) << np.uint64(52))
        for d8 in range(7):
            for d9 in range(7):
                c = u & ~(np.uint64(7) << np.uint64(3 * (15 - 8)))
                c |= np.uint64(d8) << np.uint64(3 * (15 - 8))
                c = c & ~(np.uint64(7) << np.uint64(3 * (15 - 9)))
                c |= np.uint64(d9) << np.uint64(3 * (15 - 9))
                val = 42.0 if which == 0 else float(d8 * 7 + d9)
                rows.append((np.int64(c), val))
    pdf = pd.DataFrame(rows, columns=["cell", "v"])
    sdf = spark.createDataFrame(pdf)
    out = compact_cells(sdf, ["v"], res=9, min_res=7).toPandas()
    from raster2dggs_spark.dggs import h3lib as h3

    res_counts = pd.Series(h3.get_resolution(out["cell"].values)).value_counts()
    # uniform subtree collapses to a single res-7 cell; mixed stays at 9
    assert res_counts.get(7, 0) == 1
    assert res_counts.get(9, 0) == 49
    assert len(out) == 50
    # values preserved
    assert (out.loc[h3.get_resolution(out["cell"].values) == 7, "v"] == 42.0).all()

    # round-trip: uncompact reproduces the original (cell, value) set
    back = uncompact_cells(spark.createDataFrame(out), res=9).toPandas()
    a = set(map(tuple, back[["cell", "v"]].itertuples(index=False)))
    b = set(map(tuple, pdf.itertuples(index=False)))
    assert a == b


def test_compact_multi_level(spark):
    from raster2dggs_spark.operators.compaction import compact_cells
    from raster2dggs_spark.dggs import h3lib

    # all 343 res-9 descendants of one res-6 cell, all uniform ->
    # compacts through two levels to the single res-6 cell
    cell6 = int(h3lib.latlng_to_cell(np.array([-70.0]), np.array([-30.0]), 6)[0])
    u = np.uint64(cell6)
    u = (u & ~(np.uint64(0xF) << np.uint64(52))) | (np.uint64(9) << np.uint64(52))
    cells = []
    for d7 in range(7):
        for d8 in range(7):
            for d9 in range(7):
                c = u
                for rr, d in ((7, d7), (8, d8), (9, d9)):
                    sh = np.uint64(3 * (15 - rr))
                    c = (c & ~(np.uint64(7) << sh)) | (np.uint64(d) << sh)
                cells.append(np.int64(c))
    sdf = spark.createDataFrame(pd.DataFrame({"cell": cells, "v": 1.0}))
    out = compact_cells(sdf, ["v"], res=9, min_res=0).toPandas()
    assert len(out) == 1
    assert int(out["cell"].iloc[0]) == int(
        h3lib.cell_to_parent(np.array([cells[0]]), 6)[0]
    )


def test_compact_s2_roundtrip(spark):
    """A16 on the S2 grid: a complete uniform 4-ary subtree rolls up; a
    mixed one stays; uncompact round-trips exactly."""
    from raster2dggs_spark.dggs import s2lib
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    base = s2lib.lonlat_to_cell(np.array([10.0, 40.0]),
                                np.array([45.0, -20.0]), 10)
    rows = []
    for which, c10 in enumerate(base):
        grand = s2lib.cell_to_children(np.array([c10], dtype=np.int64), 12)
        for i, g in enumerate(grand.tolist()):
            rows.append((g, 7.0 if which == 0 else float(i)))
    pdf = pd.DataFrame(rows, columns=["cell", "v"])
    out = compact_cells(spark.createDataFrame(pdf), ["v"], res=12,
                        min_res=10, dggs="s2").toPandas()
    lv = s2lib.cell_level(out["cell"].values)
    counts = pd.Series(lv).value_counts()
    assert counts.get(10, 0) == 1      # uniform subtree -> one level-10 cell
    assert counts.get(12, 0) == 16     # mixed subtree untouched
    assert len(out) == 17
    back = uncompact_cells(spark.createDataFrame(out), res=12,
                           dggs="s2").toPandas()
    assert (set(map(tuple, back[["cell", "v"]].itertuples(index=False)))
            == set(map(tuple, pdf.itertuples(index=False))))


def test_overlay_mass_conserved_across_antimeridian(spark):
    """F14 for the overlay transfer: a seam-straddling tile's mass sum
    over cells equals the raster total exactly (the coverage partition
    cannot drop far-seam subsamples)."""
    from raster2dggs_spark.codecs import average_hash64, encode_image
    from raster2dggs_spark.operators.overlay import overlay_agg
    from raster2dggs_spark.sources.images import IMAGE_SCHEMA

    w, h = 30, 20
    arr = (np.arange(h * w, dtype=np.float32) % 97).reshape(1, h, w)
    tile = {
        "image_id": "am", "bytes": encode_image(arr, "raw"),
        "w": w, "h": h, "fmt": "raw", "caption": "am",
        "phash": int(average_hash64(arr[0])),
        "affine_a": 0.04, "affine_b": 0.0, "affine_c": 179.4,
        "affine_d": 0.0, "affine_e": -0.04, "affine_f": 3.0,
        "crs": "EPSG:4326", "nodata": None, "bands": 1,
        "band_names": None,
    }
    imgs = spark.createDataFrame(pd.DataFrame([tile]), IMAGE_SCHEMA)
    out = overlay_agg(imgs, res=6, op="mass_sum", n_bands=1).toPandas()
    assert out["band_1"].sum() == pytest.approx(float(arr.sum()), rel=1e-9)


@pytest.mark.parametrize("dggs,res,fan", [("geohash", 6, 32), ("rhp", 8, 9)])
def test_compact_geohash_rhp_roundtrip(spark, dggs, res, fan):
    """A16 extended round 4 beyond hex7/s2: geohash (32-ary prefix
    tree) and rHEALPix (9-ary) compact via the same native-arithmetic
    parent loop; a complete uniform subtree rolls up two levels, a
    mixed one stays, uncompact round-trips exactly."""
    from raster2dggs_spark.dggs import cover, grid_lib
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    base = cover.encode(np.array([10.0, 40.0]), np.array([45.0, -20.0]),
                        res - 2, dggs)
    rows = []
    for which, c in enumerate(np.unique(base)):
        grand = grid_lib(dggs).cell_to_children(
            np.array([c], dtype=np.int64), res)
        for i, g in enumerate(grand.tolist()):
            rows.append((g, 7.0 if which == 0 else float(i)))
    pdf = pd.DataFrame(rows, columns=["cell", "v"])
    out = compact_cells(spark.createDataFrame(pdf), ["v"], res=res,
                        min_res=res - 2, dggs=dggs).toPandas()
    lv = (out["cell"].values & 0xF)
    counts = pd.Series(lv).value_counts()
    assert counts.get(res - 2, 0) == 1       # uniform subtree -> one cell
    assert counts.get(res, 0) == fan * fan   # mixed subtree untouched
    assert len(out) == fan * fan + 1
    back = uncompact_cells(spark.createDataFrame(out), res=res,
                           dggs=dggs).toPandas()
    assert (set(map(tuple, back[["cell", "v"]].itertuples(index=False)))
            == set(map(tuple, pdf.itertuples(index=False))))


def test_compact_maidenhead_roundtrip(spark):
    """Maidenhead's mixed-radix levels compact like any nested grid (the
    expected count per level is the ``n_cells`` ratio, 10^2 squares per
    field here); a mixed family stays; uncompact round-trips exactly."""
    from raster2dggs_spark.dggs import maidenheadlib
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    base = np.unique(maidenheadlib.lonlat_to_cell(
        np.array([10.0, 120.0]), np.array([45.0, -20.0]), 1))
    rows = []
    for which, c in enumerate(base):
        kids = maidenheadlib.cell_to_children(np.array([c]), 2)
        for i, k in enumerate(kids.tolist()):
            rows.append((k, 7.0 if which == 0 else float(i)))
    pdf = pd.DataFrame(rows, columns=["cell", "v"])
    out = compact_cells(spark.createDataFrame(pdf), ["v"], res=2,
                        min_res=1, dggs="maidenhead").toPandas()
    counts = pd.Series(out["cell"].values & 0xF).value_counts()
    assert counts.get(1, 0) == 1
    assert counts.get(2, 0) == 100
    back = uncompact_cells(spark.createDataFrame(out), res=2,
                           dggs="maidenhead").toPandas()
    assert (set(map(tuple, back[["cell", "v"]].itertuples(index=False)))
            == set(map(tuple, pdf.itertuples(index=False))))
