"""Cross-grid regridding (operators/regrid.py): centroid assignment vs
a single-node replay, exact mass conservation under both modes and any
oversample depth, the hex7 children refinement, and error paths."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.operators.regrid import regrid_cells


def _hex7_layer(spark, n=200, res=7):
    """Deterministic hex7 cell layer with a value per cell."""
    rng = np.random.default_rng(5)
    lon = rng.uniform(-20.0, 20.0, n)
    lat = rng.uniform(30.0, 50.0, n)
    cells = np.unique(cover.encode(lon, lat, res, "hex7"))
    vals = (cells % 89).astype(np.float64)
    return (
        spark.createDataFrame(
            [(int(c), float(v)) for c, v in zip(cells, vals)],
            "cell long, v double"),
        cells, vals,
    )


def test_centroid_regrid_matches_replay(spark):
    """hex7 res 7 -> s2 res 8: replay centroid->encode->weighted mean
    in plain NumPy and compare exactly (rounded 1e-9)."""
    from raster2dggs_spark.dggs import h3lib

    df, cells, vals = _hex7_layer(spark)
    out = {r["cell"]: (r["n_src"], r["w_sum"], r["v"])
           for r in regrid_cells(df, ["v"], "hex7", "s2", 8).collect()}

    w = h3lib.cell_area_m2(cells)
    lon, lat = cover.cell_center(cells, "hex7")
    dst = cover.encode(lon, lat, 8, "s2")
    exp = {}
    for d, wi, vi in zip(dst, w, vals):
        n, ws, wv = exp.get(int(d), (0, 0.0, 0.0))
        exp[int(d)] = (n + 1, ws + wi, wv + wi * vi)
    assert set(out) == set(exp)
    for d, (n, ws, wv) in exp.items():
        gn, gws, gv = out[d]
        assert gn == n
        assert gws == pytest.approx(ws, rel=1e-12)
        assert gv == pytest.approx(wv / ws, rel=1e-12)


@pytest.mark.parametrize("oversample", [0, 1, 2])
def test_mass_conservation(spark, oversample):
    """Σ w·v and Σ w are conserved exactly for every oversample depth
    (each contribution lands in exactly one destination cell)."""
    df, cells, vals = _hex7_layer(spark, n=80)
    from raster2dggs_spark.dggs import h3lib

    w = h3lib.cell_area_m2(cells)
    out = regrid_cells(df, ["v"], "hex7", "s2", 6, oversample=oversample)
    got = out.agg(F.sum("w_sum").alias("w"),
                  F.sum(F.col("v") * F.col("w_sum")).alias("m"),
                  F.sum("n_src").alias("n")).collect()[0]
    assert got["w"] == pytest.approx(float(w.sum()), rel=1e-9)
    assert got["m"] == pytest.approx(float((w * vals).sum()), rel=1e-9)
    assert got["n"] == len(cells) * 7 ** oversample


def test_sum_mode_conserves_totals(spark):
    """mode='sum' (extensive quantities): destination total equals the
    source total exactly."""
    df, cells, vals = _hex7_layer(spark, n=120)
    out = regrid_cells(df, ["v"], "hex7", "geohash", 2, mode="sum")
    got = out.agg(F.sum("v")).collect()[0][0]
    assert got == pytest.approx(float(vals.sum()), rel=1e-12)


@pytest.mark.parametrize("src,res,fan", [("s2", 9, 4), ("rhp", 5, 9)])
def test_oversample_sum_mode_conserves_totals_any_nested_grid(
        spark, src, res, fan):
    """oversample works on every grid whose children partition their
    parent: at oversample=2 each source cell splits into fan^2 children
    and the sum-mode total, the contributed area and the contribution
    count are all conserved."""
    from raster2dggs_spark.dggs import grid_lib

    rng = np.random.default_rng(11)
    cells = np.unique(cover.encode(rng.uniform(-20.0, 20.0, 60),
                                   rng.uniform(30.0, 50.0, 60), res, src))
    vals = (cells % 89).astype(np.float64) + 1.0
    df = spark.createDataFrame(
        [(int(c), float(v)) for c, v in zip(cells, vals)],
        "cell long, v double")
    out = regrid_cells(df, ["v"], src, "hex7", 4, mode="sum", oversample=2)
    got = out.agg(F.sum("v").alias("v"), F.sum("w_sum").alias("w"),
                  F.sum("n_src").alias("n")).collect()[0]
    assert got["v"] == pytest.approx(float(vals.sum()), rel=1e-12)
    area = grid_lib(src).cell_area_m2(cells)
    assert got["w"] == pytest.approx(float(area.sum()), rel=1e-9)
    assert got["n"] == len(cells) * fan ** 2


def test_oversample_refines_boundary_assignment(spark):
    """With src pitch comparable to dst pitch, oversampling must move
    SOME area across destination cells (children of a boundary cell
    split between destinations) while conserving the total."""
    df, cells, _ = _hex7_layer(spark, n=150, res=5)
    a = {r["cell"]: r["w_sum"]
         for r in regrid_cells(df, ["v"], "hex7", "s2", 6).collect()}
    b = {r["cell"]: r["w_sum"]
         for r in regrid_cells(df, ["v"], "hex7", "s2", 6,
                               oversample=2).collect()}
    assert sum(a.values()) == pytest.approx(sum(b.values()), rel=1e-9)
    assert set(b) >= set(a)   # refinement only ADDS boundary cells
    moved = sum(abs(b.get(k, 0.0) - a.get(k, 0.0)) for k in set(a) | set(b))
    assert moved > 0.0


def test_nan_values_drop_weight_not_row(spark):
    src = spark.createDataFrame(
        [(int(c), v) for c, v in zip(
            cover.encode(np.array([10.0, 10.1]), np.array([45.0, 45.05]),
                         5, "geohash"), [float("nan"), 3.0])],
        "cell long, v double")
    out = regrid_cells(src, ["v"], "geohash", "maidenhead", 1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_src"] == 2          # both contribute presence/area
    assert r["v"] == pytest.approx(3.0)  # NaN contributes no value weight


def test_error_paths(spark):
    df = spark.createDataFrame([(1, 1.0)], "cell long, v double")
    with pytest.raises(ValueError, match="mode"):
        regrid_cells(df, ["v"], "hex7", "s2", 5, mode="max")
    with pytest.raises(ValueError, match="oversample"):
        regrid_cells(df, ["v"], "i3h", "hex7", 5, oversample=1)
    with pytest.raises(ValueError):
        regrid_cells(df, ["v"], "h3", "s2", 5)


def test_pyramid_rollup_levels_match_direct(spark):
    """Each pyramid level (tree-reduced from the previous level) equals
    the direct base->level aggregation; totals are conserved."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from raster2dggs_spark.dggs import geohashlib
    from raster2dggs_spark.operators.regrid import pyramid_rollup

    rng = np.random.default_rng(5)
    n = 2000
    lon = rng.uniform(-170, 170, n)
    lat = rng.uniform(-80, 80, n)
    v = rng.integers(0, 100, n).astype(np.float64)
    cells = geohashlib.lonlat_to_cell(lon, lat, 5)
    df = spark.createDataFrame(
        pd.DataFrame({"cell": cells.astype(np.int64), "v": v}))
    out = pyramid_rollup(df, "v", from_res=5, to_res=2,
                         dggs="geohash").toPandas()
    assert sorted(out["res"].unique()) == [2, 3, 4, 5]
    for r in (2, 3, 4, 5):
        lv = out[out["res"] == r]
        # conservation at every level
        assert lv["v_count"].sum() == n
        assert abs(lv["v_sum"].sum() - v.sum()) < 1e-6
        # direct recomputation from base points
        direct = pd.DataFrame({
            "cell": geohashlib.lonlat_to_cell(lon, lat, r), "v": v
        }).groupby("cell")["v"].agg(["sum", "count", "min", "max"])
        got = lv.set_index("cell")
        assert set(got.index) == set(direct.index)
        assert np.allclose(got["v_sum"].loc[direct.index], direct["sum"])
        assert (got["v_count"].loc[direct.index]
                == direct["count"]).all()
        assert np.allclose(got["v_min"].loc[direct.index], direct["min"])
        assert np.allclose(got["v_max"].loc[direct.index], direct["max"])
        assert np.allclose(got["v_mean"].loc[direct.index],
                           direct["sum"] / direct["count"])


def test_rasterize_cells_plumbing_and_nulls(spark):
    """rasterize_cells: every pixel encodes to the cell its centre
    falls in (checked against a direct vectorized encode of the same
    centres), values join correctly, uncovered cells yield NULL, and
    the string-id (geohash) schema path works."""
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.dggs import quadkeylib, geohashlib
    from raster2dggs_spark.operators.regrid import rasterize_cells

    # quadkey: 4x4 tile block at level 3, one tile left out -> NULLs
    txs, tys = np.meshgrid(np.arange(2, 6), np.arange(1, 5))
    txs, tys = txs.ravel(), tys.ravel()
    keep = ~((txs == 3) & (tys == 2))
    cells = quadkeylib.tile_to_cell(txs[keep], tys[keep], 3)
    vals = (txs[keep] * 100 + tys[keep]).astype("int64")
    df = spark.createDataFrame(pd.DataFrame({"cell": cells, "v": vals}))
    L = 20037508.342789244
    ts = 2.0 * L / 8.0
    bbox = (2 * ts - L, L - 5 * ts, 6 * ts - L, L - 1 * ts)
    out = rasterize_cells(df, ["v"], bbox, 8, 8, 3,
                          dggs="quadkey", crs="EPSG:3857").toPandas()
    assert len(out) == 64
    for r in out.itertuples():
        tx,ty = 2 + r.px // 2, 1 + r.py // 2
        exp = quadkeylib.tile_to_cell(np.array([tx]), np.array([ty]), 3)[0]
        assert r.cell == exp
        if tx == 3 and ty == 2:
            assert pd.isna(r.v)
        else:
            assert r.v == tx * 100 + ty
    # geohash backend: 4326 affine, packed int ids, value join lands
    lon = np.array([0.5, 10.5]); lat = np.array([0.5, 10.5])
    gcells = geohashlib.lonlat_to_cell(lon, lat, 2)
    gdf = spark.createDataFrame(
        pd.DataFrame({"cell": gcells, "v": [7, 9]}))
    gout = rasterize_cells(gdf, ["v"], (0.0, 0.0, 12.0, 12.0), 3, 3, 2,
                           dggs="geohash", crs="EPSG:4326").toPandas()
    exp0 = geohashlib.lonlat_to_cell(np.array([2.0]), np.array([2.0]), 2)[0]
    got = {(r.px, r.py): (r.cell, r.v) for r in gout.itertuples()}
    assert got[(0, 2)] == (exp0, 7)  # centre (2,2) in gh cell of (0.5,0.5)


def test_pansharpen_brovey_exact(spark):
    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.regrid import pansharpen_cells

    # one MS res-3 cell (tile 2,3) with its 4 res-4 children
    ms_cell = quadkeylib.tile_to_cell(np.array([2]), np.array([3]), 3)
    ms = spark.createDataFrame(pd.DataFrame(
        {"cell": ms_cell, "b1": [10.0], "b2": [20.0], "b3": [30.0]}))
    ptx = np.array([4, 5, 4, 5]); pty = np.array([6, 6, 7, 7])
    pan = spark.createDataFrame(pd.DataFrame(
        {"cell": quadkeylib.tile_to_cell(ptx, pty, 4),
         "pan": [40.0, 10.0, 20.0, 0.0]}))
    out = pansharpen_cells(ms, pan, ms_res=3, pan_res=4).toPandas()
    assert len(out) == 4
    # intensity = (10+20+30)/3 = 20 -> ratio = pan/20
    got = dict(zip(out.pan, out.sharp_b1))
    assert got[40.0] == pytest.approx(10.0 * 2.0)
    assert got[10.0] == pytest.approx(5.0)
    assert got[0.0] == pytest.approx(0.0)
    assert dict(zip(out.pan, out.sharp_b3))[40.0] == pytest.approx(60.0)


def test_pansharpen_weighted_and_orphans(spark):
    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.regrid import pansharpen_cells

    ms = spark.createDataFrame(pd.DataFrame(
        {"cell": quadkeylib.tile_to_cell(np.array([0]), np.array([0]), 2),
         "b1": [8.0], "b2": [4.0], "b3": [0.0]}))
    # one child of (0,0), one orphan pan cell under tile (3,3)
    pan = spark.createDataFrame(pd.DataFrame(
        {"cell": quadkeylib.tile_to_cell(np.array([1, 7]),
                                         np.array([0, 7]), 3),
         "pan": [6.0, 9.0]}))
    out = pansharpen_cells(ms, pan, ms_res=2, pan_res=3,
                           weights=(0.5, 0.25, 0.25)).toPandas()
    assert len(out) == 1  # orphan dropped (inner join)
    # intensity = .5*8 + .25*4 + .25*0 = 5 -> ratio 1.2
    assert out.sharp_b1.iloc[0] == pytest.approx(9.6)
    assert out.sharp_b2.iloc[0] == pytest.approx(4.8)


def test_pansharpen_null_intensity(spark):
    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.regrid import pansharpen_cells

    ms = spark.createDataFrame(pd.DataFrame(
        {"cell": quadkeylib.tile_to_cell(np.array([0]), np.array([0]), 2),
         "b1": [0.0], "b2": [0.0], "b3": [0.0]}))
    pan = spark.createDataFrame(pd.DataFrame(
        {"cell": quadkeylib.tile_to_cell(np.array([0]), np.array([0]), 3),
         "pan": [5.0]}))
    out = pansharpen_cells(ms, pan, ms_res=2, pan_res=3).toPandas()
    assert len(out) == 1 and pd.isna(out.sharp_b1.iloc[0])
