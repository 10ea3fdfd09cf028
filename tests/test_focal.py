"""Focal map algebra (operators/focal.py): exact lattice windows vs a
brute-force pandas replay, and the blocked metric self-join vs a
brute-force haversine — including the latitude-distortion danger zones
(antimeridian, near-pole)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster2dggs_spark.operators.focal import focal_lattice, focal_metric

EARTH_R = 6_371_007.1809


def _cells_pdf(prec=3, n=300, seed=3):
    from raster2dggs_spark.dggs import geohashlib

    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-89, 89, n)
    # force antimeridian + near-pole coverage
    lon[:30] = rng.uniform(178, 180, 30)
    lon[30:60] = rng.uniform(-180, -178, 30)
    lat[:30] = rng.uniform(60, 70, 30)
    lat[60:90] = rng.uniform(85, 89, 30)
    cells = geohashlib.lonlat_to_cell(lon, lat, prec)
    df = pd.DataFrame({"cell": cells, "v": rng.uniform(0, 100, n).round(3)})
    return df.groupby("cell", as_index=False).agg(v=("v", "mean"))


def _lattice_indices(cells, prec):
    nbits = 5 * prec
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    bits = cells.astype(np.uint64) >> np.uint64(4)
    gx = np.zeros(len(cells), dtype=np.int64)
    gy = np.zeros(len(cells), dtype=np.int64)
    for k in range(nbits):
        b = ((bits >> np.uint64(nbits - 1 - k)) & np.uint64(1)).astype(np.int64)
        if k % 2 == 0:
            gx |= b << (nlon - 1 - k // 2)
        else:
            gy |= b << (nlat - 1 - k // 2)
    return gx, gy, 1 << nlon, 1 << nlat


@pytest.mark.parametrize("k", [1, 2])
def test_focal_lattice_matches_bruteforce(spark, k):
    prec = 3
    pdf = _cells_pdf(prec)
    df = spark.createDataFrame(pdf)
    out = focal_lattice(df, ["v"], k=k).toPandas()

    gx, gy, wlon, wlat = _lattice_indices(pdf["cell"].values, prec)
    exp = {}
    for i in range(len(pdf)):
        dx = np.abs((gx - gx[i] + wlon // 2) % wlon - wlon // 2)
        m = (dx <= k) & (np.abs(gy - gy[i]) <= k)
        exp[int(pdf["cell"].values[i])] = (pdf["v"].values[m].mean(),
                                           int(m.sum()))
    assert len(out) == len(pdf)
    for r in out.itertuples(index=False):
        ev, en = exp[int(r.cell)]
        assert r.n_window == en
        assert abs(r.focal_v - ev) < 1e-9


def test_focal_lattice_count_and_errors(spark):
    pdf = _cells_pdf()
    df = spark.createDataFrame(pdf)
    out = focal_lattice(df, ["v"], k=1, agg="count").toPandas()
    assert "focal_v" not in out.columns and (out["n_window"] >= 1).all()
    with pytest.raises(ValueError, match="agg"):
        focal_lattice(df, ["v"], agg="nope").collect()
    with pytest.raises(ValueError, match="k >= 1"):
        focal_lattice(df, ["v"], k=0).collect()


def _points_pdf(n=250, seed=5):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-88, 88, n)
    lon[:25] = rng.uniform(176, 180, 25)
    lon[25:50] = rng.uniform(-180, -176, 25)
    lat[25:50] = lat[:25] = rng.uniform(55, 65, 25)  # wrap pairs same band
    lat[50:80] = rng.uniform(84, 89.5, 30)           # near-pole cluster
    return pd.DataFrame({"key": np.arange(n).astype("int64"),
                         "lon": lon, "lat": lat,
                         "v": rng.uniform(0, 10, n).round(3)})


def _brute_focal(pdf, radius_m):
    lon = np.radians(pdf["lon"].values)
    lat = np.radians(pdf["lat"].values)
    exp = {}
    for i in range(len(pdf)):
        dlat = (lat - lat[i]) / 2
        dlon = (lon - lon[i]) / 2
        a = np.sin(dlat) ** 2 + np.cos(lat[i]) * np.cos(lat) * np.sin(dlon) ** 2
        d = 2 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))
        m = np.round(d, 4) <= round(radius_m, 4)
        exp[int(pdf["key"].values[i])] = (pdf["v"].values[m].mean(),
                                          int(m.sum()))
    return exp


@pytest.mark.parametrize("radius_m", [300_000.0, 1_200_000.0])
def test_focal_metric_matches_bruteforce(spark, radius_m):
    pdf = _points_pdf()
    df = spark.createDataFrame(pdf)
    out = focal_metric(df, ["v"], radius_m).toPandas()
    exp = _brute_focal(pdf, radius_m)
    assert len(out) == len(pdf)
    for r in out.itertuples(index=False):
        ev, en = exp[int(r.key)]
        assert r.n_window == en, f"key {r.key}: {r.n_window} != {en}"
        assert abs(r.focal_v - ev) < 1e-9


def test_focal_metric_isolated_point_is_self(spark):
    pdf = pd.DataFrame({"key": [1, 2], "lon": [0.0, 90.0],
                        "lat": [0.0, 0.0], "v": [7.0, 9.0]})
    out = focal_metric(spark.createDataFrame(pdf), ["v"], 1000.0).toPandas()
    got = {int(r.key): (r.focal_v, r.n_window)
           for r in out.itertuples(index=False)}
    assert got == {1: (7.0, 1), 2: (9.0, 1)}


def test_focal_lattice_quadkey_wraps_lon(spark):
    """Quadkey lattice focal: tiles in columns 0 and n-1 of the same
    row are Chebyshev-1 neighbors (lon wraps), rows clip."""
    import numpy as np

    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.focal import focal_lattice

    lvl = 5
    n = 1 << lvl
    cells = quadkeylib.tile_to_cell(
        np.array([0, n - 1, 5]), np.array([7, 7, 20]), lvl)
    df = spark.createDataFrame(
        [(int(c), float(v)) for c, v in zip(cells, [1.0, 3.0, 10.0])],
        "cell long, v double")
    out = {(r["gx"], r["gy"]): r for r in
           focal_lattice(df, ["v"], k=1, keep_indices=True,
                         dggs="quadkey").collect()}
    assert out[(0, 7)]["n_window"] == 2          # wraps to gx = n-1
    assert out[(0, 7)]["focal_v"] == 2.0         # mean(1, 3)
    assert out[(n - 1, 7)]["n_window"] == 2
    assert out[(5, 20)]["n_window"] == 1         # isolated


def test_morans_i_checkerboard_and_blocks(spark):
    """Anselin LISA sanity on constructed geohash lattices: a
    checkerboard is maximally dispersed (global I < 0, every local_i
    with full windows negative); two constant half-planes are clustered
    (global I > 0); values cross-checked against a direct numpy
    reference on the same present-neighbor weights."""
    from raster2dggs_spark.operators.focal import (
        morans_i_local, morans_i_global)
    from raster2dggs_spark.dggs import geohashlib

    prec = 3
    # an 8x8 block of adjacent geohash cells from a lon/lat window
    lons = 10.05 + (360.0 / 256.0) * np.arange(8)   # prec-3 lon span
    lats = 40.05 + (180.0 / 128.0) * np.arange(8)   # prec-3 lat span
    glon, glat = np.meshgrid(lons, lats)
    cells = geohashlib.lonlat_to_cell(glon.ravel(), glat.ravel(), prec)
    assert len(np.unique(cells)) == 64
    gx, gy, _, _ = _lattice_indices(cells, prec)

    def run(values):
        df = spark.createDataFrame(
            pd.DataFrame({"cell": cells.astype(np.int64), "v": values}))
        loc = morans_i_local(df, "v", dggs="geohash").toPandas()
        glob = morans_i_global(df, "v", dggs="geohash").toPandas()
        return loc, float(glob["moran_i"].iloc[0])

    # numpy reference
    def ref_local(values):
        mu = values.mean()
        m2 = (values * values).mean() - mu * mu
        z = values - mu
        out = {}
        for i in range(len(cells)):
            nb = [j for j in range(len(cells))
                  if j != i and abs(gx[j] - gx[i]) <= 1
                  and abs(gy[j] - gy[i]) <= 1]
            if nb:
                lag = float(np.mean(z[nb]))
                out[int(cells[i])] = z[i] * lag / m2
        return out

    checker = ((gx + gy) % 2).astype(np.float64) * 10.0
    loc, I = run(checker)
    ref = ref_local(checker)
    got = dict(zip(loc["cell"].astype(int), loc["local_i"]))
    assert set(got) == set(ref)
    for c, v in ref.items():
        assert abs(got[c] - v) < 1e-9
    # queen weights: the 4 diagonal neighbors share the checker color,
    # so interior (full-window) lag is EXACTLY zero and global I is
    # mildly negative (edge cells only)
    assert I < 0
    interior = loc[(loc["n_neighbors"] == 8)]
    assert len(interior) == 36
    assert (interior["local_i"].abs() < 1e-12).all()

    halves = (gx >= np.median(gx)).astype(np.float64) * 10.0
    _, I2 = run(halves)
    assert I2 > 0.5  # strong clustering


def test_getis_gi_star_matches_numpy(spark):
    """Gi* against a direct numpy computation with binary queen+self
    weights; a planted hot block scores strongly positive."""
    from raster2dggs_spark.operators.focal import getis_ord_gi_star
    from raster2dggs_spark.dggs import geohashlib

    prec = 3
    lons = 10.05 + (360.0 / 256.0) * np.arange(8)
    lats = 40.05 + (180.0 / 128.0) * np.arange(8)
    glon, glat = np.meshgrid(lons, lats)
    cells = geohashlib.lonlat_to_cell(glon.ravel(), glat.ravel(), prec)
    gx, gy, _, _ = _lattice_indices(cells, prec)
    rng = np.random.default_rng(3)
    v = rng.uniform(0, 10, 64)
    hot = (gx >= gx.min() + 5) & (gy >= gy.min() + 5)
    v[hot] += 100.0
    df = spark.createDataFrame(
        pd.DataFrame({"cell": cells.astype(np.int64), "v": v}))
    out = getis_ord_gi_star(df, "v", dggs="geohash").toPandas()
    n, mu = 64, v.mean()
    s = np.sqrt((v * v).mean() - mu * mu)
    got = out.set_index(out["cell"].astype(int))
    for i in range(64):
        win = [j for j in range(64)
               if abs(gx[j] - gx[i]) <= 1 and abs(gy[j] - gy[i]) <= 1]
        w = len(win)
        ref = (v[win].sum() - mu * w) / (
            s * np.sqrt((n * w - w * w) / (n - 1)))
        assert abs(got.loc[int(cells[i]), "gi_star"] - ref) < 1e-9
    # the hot block's interior is a significant hot spot
    hot_cells = set(cells[hot].astype(int))
    assert (got.loc[list(hot_cells), "gi_star"] > 2.0).all()


def test_emerging_hotspots_planted_trend(spark):
    """A block whose values grow monotonically across bins scores the
    maximal Mann-Kendall S (T*(T-1)/2) and classifies intensifying; a
    shrinking block classifies diminishing; flat background is stable."""
    from raster2dggs_spark.operators.focal import emerging_hotspots
    from raster2dggs_spark.dggs import geohashlib

    prec = 3
    lons = 10.05 + (360.0 / 256.0) * np.arange(8)
    lats = 40.05 + (180.0 / 128.0) * np.arange(8)
    glon, glat = np.meshgrid(lons, lats)
    cells = geohashlib.lonlat_to_cell(glon.ravel(), glat.ravel(), prec)
    gx, gy, _, _ = _lattice_indices(cells, prec)
    T = 5
    rows = []
    up = (gx <= gx.min() + 1) & (gy <= gy.min() + 1)
    down = (gx >= gx.max() - 1) & (gy >= gy.max() - 1)
    for t in range(T):
        v = np.full(64, 10.0)
        v[up] += 20.0 * t       # strictly growing hot corner
        v[down] += 20.0 * (T - 1 - t)   # strictly shrinking corner
        for c, vv in zip(cells, v):
            rows.append((int(c), t, float(vv)))
    df = spark.createDataFrame(rows, "cell long, tbin long, v double")
    out = emerging_hotspots(df, "v", dggs="geohash").toPandas()
    got = out.set_index(out["cell"].astype(int))
    max_s = T * (T - 1) // 2
    for c in cells[up]:
        assert got.loc[int(c), "mk_s"] == max_s
        assert got.loc[int(c), "trend"] == "intensifying"
        assert got.loc[int(c), "gi_last"] > 1.0
    for c in cells[down]:
        assert got.loc[int(c), "mk_s"] == -max_s
        assert got.loc[int(c), "trend"] == "diminishing"
    assert (got["n_bins"] == T).all()
    # far-from-both-corners background stays non-extreme
    mid = (np.abs(gx - gx.mean()) <= 1) & (np.abs(gy - gy.mean()) <= 1)
    assert (got.loc[[int(c) for c in cells[mid]], "mk_s"].abs()
            < max_s).all()


def test_zonal_geometry_vs_brute_force(spark):
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.focal import zonal_geometry

    rng = np.random.default_rng(13)
    W = H = 14
    gx = (np.arange(W * H) % W).astype(np.int64)
    gy = (np.arange(W * H) // W).astype(np.int64)
    zone = rng.integers(0, 3, W * H).astype("float64")
    zone[rng.random(W * H) < 0.1] = np.nan           # holes
    cell = quadkeylib.tile_to_cell(gx + 8, gy + 40, 7)
    pdf = pd.DataFrame({"cell": cell, "zone": zone})
    df = spark.createDataFrame(pdf).withColumn(
        "zone", F.col("zone").cast("long"))
    out = zonal_geometry(df, "zone", dggs="quadkey").toPandas()
    out = out.set_index("zone").sort_index()

    zi = np.full((H, W), -1, np.int64)
    ok = ~np.isnan(zone)
    zi[gy[ok], gx[ok]] = zone[ok].astype(np.int64)
    for zv in (0, 1, 2):
        m = zi == zv
        area = int(m.sum())
        per = 0
        ys, xs = np.nonzero(m)
        for y, x in zip(ys, xs):
            for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                ny, nx = y + dy, x + dx
                if not (0 <= ny < H and 0 <= nx < W) or not m[ny, nx]:
                    per += 1
        row = out.loc[zv]
        assert row.area == area and row.perimeter == per
        assert row.min_gx == xs.min() + 8 and row.max_gy == ys.max() + 40
        assert abs(row.centroid_gx - (xs.mean() + 8)) < 1e-9
        assert abs(row.iq - 16.0 * area / per**2) < 1e-12
