"""Terrain derivatives (operators/terrain.py): Horn kernel pinned
against closed forms on planes, the 4326 per-row cos(lat) scale, nodata
propagation, orientation conventions, and the Spark path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from raster2dggs_spark.operators.terrain import (
    EARTH_R, M_PER_DEG, horn_derivatives, terrain_cells,
)


def _plane(h, w, sx, sy, base=0.0):
    r, c = np.mgrid[0:h, 0:w]
    return (base + sx * c + sy * r).astype(np.float64)


def test_plane_slope_exact_projected():
    """Horn is exact on a plane: z = 2*col + 3*row at 100 m pixels."""
    z = _plane(10, 12, 2.0, 3.0)
    affine = (100.0, 0, 0, 0, -100.0, 0)
    slope, aspect, hill = horn_derivatives(z, affine, "EPSG:3857")
    p, q = 2.0 / 100.0, -3.0 / 100.0  # row runs south
    exp = np.degrees(np.arctan(np.hypot(p, q)))
    assert slope.shape == (8, 10)
    assert np.allclose(slope, exp, atol=1e-12)
    exp_asp = np.degrees(np.arctan2(-p, -q)) % 360.0
    assert np.allclose(aspect, exp_asp, atol=1e-12)
    assert np.all((hill >= 0) & (hill <= 255))


def test_orientation_signs():
    """Flipping the affine axes must flip the downslope azimuth."""
    z = _plane(8, 8, 1.0, 0.0)  # increases eastward if a > 0
    west_up = horn_derivatives(z, (100.0, 0, 0, 0, -100.0, 0), "EPSG:3857")[1]
    assert np.allclose(west_up, 270.0)  # downslope due west
    # a < 0: col runs WEST, so the same array increases westward
    east_up = horn_derivatives(z, (-100.0, 0, 0, 0, -100.0, 0), "EPSG:3857")[1]
    assert np.allclose(east_up, 90.0)
    # e > 0 (south-up): row runs north -> z = row means increases north
    zn = _plane(8, 8, 0.0, 1.0)
    south = horn_derivatives(zn, (100.0, 0, 0, 0, 100.0, 0), "EPSG:3857")[1]
    assert np.allclose(south, 180.0)


def test_4326_per_row_cos_scale():
    """On degree rasters the east-west metre size shrinks by cos(lat):
    a pure-east ramp at lat 60 must be ~2x steeper than at lat 0."""
    z = _plane(3, 12, 5.0, 0.0)
    a = 0.01  # degrees
    s_eq = horn_derivatives(z, (a, 0, 0, 0, -a, 0.01), "EPSG:4326")[0]
    s_60 = horn_derivatives(z, (a, 0, 0, 0, -a, 60.01), "EPSG:4326")[0]
    # interior row centre latitude: f + e * (row + 0.5), row = 1
    exp_eq = np.degrees(np.arctan(
        5.0 / (a * M_PER_DEG * np.cos(np.radians(0.01 - a * 1.5)))))
    exp_60 = np.degrees(np.arctan(
        5.0 / (a * M_PER_DEG * np.cos(np.radians(60.01 - a * 1.5)))))
    assert np.allclose(s_eq, exp_eq, atol=1e-9)
    assert np.allclose(s_60, exp_60, atol=1e-9)
    assert s_60.mean() > 1.5 * s_eq.mean()


def test_flat_tile_nan_aspect_full_hillshade():
    z = np.full((6, 6), 42.0)
    slope, aspect, hill = horn_derivatives(z, (100.0, 0, 0, 0, -100.0, 0),
                                           "EPSG:3857")
    assert np.all(slope == 0.0)
    assert np.all(np.isnan(aspect))
    assert np.allclose(hill, 255.0 * np.cos(np.radians(45.0)))


def test_nodata_poisons_window_only():
    z = _plane(8, 8, 1.0, 1.0)
    z[4, 4] = np.nan
    slope = horn_derivatives(z, (100.0, 0, 0, 0, -100.0, 0), "EPSG:3857")[0]
    nanmask = np.isnan(slope)
    # the 3x3 window around (4,4) in interior coordinates: the 8 pixels
    # whose Horn stencil reads the NaN, plus the NaN pixel itself
    # (gdaldem nodata-centre semantics)
    exp = np.zeros_like(nanmask)
    exp[2:5, 2:5] = True
    assert (nanmask == exp).all()


def test_tiny_tile_yields_nothing():
    slope, _, _ = horn_derivatives(np.ones((2, 5)), (1, 0, 0, 0, -1, 0),
                                   "EPSG:3857")
    assert slope.size == 0


def test_terrain_cells_spark_counts_and_values(spark):
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_terrain_images_pdf,
    )

    pdf = generate_terrain_images_pdf(6)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    px = terrain_cells(imgs, res=7, keep_image_id=True).toPandas()
    for r in pdf.itertuples(index=False):
        sub = px[px.image_id == r.image_id]
        assert len(sub) == (r.w - 2) * (r.h - 2)
        i = int(r.image_id.split("_")[-1])
        s, pxm, w = float(1 + i % 3), float(50 + 10 * ((i * 7) % 8)), r.w
        exp = np.degrees(np.arctan(s * np.sqrt(1.0 + w * w) / pxm))
        assert np.allclose(sub["slope_deg"].values, exp, atol=1e-9)


# ------------------------------------------------------------------- D8


def _d8_brute(z, affine, crs):
    """Independent double-loop D8 reference (scan order E,SE,S,SW,W,
    NW,N,NE; first max wins; <=0 max -> 0; NaN window -> -32768)."""
    from raster2dggs_spark.operators.terrain import (
        D8_CODES, M_PER_DEG, _D8_OFFSETS,
    )

    a, b, c, d, e, f = (float(x) for x in affine)
    h, w = z.shape
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    code = np.zeros((h - 2, w - 2), np.int16)
    drop = np.zeros((h - 2, w - 2))
    for i in range(1, h - 1):
        if crs == "EPSG:4326":
            lat = d * (w * 0.5) + e * (i + 0.5) + f
            mx = abs(a) * M_PER_DEG * np.cos(np.radians(lat))
            my = abs(e) * M_PER_DEG
        else:
            mx, my = abs(a), abs(e)
        dd = np.sqrt(mx * mx + my * my)
        for j in range(1, w - 1):
            best, bestk, bad = -np.inf, None, False
            for k, (drow, dcol) in enumerate(_D8_OFFSETS):
                gr, gc = drow * south, dcol * east
                dist = dd if (drow and dcol) else (my if drow else mx)
                val = (z[i, j] - z[i + gr, j + gc]) / dist
                if np.isnan(val):
                    bad = True
                if val > best:
                    best, bestk = val, k
            if bad:
                code[i - 1, j - 1] = -32768
                drop[i - 1, j - 1] = np.nan
            elif best <= 0.0:
                code[i - 1, j - 1] = 0
                drop[i - 1, j - 1] = best
            else:
                code[i - 1, j - 1] = D8_CODES[bestk]
                drop[i - 1, j - 1] = best
    return code, drop


@pytest.mark.parametrize("crs,affine", [
    ("EPSG:3857", (75.0, 0, 1000.0, 0, -75.0, 2000.0)),
    ("EPSG:3857", (-60.0, 0, 1000.0, 0, 60.0, 2000.0)),  # flipped axes
    ("EPSG:4326", (0.01, 0, 10.0, 0, -0.01, 55.0)),      # per-row cos(lat)
])
def test_d8_matches_bruteforce(crs, affine):
    from raster2dggs_spark.operators.terrain import d8_flow

    rng = np.random.default_rng(11)
    z = rng.integers(0, 50, (12, 14)).astype(np.float64)
    z[4, 5] = np.nan  # poisons its 3x3 neighborhood
    code, drop = d8_flow(z, affine, crs)
    bc, bd = _d8_brute(z, affine, crs)
    assert np.array_equal(code, bc)
    assert np.allclose(drop, bd, equal_nan=True, atol=0, rtol=0)


def test_d8_plane_directions():
    """Descent of z = gx*col + gy*row points opposite the gradient:
    gx>0, gy=0 (north-up) -> due west (16); gy>0 only -> north (64);
    equal gx=gy -> the NW diagonal (32) beats cardinals when
    (gx+gy)/sqrt(2) > gx."""
    from raster2dggs_spark.operators.terrain import d8_flow

    affine = (30.0, 0, 0, 0, -30.0, 0)
    code, _ = d8_flow(_plane(8, 8, 1.0, 0.0), affine, "EPSG:3857")
    assert np.all(code == 16)
    code, _ = d8_flow(_plane(8, 8, 0.0, 1.0), affine, "EPSG:3857")
    assert np.all(code == 64)
    code, _ = d8_flow(_plane(8, 8, 2.0, 2.0), affine, "EPSG:3857")
    assert np.all(code == 32)
    code, drop = d8_flow(np.full((8, 8), 7.0), affine, "EPSG:3857")
    assert np.all(code == 0) and np.all(drop == 0.0)


def test_d8_cells_spark_roundtrip(spark):
    from raster2dggs_spark.operators.terrain import d8_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_d8_images_pdf,
    )

    pdf = generate_d8_images_pdf(4)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    out = d8_cells(imgs, res=7, keep_image_id=True)
    got = (out.groupBy("image_id")
           .agg(F.countDistinct("d8").alias("k"),
                F.count(F.lit(1)).alias("n"))
           .collect())
    assert len(got) == 4
    for r in got:
        assert r["k"] == 1  # constant-gradient tile -> one direction
        i = int(r["image_id"].split("_")[-1])
        w = 12 + (i * 5) % 7
        h = 12 + (i * 3) % 7
        assert r["n"] == (w - 2) * (h - 2)


def _acc_brute(z, affine, crs):
    """Brute-force upstream counts: follow every interior pixel's D8
    path pixel-by-pixel, incrementing each interior node it passes."""
    from raster2dggs_spark.operators.terrain import d8_flow

    code, _ = d8_flow(z, affine, crs)
    hi, wi = code.shape
    a, e = float(affine[0]), float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    step = {1: (0, 1), 2: (1, 1), 4: (1, 0), 8: (1, -1), 16: (0, -1),
            32: (-1, -1), 64: (-1, 0), 128: (-1, 1)}
    acc = np.zeros((hi, wi), np.int64)
    for r0 in range(hi):
        for c0 in range(wi):
            if code[r0, c0] in (0, -32768):
                continue
            r, c = r0, c0
            while True:
                dr, dc = step[int(code[r, c])]
                r, c = r + dr * south, c + dc * east
                if not (0 <= r < hi and 0 <= c < wi):
                    break
                acc[r, c] += 1
                if code[r, c] in (0, -32768):
                    break
    return code, acc


@pytest.mark.parametrize("crs,affine", [
    ("EPSG:3857", (75.0, 0, 1000.0, 0, -75.0, 2000.0)),
    ("EPSG:3857", (-60.0, 0, 1000.0, 0, 60.0, 2000.0)),  # flipped axes
    ("EPSG:4326", (0.01, 0, 10.0, 0, -0.01, 55.0)),
])
def test_flow_accumulation_matches_bruteforce(crs, affine):
    from raster2dggs_spark.operators.terrain import flow_accumulation

    rng = np.random.default_rng(23)
    z = rng.integers(0, 200, (14, 16)).astype(np.float64)
    z[5, 6] = np.nan
    code, acc = flow_accumulation(z, affine, crs)
    bc, bacc = _acc_brute(z, affine, crs)
    assert np.array_equal(code, bc)
    assert np.array_equal(acc, bacc)


def test_flow_accumulation_valley_closed_form():
    """On the valley fixture plane z = s*(2|c-cm| + h - r): walls flow
    diagonally into the trough, trough flows south — the trough pixel
    at interior row r accumulates every pixel that joined upstream."""
    from raster2dggs_spark.operators.terrain import flow_accumulation
    from raster2dggs_spark.sources.images import generate_valley_images_pdf
    from raster2dggs_spark.codecs import decode_image

    pdf = generate_valley_images_pdf(3)
    row = pdf.iloc[1]
    z = decode_image(row["bytes"]).astype(np.float64)[0]
    affine = (row.affine_a, row.affine_b, row.affine_c,
              row.affine_d, row.affine_e, row.affine_f)
    code, acc = flow_accumulation(z, affine, "EPSG:3857")
    bc, bacc = _acc_brute(z, affine, "EPSG:3857")
    assert np.array_equal(acc, bacc)
    i, w, h = 1, 12 + 5 % 7, 12 + 3 % 7
    cm = 2 + (1 * 3) % (w - 4)
    # interior coords: r in 1..h-2 maps to code[r-1]; trough col cm
    assert np.all(code[:, cm - 1] == 4)          # trough drains south
    assert np.all(code[:, cm:][:, : w - 2 - cm] == 8)   # east wall -> SW
    assert np.all(code[:, : cm - 1] == 2)        # west wall -> SE
    # walls: diagonal chains — acc = chain length above
    for r in range(1, h - 1):
        for c in range(cm + 1, w - 1):
            assert acc[r - 1, c - 1] == min(r - 1, w - 2 - c)
    # trough accumulates monotonically downstream
    trough = acc[:, cm - 1]
    assert np.all(np.diff(trough) > 0)
    # first interior trough row: its diagonal feeders are border pixels,
    # excluded by the tile-local contract
    assert trough[0] == 0


def test_accumulation_cells_spark(spark):
    from raster2dggs_spark.operators.terrain import accumulation_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_valley_images_pdf,
    )

    pdf = generate_valley_images_pdf(4)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    out = accumulation_cells(imgs, res=7, keep_image_id=True)
    got = {r["image_id"]: r for r in
           (out.groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("acc").alias("amax"),
                 F.sum("acc").alias("asum")).collect())}
    assert len(got) == 4
    for i in range(4):
        w = 12 + (i * 5) % 7
        h = 12 + (i * 3) % 7
        r = got[f"img_valley_{i:08d}"]
        assert r["n"] == (w - 2) * (h - 2)
        assert r["amax"] > h - 3  # trough bottom beats a plain chain


def _basin_brute(z, affine, crs):
    """Brute-force watershed: follow every interior pixel's D8 path to
    its terminal (pit/flat, NaN-window sink, or interior exit)."""
    from raster2dggs_spark.operators.terrain import d8_flow

    code, _ = d8_flow(z, affine, crs)
    hi, wi = code.shape
    a, e = float(affine[0]), float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    step = {1: (0, 1), 2: (1, 1), 4: (1, 0), 8: (1, -1), 16: (0, -1),
            32: (-1, -1), 64: (-1, 0), 128: (-1, 1)}
    basin = np.zeros((hi, wi), np.int64)
    for r0 in range(hi):
        for c0 in range(wi):
            r, c = r0, c0
            while code[r, c] not in (0, -32768):
                dr, dc = step[int(code[r, c])]
                r2, c2 = r + dr * south, c + dc * east
                if not (0 <= r2 < hi and 0 <= c2 < wi):
                    break
                r, c = r2, c2
            basin[r0, c0] = r * wi + c
    return code, basin


@pytest.mark.parametrize("crs,affine", [
    ("EPSG:3857", (75.0, 0, 1000.0, 0, -75.0, 2000.0)),
    ("EPSG:3857", (-60.0, 0, 1000.0, 0, 60.0, 2000.0)),  # flipped axes
    ("EPSG:4326", (0.01, 0, 10.0, 0, -0.01, 55.0)),
])
def test_basin_label_matches_bruteforce(crs, affine):
    from raster2dggs_spark.operators.terrain import basin_label

    rng = np.random.default_rng(31)
    z = rng.integers(0, 40, (13, 15)).astype(np.float64)
    z[4, 6] = np.nan  # NaN-window pixels become sinks
    code, basin = basin_label(z, affine, crs)
    bc, bb = _basin_brute(z, affine, crs)
    assert np.array_equal(code, bc)
    assert np.array_equal(basin, bb)


def test_basin_label_eggcarton_structure():
    """Egg-carton fixture: multiple pits per tile, every basin id is a
    terminal (fixpoint of the forest), pit terminals have code 0."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.operators.terrain import basin_label
    from raster2dggs_spark.sources.images import generate_basin_images_pdf

    pdf = generate_basin_images_pdf(4)
    for _, row in pdf.iterrows():
        z = decode_image(row["bytes"]).astype(np.float64)[0]
        affine = (row.affine_a, row.affine_b, row.affine_c,
                  row.affine_d, row.affine_e, row.affine_f)
        code, basin = basin_label(z, affine, "EPSG:3857")
        _, bb = _basin_brute(z, affine, "EPSG:3857")
        assert np.array_equal(basin, bb)
        flat = basin.ravel()
        # fixpoint: the terminal of a terminal is itself
        assert np.array_equal(flat[flat], flat)
        pits = np.unique(flat[code.ravel()[flat] == 0])
        assert len(pits) >= 2  # genuinely multi-basin


def test_basin_cells_spark(spark):
    from raster2dggs_spark.operators.terrain import basin_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    pdf = generate_basin_images_pdf(4)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    out = basin_cells(imgs, res=7, keep_image_id=True).toPandas()
    for i in range(4):
        w = 12 + (i * 5) % 7
        h = 12 + (i * 3) % 7
        sub = out[out["image_id"] == f"img_basin_{i:08d}"]
        assert len(sub) == (w - 2) * (h - 2)
        # basin ids are valid interior indices; terminals label themselves
        wi = w - 2
        assert sub["basin"].between(0, (h - 2) * wi - 1).all()
        # per-pixel linear index recovered from emit order (row-major)
        sub = sub.reset_index(drop=True)
        own = sub["basin"].to_numpy()
        assert np.array_equal(own[own], own)  # fixpoint through the table
        # pit flag consistent: basin rows flagged is_pit have d8 == 0
        pit_targets = sub.loc[own[sub["is_pit"].to_numpy()], "d8"]
        assert (pit_targets == 0).all()
        # basin_cell is the cell id AT the terminal row
        cells = sub["cell"].to_numpy()
        assert np.array_equal(sub["basin_cell"].to_numpy(), cells[own])


def _horizon_brute(z, affine, crs, directions):
    """Per-pixel per-direction max tangent by explicit ray walking."""
    from raster2dggs_spark.operators.terrain import M_PER_DEG

    h, w = z.shape
    a, e = float(affine[0]), float(affine[4])
    east = 1 if a >= 0 else -1
    south = 1 if e <= 0 else -1
    comp = {"e": (0, 1), "w": (0, -1), "s": (1, 0), "n": (-1, 0),
            "se": (1, 1), "nw": (-1, -1), "sw": (1, -1), "ne": (-1, 1)}
    out = {}
    for name in directions:
        drow, dcol = comp[name]
        gr, gc = drow * south, dcol * east
        best = np.full((h, w), np.nan)
        for r in range(h):
            if crs == "EPSG:4326":
                lat = float(affine[3]) * (w * 0.5) + e * (r + 0.5) \
                    + float(affine[5])
                mx = abs(a) * M_PER_DEG * np.cos(np.radians(lat))
                my = abs(e) * M_PER_DEG
                pitch = my if drow else mx
            else:
                pitch = np.sqrt(a * a + e * e) if (drow and dcol) else \
                    (abs(e) if drow else abs(a))
            for c in range(w):
                if np.isnan(z[r, c]):
                    continue
                vals = []
                k = 1
                while True:
                    r2, c2 = r + gr * k, c + gc * k
                    if not (0 <= r2 < h and 0 <= c2 < w):
                        break
                    if not np.isnan(z[r2, c2]):
                        vals.append((z[r2, c2] - z[r, c]) / (k * pitch))
                    k += 1
                if vals:
                    best[r, c] = max(vals)
        out[name] = best
    return out


@pytest.mark.parametrize("crs,affine,dirs", [
    ("EPSG:3857", (75.0, 0, 1000.0, 0, -75.0, 2000.0),
     ("e", "w", "n", "s", "se", "nw", "sw", "ne")),
    ("EPSG:3857", (-60.0, 0, 1000.0, 0, 60.0, 2000.0), ("e", "s", "ne")),
    ("EPSG:4326", (0.01, 0, 10.0, 0, -0.01, 55.0), ("e", "w", "n", "s")),
])
def test_horizon_matches_bruteforce(crs, affine, dirs):
    from raster2dggs_spark.operators.terrain import horizon_scan

    rng = np.random.default_rng(17)
    z = rng.uniform(0, 100, (11, 13)).round(1)
    z[3, 4] = np.nan
    got = horizon_scan(z, affine, crs, dirs)
    exp = _horizon_brute(z, affine, crs, dirs)
    for d in dirs:
        assert np.allclose(got[d], exp[d], equal_nan=True, atol=0,
                           rtol=0), d


def test_horizon_4326_diagonal_raises():
    from raster2dggs_spark.operators.terrain import horizon_scan

    z = np.zeros((5, 5))
    with pytest.raises(ValueError, match="diagonal"):
        horizon_scan(z, (0.01, 0, 0, 0, -0.01, 50.0), "EPSG:4326", ("se",))
    with pytest.raises(ValueError, match="direction"):
        horizon_scan(z, (1.0, 0, 0, 0, -1.0, 0), "EPSG:3857", ("x",))


def test_horizon_cells_spark(spark):
    from raster2dggs_spark.operators.terrain import horizon_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    pdf = generate_basin_images_pdf(3)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    out = horizon_cells(imgs, res=7, keep_image_id=True,
                        directions=("e", "w", "se")).toPandas()
    from raster2dggs_spark.codecs import decode_image

    for i in range(3):
        row = pdf.iloc[i]
        z = decode_image(row["bytes"]).astype(np.float64)[0]
        sub = out[out["image_id"] == f"img_basin_{i:08d}"].reset_index(
            drop=True)
        assert len(sub) == row["w"] * row["h"]  # full tile, no NaN
        affine = (row.affine_a, row.affine_b, row.affine_c,
                  row.affine_d, row.affine_e, row.affine_f)
        exp = _horizon_brute(z, affine, "EPSG:3857", ("e", "w", "se"))
        for d in ("e", "w", "se"):
            assert np.allclose(sub[f"tan_{d}"].to_numpy(),
                               exp[d].ravel(), equal_nan=True,
                               atol=0, rtol=0)


def test_terrain_indices_vs_brute_force():
    import numpy as np

    from raster2dggs_spark.operators.terrain import terrain_indices

    rng = np.random.default_rng(3)
    z = rng.integers(0, 50, (9, 11)).astype(np.float32)
    z[4, 6] = np.nan
    tpi, tri, rough = terrain_indices(z)
    h, w = z.shape
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            win = z[r - 1:r + 2, c - 1:c + 2].astype(np.float64)
            nb = np.delete(win.ravel(), 4)
            zc = float(z[r, c])
            if np.isnan(win).any():
                assert np.isnan(tpi[r - 1, c - 1])
                assert np.isnan(tri[r - 1, c - 1])
                assert np.isnan(rough[r - 1, c - 1])
                continue
            assert tpi[r - 1, c - 1] == zc - nb.sum() / 8.0
            assert tri[r - 1, c - 1] == np.abs(zc - nb).sum() / 8.0
            assert rough[r - 1, c - 1] == win.max() - win.min()


def test_terrain_index_cells_plan(spark):
    import numpy as np

    from raster2dggs_spark.operators.terrain import (
        terrain_index_cells, terrain_indices,
    )
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    pdf = generate_basin_images_pdf(3)
    imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    out = (terrain_index_cells(imgs, res=7, keep_image_id=True)
           .toPandas())
    for i in range(3):
        w = 12 + (i * 5) % 7
        h = 12 + (i * 3) % 7
        s = 1 + i % 3
        r_idx, c_idx = np.meshgrid(np.arange(h), np.arange(w),
                                   indexing="ij")
        z = (((3 * r_idx**2 + 5 * c_idx**2 + 7 * r_idx * c_idx + i)
              % 31) * s).astype(np.float32)
        tpi, tri, rough = terrain_indices(z)
        got = out[out.image_id == f"img_basin_{i:08d}"]
        assert len(got) == (h - 2) * (w - 2)
        assert abs(got.tpi.sum() - np.nansum(tpi)) < 1e-9
        assert abs(got.roughness.max() - np.nanmax(rough)) < 1e-12


def test_flow_length_vs_path_follow():
    import numpy as np

    from raster2dggs_spark.operators.terrain import (
        D8_CODES, _D8_OFFSETS, d8_flow, flow_length,
    )

    rng = np.random.default_rng(17)
    affine = (30.0, 0.0, 0.0, 0.0, -30.0, 0.0)
    step = {cd: off for cd, off in zip(D8_CODES, _D8_OFFSETS)}
    for _ in range(15):
        h = int(rng.integers(3, 14))
        w = int(rng.integers(3, 14))
        z = rng.integers(0, 40, (h, w)).astype(np.float32)
        code, ew, ns, dg = flow_length(z, affine, "EPSG:3857")
        c2, _ = d8_flow(z, affine, "EPSG:3857")
        hi, wi = c2.shape
        for r in range(hi):
            for c in range(wi):
                e = n = d = 0
                cr, cc = r, c
                while True:
                    cd = int(c2[cr, cc])
                    if cd <= 0:
                        break
                    dr, dc = step[cd]
                    nr, nc = cr + dr, cc + dc
                    if not (0 <= nr < hi and 0 <= nc < wi):
                        break
                    if dr and dc:
                        d += 1
                    elif dr:
                        n += 1
                    else:
                        e += 1
                    cr, cc = nr, nc
                assert (ew[r, c], ns[r, c], dg[r, c]) == (e, n, d)


def test_flow_length_cells_metric(spark):
    import numpy as np

    from raster2dggs_spark.operators.terrain import flow_length_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(2),
                                 IMAGE_SCHEMA)
    out = flow_length_cells(imgs, res=7, keep_image_id=True,
                            keep_pixel=True).toPandas()
    assert (out.n_ew >= 0).all()
    # metric length is the exact dot product with the pitches
    for i in range(2):
        px = float(50 + 10 * ((i * 7) % 8))
        g = out[out.image_id == f"img_basin_{i:08d}"]
        want = (g.n_ew * px + g.n_ns * px
                + g.n_diag * np.sqrt(px * px + px * px))
        assert np.allclose(g.flow_len_m, want, rtol=0, atol=0)


def test_solar_scan_composition_and_shadows():
    import numpy as np

    from raster2dggs_spark.operators.terrain import (
        horizon_scan, horn_derivatives, solar_scan,
    )

    rng = np.random.default_rng(21)
    z = rng.integers(0, 20, (12, 14)).astype(np.float32)
    affine = (30.0, 0.0, 0.0, 0.0, -30.0, 0.0)
    ci, sh, di = solar_scan(z, affine, "EPSG:3857", "w", 40.0, 1000.0)
    slope, aspect, _ = horn_derivatives(z, affine, "EPSG:3857")
    tans = horizon_scan(z, affine, "EPSG:3857", ("w",))["w"][1:-1, 1:-1]
    want_sh = tans > np.tan(np.radians(40.0))
    assert (sh == want_sh).all()
    zen = np.radians(50.0)
    sr = np.radians(slope)
    flat = np.isnan(aspect)
    want_ci = (np.cos(zen) * np.cos(sr) + np.sin(zen) * np.sin(sr)
               * np.where(flat, 1.0,
                          np.cos(np.radians(270.0)
                                 - np.radians(aspect))))
    assert np.allclose(ci, want_ci, equal_nan=True)
    assert (di[sh] == 0).all()
    lit = ~sh & (ci > 0)
    assert np.allclose(di[lit], 1000.0 * ci[lit])
    # flat unshadowed ground under a 40-degree sun: cos(50 deg)
    zf = np.zeros((8, 8), np.float32)
    cif, shf, dif = solar_scan(zf, affine, "EPSG:3857", "w", 40.0, 1.0)
    assert not shf.any()
    assert np.allclose(cif, np.cos(np.radians(50.0)))


def test_solar_wall_casts_shadow():
    import numpy as np

    from raster2dggs_spark.operators.terrain import solar_scan

    # tall wall on the west edge: pixels to its east (within the
    # shadow length for a 40-degree sun) go dark
    z = np.zeros((5, 12), np.float32)
    z[:, 1] = 1000.0                      # 1000 m wall, 30 m pixels
    ci, sh, di = solar_scan(z, (30.0, 0.0, 0.0, 0.0, -30.0, 0.0),
                            "EPSG:3857", "w", 40.0, 1.0)
    # interior col j corresponds to full-tile col j+1; wall at tile
    # col 1 is interior col 0 — everything east of it is shadowed
    # (1000/30 >> tan(40) at every in-tile distance)
    assert sh[:, 1:].all()
    assert (di[:, 1:] == 0).all()
