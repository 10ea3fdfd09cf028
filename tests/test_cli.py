"""CLI shim integration: one command per transfer family over a fixture
image table, asserting exit, output schema and hive partitioning —
mirroring the reference's CLI matrix (tests/classes/
test_cli_integration.py:54-99: every grid × geo × compaction runs the
module entry end-to-end)."""

import os

import pytest

from raster2dggs_spark.cli import main


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    from raster2dggs_spark.sources import write_images_table

    path = str(tmp_path_factory.mktemp("cli") / "images")
    write_images_table(spark, path, 8, seed=42, size_range=(10, 14), chunk=4)
    return path


def _partition_dirs(out, prefix):
    return [d for d in os.listdir(out) if d.startswith(prefix + "=")]


@pytest.mark.parametrize("dggs,res,geo,compact", [
    ("hex7", "6", None, False),
    ("hex7", "6", "polygon", False),
    ("hex7", "6", None, True),
    ("hex7", "6", "polygon", True),
    ("s2", "10", "point", False),
    ("geohash", "3", None, False),
])
def test_cli_point_matrix(spark, tmp_path, images_path, dggs, res, geo,
                          compact):
    out = str(tmp_path / "out")
    args = [dggs, images_path, out, "-r", res, "--point", "value",
            "-a", "mean", "-d", "1"]
    if geo:
        args += ["-g", geo]
    if compact:
        args += ["-co"]
    main(args, spark=spark)
    # hive partitioning on the parent column (reference output contract)
    from raster2dggs_spark.operators.indexing import (
        cell_column_name, default_parent_res,
    )

    pcol = cell_column_name(dggs, default_parent_res(int(res), dggs))
    assert _partition_dirs(out, pcol), os.listdir(out)
    back = spark.read.parquet(out)
    assert pcol in back.columns
    assert back.count() > 0
    if geo:
        assert "geometry" in back.columns
    else:
        assert cell_column_name(dggs, int(res)) in back.columns
        assert "band_1" in back.columns


def test_cli_transfer_families(spark, tmp_path, images_path):
    from raster2dggs_spark.operators.indexing import cell_column_name

    cases = {
        "point_list": ["hex7", images_path, str(tmp_path / "pl"), "-r", "6",
                       "--point", "list"],
        "overlay_weighted": ["hex7", images_path, str(tmp_path / "ow"),
                             "-r", "6", "--overlay", "weighted",
                             "-vct", "0.2"],
        "sample_bilinear": ["hex7", images_path, str(tmp_path / "sb"),
                            "-r", "6", "--sample", "bilinear"],
        "multi_agg": ["hex7", images_path, str(tmp_path / "ma"), "-r", "6",
                      "--point", "-a", "min,max"],
        "point_hist": ["hex7", images_path, str(tmp_path / "ph"), "-r", "6",
                       "--point", "histogram", "--hist-width", "10"],
        "auto_res": ["hex7", images_path, str(tmp_path / "ar"), "-r",
                     "min-diff", "--point", "value"],
    }
    for name, args in cases.items():
        main(args, spark=spark)
        back = spark.read.parquet(args[2])
        assert back.count() > 0, name
    # multi-agg: per-band struct with the requested fields
    ma = spark.read.parquet(str(tmp_path / "ma"))
    f = dict(ma.dtypes)["band_1"]
    assert "struct" in f and "min" in f and "max" in f


def test_cli_validation(spark, tmp_path, images_path):
    with pytest.raises(SystemExit):  # mutually exclusive transfers
        main(["hex7", images_path, str(tmp_path / "x1"), "-r", "6",
              "--point", "value", "--overlay", "weighted"], spark=spark)
    with pytest.raises(SystemExit):  # h3 rejected with hex7 contract
        main(["h3", images_path, str(tmp_path / "x2"), "-r", "6"],
             spark=spark)
    with pytest.raises(SystemExit):  # bins + width exclusive
        main(["hex7", images_path, str(tmp_path / "x3"), "-r", "6",
              "--point", "histogram", "--hist-bins", "0,1",
              "--hist-width", "2"], spark=spark)
    for dggs, pr in (("hex7", "-1"), ("hex7", "7"), ("i4r", "-1"),
                     ("i4r", "7"), ("geohash", "0")):  # parent_res range
        with pytest.raises(ValueError, match="parent_res"):
            main([dggs, images_path, str(tmp_path / "x5"), "-r", "6",
                  "-pr", pr], spark=spark)
    out = str(tmp_path / "x4")
    main(["hex7", images_path, out, "-r", "6"], spark=spark)
    for existing in (out, "file:" + out):  # existing output without -o
        with pytest.raises(SystemExit):
            main(["hex7", images_path, existing, "-r", "6"], spark=spark)
    main(["hex7", images_path, out, "-r", "6", "-o"], spark=spark)  # ok


def test_cli_multiband_routes(spark, tmp_path, images_path):
    """-b with histogram/list routes maps to the one-pass multi-band
    operators (struct/list column per band)."""
    out1 = str(tmp_path / "mh")
    main(["hex7", images_path, out1, "-r", "6", "--point", "histogram",
          "--hist-width", "20", "-b", "1", "-b", "2"], spark=spark)
    back = spark.read.parquet(out1)
    dt = dict(back.dtypes)
    assert "band_1" in dt and "band_2" in dt and "struct" in dt["band_1"]

    out2 = str(tmp_path / "ml")
    main(["hex7", images_path, out2, "-r", "6", "--overlay", "list",
          "-b", "1", "-b", "2"], spark=spark)
    dt2 = dict(spark.read.parquet(out2).dtypes)
    assert "values_b1" in dt2 and "values_b2" in dt2


def test_cli_geo_per_grid_geometry(spark, tmp_path, images_path):
    """Round-4 audit fix: -g decoded every non-hex7 grid's ids via the
    S2 decoder (garbage coordinates) and silently emitted points when
    polygons were asked of grids without boundary math.  Now: point
    geometry decodes via each grid's own decoder; polygons come from
    each grid's own boundary math (rectangles for geohash/maidenhead,
    st-corner quads for s2, plane-square corners for rhp, hexagon
    vertices for hex7/i3h)."""
    import struct

    out = str(tmp_path / "gpt")
    main(["geohash", images_path, out, "-r", "4", "--point", "value",
          "-g", "point"], spark=spark)
    back = spark.read.parquet(out)
    blob = back.select("geometry").first()[0]
    assert struct.unpack("<I", blob[1:5])[0] == 1  # WKB Point
    x = struct.unpack("<d", blob[5:13])[0]
    assert -180 <= x < 180

    for grid, res in (("geohash", "4"), ("s2", "10"), ("rhp", "5"),
                      ("i3h", "10"), ("a5", "8"), ("i4r", "9")):
        out2 = str(tmp_path / f"gpoly_{grid}")
        main([grid, images_path, out2, "-r", res, "--point", "value",
              "-g", "polygon"], spark=spark)
        blob2 = spark.read.parquet(out2).select("geometry").first()[0]
        assert struct.unpack("<I", blob2[1:5])[0] == 3, grid  # WKB Polygon
        nv = struct.unpack("<I", blob2[9:13])[0]
        # closed ring: 3 (a5 triangles), 4 or 6 corners + repeat
        assert nv in (4, 5, 7), grid


def test_cli_hist_normalize_spelling(spark, tmp_path, images_path):
    """Reference CLI spells normalize modes with dashes (cell-area /
    valid-overlap, const.HistNormalize); the engine's matrix keys use
    underscores — the CLI must translate, not silently fall to 'none'
    or mis-reject a valid combination."""
    out = str(tmp_path / "hn")
    main(["hex7", images_path, out, "-r", "6", "--point", "histogram",
          "--hist-width", "10", "--hist-normalize", "valid-overlap"],
         spark=spark)
    dt = dict(spark.read.parquet(out).dtypes)["band_1"]
    assert "count_frac" in dt  # the (count, valid_overlap) field name


def test_cli_profile_reports_task_metrics(spark, tmp_path, images_path,
                                          capsys):
    """Reference --profile parity (ref profiling.py:231-272): per-phase
    wall + TASK time/CPU from Spark task metrics, an executor
    parallelism figure and a stall share — not just coarse wall
    times."""
    out = str(tmp_path / "prof")
    main(["hex7", images_path, out, "-r", "6", "--profile"], spark=spark)
    err = capsys.readouterr().err
    for needle in ("raster2dggs_spark --profile", "open", "plan",
                   "execute+write", "executor parallelism:",
                   "task stall:", "wall clock"):
        assert needle in err, needle
    # the execute+write phase must have attributed real task work
    line = [ln for ln in err.splitlines() if "execute+write" in ln][0]
    cols = line.split()
    # phase, wall, task_s, cpu_s, tasks, par, stall%
    assert float(cols[2]) > 0.0       # task seconds
    assert int(cols[4]) > 0           # completed tasks
    stall = float(cols[6].rstrip("%"))
    assert 0.0 <= stall <= 100.0


def test_cli_geotiff_input_reference_command_shape(spark, tmp_path):
    """The reference's own CLI form on its own raster:
    ``raster2dggs h3 se-island.tiff out/ -r 11`` ≙ our
    ``hex7 se-island.tiff out/ -r 11 --point value -a mean`` — 74,888
    pixels indexed end-to-end through the GeoTIFF window plan (round 6)."""
    import pyarrow.parquet as pq

    tiff = "/root/reference/tests/data/se-island.tiff"
    if not os.path.exists(tiff):
        pytest.skip("reference raster not mounted")
    out = str(tmp_path / "gt")
    main(["hex7", tiff, out, "-r", "11", "--point", "value", "-a", "mean"],
         spark=spark)
    t = pq.read_table(out).to_pandas()
    assert "hex7_11" in t.columns
    # cell set and band means equal the pinned single-node replay
    # (which itself pins the 74,888-pixel stage-1 regression)
    import pandas as pd

    fix = pd.read_parquet(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".fixtures",
            "geotiff_pixel_index.parquet"))
    got = t.sort_values("hex7_11").reset_index(drop=True)
    exp = fix.sort_values("hex7_11").reset_index(drop=True)
    assert got["hex7_11"].tolist() == exp["hex7_11"].tolist()
    for b in ("band_1", "band_2", "band_3"):
        # CLI applies the reference's default decimals=1 rounding
        assert (got[b] - exp[b].round(1)).abs().max() < 1e-9


def test_cli_band_label_on_real_geotiff(spark, tmp_path):
    """-b by LABEL on a real .tif: selection resolves through the GDAL
    band descriptions (tag 42112) the reader now parses, and produces
    the identical output to the equivalent numeric -b run (round 7)."""
    import numpy as np
    import pyarrow.parquet as pq

    from raster2dggs_spark.sources.geotiff import write_geotiff

    rng = np.random.default_rng(3)
    arr = (rng.random((3, 50, 70)) * 10).astype(np.float32)
    tif = str(tmp_path / "named.tif")
    write_geotiff(tif, arr, (0.05, 0, 5.0, 0, -0.05, 8.0), "EPSG:4326",
                  band_names=["red", "green", "nir"], tile=(32, 32))
    out_l = str(tmp_path / "by_label")
    out_i = str(tmp_path / "by_index")
    main(["hex7", tif, out_l, "-r", "7", "--point", "value", "-a", "mean",
          "-b", "nir"], spark=spark)
    main(["hex7", tif, out_i, "-r", "7", "--point", "value", "-a", "mean",
          "-b", "3"], spark=spark)
    tl = pq.read_table(out_l).to_pandas().sort_values("hex7_07")
    ti = pq.read_table(out_i).to_pandas().sort_values("hex7_07")
    assert len(tl) > 0
    assert tl.reset_index(drop=True).equals(ti.reset_index(drop=True))
    # unknown label raises (reference semantics; surfaces from the
    # executor as a captured PythonException)
    with pytest.raises(Exception, match="not found"):
        main(["hex7", tif, str(tmp_path / "bad"), "-r", "7",
              "--point", "value", "-a", "mean", "-b", "swir"], spark=spark)


def test_cli_overview_auto_on_cog(spark, tmp_path):
    """--overview auto on a pyramided GeoTIFF: a coarse output res reads
    the matching overview IFD (fewer windows, fewer bytes) and still
    aggregates to sane cells; --overview 0 reads full res."""
    import numpy as np
    import pyarrow.parquet as pq

    from raster2dggs_spark.sources.geotiff import write_geotiff

    arr = np.ones((1, 512, 512), dtype=np.float32) * 5.0
    tif = str(tmp_path / "cog.tif")
    write_geotiff(tif, arr, (0.001, 0, 0.0, 0, -0.001, 1.0), "EPSG:4326",
                  overview_levels=(4, 16), tile=(128, 128))
    out_a = str(tmp_path / "auto")
    out_f = str(tmp_path / "full")
    # hex7 res 5 cells are ~100 km² — far coarser than 16× the ~110 m
    # pixels, so auto must pick the coarsest overview
    main(["hex7", tif, out_a, "-r", "5", "--point", "value", "-a", "mean",
          "--overview", "auto"], spark=spark)
    main(["hex7", tif, out_f, "-r", "5", "--point", "value", "-a", "mean"],
         spark=spark)
    ta = pq.read_table(out_a).to_pandas().sort_values("hex7_05")
    tf = pq.read_table(out_f).to_pandas().sort_values("hex7_05")
    # constant raster: identical cell sets, identical means, either path
    assert ta["hex7_05"].tolist() == tf["hex7_05"].tolist()
    assert (ta["band_1"] - tf["band_1"]).abs().max() < 1e-9
