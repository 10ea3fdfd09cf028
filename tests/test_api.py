"""index_raster: the reference-CLI-parity entry point routes to the same
operators as the low-level API, option for option."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _imgs(spark, n=8, **kw):
    from raster2dggs_spark.sources import images_spark_df

    return images_spark_df(spark, n, seed=30, **kw)


def test_point_mean_matches_low_level(spark):
    from raster2dggs_spark.api import index_raster
    from raster2dggs_spark.operators.indexing import (
        index_point_agg, to_reference_output,
    )

    imgs = _imgs(spark)
    a = index_raster(imgs, resolution=7, transfer="point", agg="mean") \
        .toPandas().sort_values("hex7_07").reset_index(drop=True)
    b = to_reference_output(index_point_agg(imgs, res=7, agg="mean"),
                            "hex7", 7, 1) \
        .toPandas().sort_values("hex7_07").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_point_list_and_decimals(spark):
    from raster2dggs_spark.api import index_raster

    out = index_raster(_imgs(spark), resolution=6, transfer="point",
                       agg="list", decimals=1).toPandas()
    assert "band_1" in out.columns and len(out)
    lst = next(v for v in out["band_1"] if v is not None and len(v) > 1)
    assert list(lst) == sorted(lst)
    assert all(round(float(x), 1) == float(x) for x in lst)


@pytest.mark.parametrize("op,col", [
    ("weighted", "band_1"), ("mass-preserve", "band_1"),
    ("mode", "majority_class"), ("fractions", "fraction"),
    ("list", "values"),
])
def test_overlay_routes(spark, op, col):
    from raster2dggs_spark.api import index_raster

    out = index_raster(_imgs(spark, 4, size_range=(10, 14)),
                       resolution=6, transfer="overlay", op=op)
    assert col in out.columns
    assert out.limit(5).count() > 0


def test_sample_route_and_auto_resolution(spark):
    from raster2dggs_spark.api import index_raster, resolve_res
    from raster2dggs_spark.functions.resolution import cell_area_m2_mean

    imgs = _imgs(spark, 4, size_range=(10, 14))
    r = resolve_res(imgs, "min-diff", "hex7")
    assert 0 <= r <= 15
    # defining property spot check: min-diff minimizes |cell - pixel| area
    from raster2dggs_spark.api import _mean_pixel_area_m2

    pa = _mean_pixel_area_m2(imgs)
    diffs = [abs(cell_area_m2_mean(x, "hex7") - pa) for x in range(16)]
    assert abs(cell_area_m2_mean(r, "hex7") - pa) == min(diffs)
    out = index_raster(imgs, resolution="min-diff", transfer="sample",
                       kernel="nearest")
    assert out.limit(3).count() > 0


def test_compact_route_shrinks_uniform_raster(spark):
    from raster2dggs_spark.api import index_raster

    imgs = _imgs(spark, 4, scenarios=("uniform42",), size_range=(24, 32))
    plain = index_raster(imgs, resolution=8, transfer="point", agg="mean",
                         decimals=0, raw_ids=True)
    packed = index_raster(imgs, resolution=8, transfer="point", agg="mean",
                          decimals=0, compact=True, raw_ids=True)
    n_plain, n_packed = plain.count(), packed.count()
    assert n_packed < n_plain  # complete uniform subtrees merged
    # parent column survives compaction
    assert packed.where(F.col("parent").isNull()).count() == 0


def test_h3_key_rejected(spark):
    from raster2dggs_spark.api import index_raster

    with pytest.raises(Exception, match="hex7"):
        index_raster(_imgs(spark, 2), dggs="h3", resolution=7)


def test_write_output_roundtrip(spark, tmp_path):
    from raster2dggs_spark.api import index_raster, write_output

    out = index_raster(_imgs(spark, 4), resolution=7, transfer="point",
                       agg="mean")
    path = str(tmp_path / "out")
    write_output(out, path, "hex7", 1)
    back = spark.read.parquet(path)
    assert back.count() == out.count()
    assert "hex7_01" in back.columns


# --- sink layout: one file per partition value ---------------------------
#
# The frames below span several parents and are spread over 4 tasks
# first, so every parent sits in several write tasks; a plain
# ``partitionBy`` would leave one file per (task, parent).


def _spread_raw(spark):
    from raster2dggs_spark.api import index_raster

    raw = index_raster(_imgs(spark, 4), resolution=7, parent_res=1,
                       raw_ids=True).repartition(4)
    assert raw.select("parent").distinct().count() >= 3
    return raw


def _read_layout(path, pcol):
    """All rows of a hive-partitioned dataset, with the directory value
    of each row in ``__dir``; asserts one Parquet file per directory."""
    import glob
    import os

    import pyarrow.parquet as pq

    parts = []
    dirs = glob.glob(os.path.join(path, f"{pcol}=*"))
    assert len(dirs) >= 3
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)
        t = pq.read_table(files[0]).to_pandas()
        t["__dir"] = os.path.basename(d).split("=", 1)[1]
        parts.append(t)
    return pd.concat(parts, ignore_index=True)


def test_write_output_one_file_per_parent(spark, tmp_path):
    from raster2dggs_spark.api import write_output
    from raster2dggs_spark.dggs import grid_lib
    from raster2dggs_spark.operators.indexing import to_reference_output

    out = to_reference_output(_spread_raw(spark), "hex7", 7, 1)
    path = str(tmp_path / "out")
    write_output(out, path, "hex7", 1)
    back = _read_layout(path, "hex7_01")
    exp = out.toPandas()
    key = ["hex7_07"]
    got = (back.rename(columns={"__dir": "hex7_01"})[exp.columns]
           .sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got, exp.sort_values(key).reset_index(drop=True))
    cells = np.array([int(c, 16) for c in back["hex7_07"]], dtype=np.int64)
    parents = grid_lib("hex7").cell_to_parent(cells, 1)
    assert [format(int(p), "x") for p in parents] == list(back["__dir"])


def test_write_output_geo_one_file_per_parent(spark, tmp_path):
    from raster2dggs_spark.api import write_output
    from raster2dggs_spark.sources.geoparquet import add_cell_geometry

    raw = _spread_raw(spark)
    path = str(tmp_path / "geo")
    write_output(raw, path, "hex7", 1, geo=True)
    back = _read_layout(path, "hex7_01")
    exp = (add_cell_geometry(raw).select(
        "geometry", F.lower(F.hex("parent")).alias("__dir")).toPandas())
    assert (sorted(zip(back["geometry"], back["__dir"]))
            == sorted(zip(exp["geometry"], exp["__dir"])))


def test_icetable_append_one_file_per_partition(spark, tmp_path):
    from raster2dggs_spark.dggs import grid_lib
    from raster2dggs_spark.sources.icetable import IceTable

    raw = _spread_raw(spark).select("parent", "cell", "band_1")
    t = IceTable(str(tmp_path / "t"))
    snap = t.write(raw, "parent", mode="append")
    assert all(len(m["files"]) == 1 for m in snap["manifests"])
    back = _read_layout(t.data_dir, "parent")
    assert (sorted(zip(back["cell"], back["band_1"]))
            == sorted((r.cell, r.band_1) for r in raw.collect()))
    parents = grid_lib("hex7").cell_to_parent(back["cell"].to_numpy(), 1)
    assert [str(int(p)) for p in parents] == list(back["__dir"])


# --- writer contract: write_partitioned against Spark's own writer -------


def _ref_wkb_polygons(vlon, vlat):
    """The per-vertex struct.pack encoder the vectorized one replaced."""
    import struct

    k = vlon.shape[1]
    head = b"\x01\x03\x00\x00\x00" + struct.pack("<II", 1, k + 1)
    return [head + b"".join(struct.pack("<dd", float(vlon[i, j % k]),
                                        float(vlat[i, j % k]))
                            for j in range(k + 1))
            for i in range(vlon.shape[0])]


def _ref_wkb_bbox(blobs):
    """The per-blob loop the vectorized bbox replaced."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for b in blobs:
        if b is None:
            continue
        if len(b) < 21 or b[0] != 1:
            return None
        geom_type = int.from_bytes(b[1:5], "little")
        if geom_type == 1:
            off = 5
        elif geom_type == 3 and int.from_bytes(b[5:9], "little") == 1:
            off = 13
        else:
            return None
        if (len(b) - off) % 16 != 0:
            return None
        coords = np.frombuffer(b, dtype="<f8", offset=off)
        xmin = min(xmin, coords[0::2].min())
        xmax = max(xmax, coords[0::2].max())
        ymin = min(ymin, coords[1::2].min())
        ymax = max(ymax, coords[1::2].max())
    if not np.isfinite(xmin):
        return None
    return [float(xmin), float(ymin), float(xmax), float(ymax)]


def test_wkb_matches_loop_encoder():
    import struct

    import pyarrow as pa

    from raster2dggs_spark.dggs import grid_lib
    from raster2dggs_spark.sources.geoparquet import (
        wkb_bbox, wkb_points, wkb_polygons,
    )

    lib = grid_lib("hex7")
    rng = np.random.default_rng(5)
    cells = lib.latlng_to_cell(rng.uniform(-179, 179, 300),
                               rng.uniform(-80, 80, 300), 7)
    vlon, vlat = lib.cell_to_boundary(cells)
    poly = wkb_polygons(vlon, vlat)
    assert poly.to_pylist() == _ref_wkb_polygons(vlon, vlat)
    lon, lat = lib.cell_to_lonlat(cells)
    pts = wkb_points(lon, lat)
    assert pts.to_pylist() == [b"\x01\x01\x00\x00\x00"
                               + struct.pack("<dd", x, y)
                               for x, y in zip(lon, lat)]
    # bbox: sliced, chunked, mixed-layout and null-bearing columns
    mixed = pa.chunked_array([poly.slice(7, 50),
                              pa.array([None, *pts.to_pylist()[:9]],
                                       pa.binary())])
    assert wkb_bbox(mixed) == _ref_wkb_bbox(mixed.to_pylist())
    assert wkb_bbox(poly) == _ref_wkb_bbox(poly.to_pylist())
    # layouts this module does not write keep the None fallback
    two_rings = (b"\x01\x03\x00\x00\x00" + struct.pack("<II", 2, 1)
                 + bytes(16))
    big_endian = b"\x00\x00\x00\x00\x01" + bytes(16)
    for odd in (two_rings, big_endian):
        assert wkb_bbox(pa.array([poly[0].as_py(), odd])) is None
    assert wkb_bbox(pa.array([None], pa.binary())) is None


def test_write_output_geo_in_tasks(spark, tmp_path, monkeypatch):
    """The geo sink writes its files and footers in the tasks: the
    driver opens no output file, the codec is the one asked for, and
    every file's bbox and geometry bytes are those of the loop encoder
    over that file's own cells."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from raster2dggs_spark.api import write_output
    from raster2dggs_spark.dggs import grid_lib

    raw = _spread_raw(spark)
    path = str(tmp_path / "geo")

    def opened(*a, **k):
        raise AssertionError("the driver opened an output file")

    with monkeypatch.context() as m:
        for name in ("read_table", "ParquetFile", "write_table"):
            m.setattr(pq, name, opened)
        write_output(raw, path, "hex7", 1, geo=True, compression="zstd")

    lib = grid_lib("hex7")
    cells = {format(int(p), "x"): [] for p in
             {r.parent for r in raw.select("parent").distinct().collect()}}
    for r in raw.select("parent", "cell").collect():
        cells[format(int(r.parent), "x")].append(r.cell)
    files = glob.glob(os.path.join(path, "hex7_01=*", "*.parquet"))
    assert len(files) == len(cells)
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        assert {md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)} == {"ZSTD"}
        t = pq.read_table(fp)
        blobs = t.column("geometry").to_pylist()
        parent = os.path.basename(os.path.dirname(fp)).split("=", 1)[1]
        exp = _ref_wkb_polygons(*lib.cell_to_boundary(
            np.array(cells[parent], dtype=np.int64)))
        assert sorted(blobs) == sorted(exp)
        geo = json.loads(t.schema.metadata[b"geo"])
        assert geo["columns"]["geometry"]["bbox"] == _ref_wkb_bbox(exp)


def _contract_frame(spark):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.ShortType()),
        T.StructField("b", T.ByteType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("txt", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("arr", T.ArrayType(T.DoubleType())),
        T.StructField("st", T.StructType([
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.StringType())])),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("p", T.StringType()),
    ])
    rows = []
    for k in range(40):
        v = k % 7 != 3  # every column but the id and key has nulls
        rows.append((
            k, k * 1000 if v else None, k - 20 if v else None,
            k % 100 - 50 if v else None, k / 3 if v else None,
            k / 4 if v else None, f"t{k}" if v else None,
            bytes([k, 255 - k]) if v else None, k % 2 == 0 if v else None,
            [k / 2, None, -1.0] if v else None,
            (k, f"y{k}") if v else None,
            dt.date(2000, 1, 1) + dt.timedelta(days=37 * k) if v else None,
            dt.datetime(2020, 5, 17, 3, 4, 5, 123456)
            + dt.timedelta(hours=13 * k) if v else None,
            Decimal(k * 1234) / 100 if v else None,
            None if k % 9 == 0 else f"p{k % 3}"))
    return spark.createDataFrame(rows, schema)


def test_write_partitioned_schema_roundtrip(spark, tmp_path):
    from raster2dggs_spark.plans.layout import write_partitioned

    df = _contract_frame(spark)
    ours, theirs = str(tmp_path / "ours"), str(tmp_path / "spark")
    manifest = write_partitioned(df, ours, "p")
    df.write.partitionBy("p").parquet(theirs)
    a, b = spark.read.parquet(ours), spark.read.parquet(theirs)
    assert a.schema == b.schema
    assert a.orderBy("id").collect() == b.orderBy("id").collect()
    assert sum(n for _, n in manifest) == df.count()


def test_write_partitioned_dir_names_match_spark(spark, tmp_path):
    import os

    from raster2dggs_spark.plans.layout import write_partitioned

    vals = ["a/b", "x=y", "50%", "c:d", "q?r", "h#s", "sp ace", "ñandú 地",
            "", None, "plain", "".join(chr(c) for c in range(1, 128))]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(vals)],
                               "k string, v long")
    ours, theirs = str(tmp_path / "ours"), str(tmp_path / "spark")
    write_partitioned(df, ours, "k")
    df.write.partitionBy("k").parquet(theirs)
    dirs = lambda p: sorted(d for d in os.listdir(p)  # noqa: E731
                            if os.path.isdir(os.path.join(p, d)))
    assert dirs(ours) == dirs(theirs)
    assert len(dirs(ours)) == len(vals) - 1  # "" and null share a dir
    got = spark.read.parquet(ours).orderBy("v").collect()
    assert got == spark.read.parquet(theirs).orderBy("v").collect()


def test_write_partitioned_commit_and_modes(spark, tmp_path):
    """Only the manifest's files are published: a stray file staged
    under _temporary stays out and _temporary is gone after the write;
    append keeps the old files, overwrite replaces them."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from raster2dggs_spark.plans.layout import write_partitioned

    path = str(tmp_path / "t")
    df = spark.range(60).select((F.col("id") % 3).cast("string").alias("k"),
                                F.col("id"))
    stray = os.path.join(path, "_temporary", "crashed", "k=0", "part-x.parquet")
    os.makedirs(os.path.dirname(stray))
    pq.write_table(pa.table({"id": [-1]}), stray)

    files = lambda: sorted(  # noqa: E731
        os.path.relpath(f, path)
        for f in glob.glob(os.path.join(path, "*", "*.parquet")))
    first = write_partitioned(df, path, "k")
    assert [p for p, _ in first] == files()
    assert [n for _, n in first] == [20, 20, 20]
    assert not os.path.exists(os.path.join(path, "_temporary"))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert spark.read.parquet(path).count() == 60

    second = write_partitioned(df.where("id < 30"), path, "k", mode="append")
    assert files() == sorted(p for p, _ in first + second)
    assert spark.read.parquet(path).count() == 90

    third = write_partitioned(df.where("id < 6"), path, "k")
    assert files() == [p for p, _ in third]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) \
        == list(range(6))
    with pytest.raises(ValueError, match="mode"):
        write_partitioned(df, path, "k", mode="ignore")


def test_part_name_from_task_attempt_id():
    """A resubmitted stage restarts attemptNumber at 0, so the file name
    carries the application-unique taskAttemptId: two live attempts of
    one partition never write the same file."""
    from types import SimpleNamespace

    from raster2dggs_spark.plans.layout import _part_name

    def ctx(tid):
        return SimpleNamespace(partitionId=lambda: 3,
                               attemptNumber=lambda: 0,
                               taskAttemptId=lambda: tid)

    assert _part_name(ctx(17), "j", "zstd") == "part-00003-j-a17.zstd.parquet"
    assert _part_name(ctx(18), "j", "none") == "part-00003-j-a18.parquet"


def test_write_partitioned_path_schemes(spark, tmp_path, monkeypatch):
    """A ``file:`` path is the local path Spark resolves it to; a scheme
    pyarrow serves no filesystem for is refused before any write."""
    import glob
    import os

    from raster2dggs_spark.plans.layout import write_partitioned

    monkeypatch.chdir(tmp_path)
    df = spark.range(12).select((F.col("id") % 2).alias("k"), "id")
    for uri in (f"file:{tmp_path}/a", f"file://{tmp_path}/b"):
        manifest = write_partitioned(df, uri, "k")
        out = uri.split(":", 1)[1].lstrip("/")
        assert sorted(os.path.relpath(f, "/" + out) for f in glob.glob(
            os.path.join("/" + out, "k=*", "*.parquet"))) \
            == [p for p, _ in manifest]
        assert spark.read.parquet(uri).count() == 12
    assert sorted(os.listdir(tmp_path)) == ["a", "b"]
    with pytest.raises(ValueError, match="cannot write Parquet"):
        write_partitioned(df, "nosuchfs://bucket/t", "k")


def test_write_partitioned_dictionary_choice(spark, tmp_path):
    """A low-cardinality string column keeps its dictionary; a unique
    id column is written PLAIN, as parquet-mr falls back to, so the
    files are no larger than Spark's own."""
    import glob
    import os

    import pyarrow.parquet as pq

    from raster2dggs_spark.plans.layout import write_partitioned

    df = spark.range(2000).select(
        (F.col("id") % 2).alias("p"), F.format_string("%016x", "id").alias("uid"),
        (F.col("id") % 5).cast("string").alias("cls"))
    path = str(tmp_path / "d")
    write_partitioned(df, path, "p")
    for fp in glob.glob(os.path.join(path, "p=*", "*.parquet")):
        md = pq.ParquetFile(fp).metadata
        cols = {md.schema.column(c).name: md.row_group(0).column(c)
                for c in range(md.num_columns)}
        assert cols["cls"].has_dictionary_page
        assert not cols["uid"].has_dictionary_page
        assert b"ARROW:schema" not in (md.metadata or {})


def test_no_partitioned_write_outside_layout():
    """Every hive-partitioned write goes through
    plans/layout.write_partitioned, which writes with pyarrow in the
    tasks: no package module, layout.py included, calls a writer's
    ``partitionBy`` (``Window.partitionBy`` is not a write)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "raster2dggs_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"):
                continue
            recv = node.func.value
            while isinstance(recv, (ast.Call, ast.Attribute)):
                recv = recv.func if isinstance(recv, ast.Call) else recv.value
            if not (isinstance(recv, ast.Name) and recv.id == "Window"):
                hits.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not hits, "\n".join(hits)


def test_point_histogram_output(spark):
    """--point histogram parity: categorical struct {values, counts}
    with counts summing to the cell's pixel count; binned variant emits
    {left, right, <field>} with the naming matrix."""
    from raster2dggs_spark.api import index_raster

    imgs = _imgs(spark, 4, scenarios=("landcover",), size_range=(10, 14))
    cat = index_raster(imgs, resolution=6, transfer="point",
                       agg="histogram", raw_ids=True)
    cnt = index_raster(imgs, resolution=6, transfer="point", agg="count",
                       raw_ids=True)
    a = cat.toPandas().set_index("cell")
    b = cnt.toPandas().set_index("cell")
    assert len(a) == len(b)
    for cell, row in a.iterrows():
        h = row["band_1"]
        vals = list(h["values"])
        assert vals == sorted(vals)
        assert sum(h["counts"]) == b.loc[cell, "band_1"]

    binned = index_raster(imgs, resolution=6, transfer="point",
                          agg="histogram", hist_width=2.0,
                          hist_normalize="valid_overlap", raw_ids=True)
    r = binned.limit(5).toPandas()
    assert "count_frac" in dict(r["band_1"].iloc[0])
    for h in r["band_1"]:
        assert abs(sum(h["count_frac"]) - 1.0) < 1e-9


def test_nodata_fill_routes_emit(spark):
    """-n/--nodata-fill: emit policy keeps all pixels with the fill
    value, so per-cell counts equal the full pixel count and means shift
    toward the fill."""
    from raster2dggs_spark.api import index_raster
    from pyspark.sql import functions as F

    imgs = _imgs(spark, 4, scenarios=("multiband_nodata",), size_range=(10, 14))
    omit = index_raster(imgs, resolution=5, transfer="point", agg="count",
                        raw_ids=True)
    fill = index_raster(imgs, resolution=5, transfer="point", agg="count",
                        nodata_policy="emit", nodata_fill=0.0, raw_ids=True)
    n_omit = omit.agg(F.sum("band_1")).collect()[0][0]
    n_fill = fill.agg(F.sum("band_1")).collect()[0][0]
    assert n_fill > n_omit  # filled pixels contribute under emit


def test_overlay_histogram_output(spark):
    """--overlay histogram: per-cell area-weighted binned histogram with
    the A11 naming; area fractions sum to 1 under valid_overlap."""
    from raster2dggs_spark.api import index_raster

    imgs = _imgs(spark, 4, scenarios=("landcover",), size_range=(10, 14))
    out = index_raster(imgs, resolution=6, transfer="overlay",
                       op="histogram", hist_width=2.0,
                       hist_normalize="valid_overlap", raw_ids=True)
    r = out.limit(8).toPandas()
    assert len(r) > 0
    for h in r["band_1"]:
        d = dict(h)
        assert "area_share" in d  # (area, valid_overlap) naming matrix
        assert abs(sum(d["area_share"]) - 1.0) < 1e-9
        assert all(b - a == 2.0 for a, b in zip(d["left"], d["right"]))


def test_histogram_option_validation(spark):
    """Round-3 ADVICE: unsupported (route, hist option) combinations must
    raise, not be silently ignored/mislabeled — hist_origin/hist_edges on
    the overlay route, cross-route hist_weight values."""
    import pytest as _pytest

    from raster2dggs_spark.api import index_raster

    imgs = _imgs(spark, 2, scenarios=("landcover",), size_range=(10, 12))
    for kw in (
        dict(hist_width=2.0, hist_edges=[0.0, 5.0, 10.0]),
        dict(hist_width=2.0, hist_origin=1.0),
        dict(hist_width=2.0, hist_weight="count"),
    ):
        with _pytest.raises(ValueError):
            index_raster(imgs, resolution=6, transfer="overlay",
                         op="histogram", raw_ids=True, **kw)
    with _pytest.raises(ValueError):
        index_raster(imgs, resolution=6, transfer="point", agg="histogram",
                     hist_width=2.0, hist_weight="area", raw_ids=True)
    # explicit matching values still accepted on both routes
    index_raster(imgs, resolution=6, transfer="overlay", op="histogram",
                 hist_width=2.0, hist_weight="area", raw_ids=True)
    index_raster(imgs, resolution=6, transfer="point", agg="histogram",
                 hist_width=2.0, hist_weight="count", raw_ids=True)


def test_overlay_histogram_multiband_one_pass(spark):
    """--overlay histogram with a band LIST: one area-weighted struct
    per band, the expensive coverage supersampling computed once; each
    band's struct equals the single-band run's."""
    from raster2dggs_spark.api import index_raster

    imgs = _imgs(spark, 4, scenarios=("multiband_nodata",),
                 size_range=(10, 12))
    multi = index_raster(imgs, resolution=6, transfer="overlay",
                         op="histogram", hist_width=25.0, band=[1, 2],
                         raw_ids=True).toPandas().set_index("cell")
    assert {"band_1", "band_2"} <= set(multi.columns)

    def norm(s):
        if s is None or isinstance(s, float):
            return None
        d = s.asDict() if hasattr(s, "asDict") else dict(s)
        w = next(v for k, v in d.items() if k not in ("left", "right"))
        return (tuple(d["left"]), tuple(d["right"]),
                tuple(round(x, 6) for x in w))

    for b in (1, 2):
        single = index_raster(imgs, resolution=6, transfer="overlay",
                              op="histogram", hist_width=25.0, band=b,
                              raw_ids=True).toPandas().set_index("cell")
        got = multi[f"band_{b}"].map(norm).dropna()
        exp = single[f"band_{b}"].map(norm)
        assert got.sort_index().equals(exp.sort_index())
