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


def test_no_partitioned_write_outside_layout():
    """Every hive-partitioned write goes through
    plans/layout.write_partitioned: no other package module calls a
    writer's ``partitionBy`` (``Window.partitionBy`` is not a write)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "raster2dggs_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "plans" / "layout.py":
            continue
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
