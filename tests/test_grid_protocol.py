"""The grid protocol (raster2dggs_spark/dggs/__init__.py): every grid
module exports the same names with the same signatures, its hierarchy,
Spark parent column and encode/decode agree, resolution auto-modes stay
inside each grid's own range, the index packers range-check, every
encoder runs through the one chunk loop and rejects non-finite points,
and no module outside ``dggs/`` dispatches on a grid key."""

import ast
import hashlib
import pathlib
import re

import numpy as np
import pytest

from raster2dggs_spark.dggs import (
    GRIDS,
    MULTI_PARENT_GRIDS,
    RECT_GRIDS,
    geohashlib,
    grid_lib,
    quadkeylib,
)
from raster2dggs_spark.functions.resolution import (
    EARTH_AREA_M2,
    cell_area_m2_mean,
    resolve_resolution,
)

PROTOCOL = ("lonlat_to_cell", "cell_to_lonlat", "get_resolution",
            "cell_to_parent", "parent_col", "cell_to_children", "pitch_deg",
            "n_cells", "MIN_RES", "MAX_RES", "PARENT_OFFSET")
# encoders that are not canonical at icosahedron face seams (one
# physical hex, two ids): a re-encoded center may land on the twin id
SEAM_AMBIGUOUS = ("hex7", "i3h")


def _points(n=400, seed=7):
    rng = np.random.default_rng(seed)
    return (rng.uniform(-180.0, 180.0, n),
            np.degrees(np.arcsin(rng.uniform(-0.98, 0.98, n))))


def _res(lib):
    return min(lib.MAX_RES - 2, lib.MIN_RES + 2)


@pytest.mark.parametrize("dggs", GRIDS)
def test_protocol_names(dggs):
    lib = grid_lib(dggs)
    for name in PROTOCOL:
        assert hasattr(lib, name), (dggs, name)
    assert hasattr(lib, "lattice") == (dggs in RECT_GRIDS)
    assert 0 <= lib.MIN_RES < lib.MAX_RES


@pytest.mark.parametrize("dggs", GRIDS)
def test_children_invert_parent(dggs):
    lib = grid_lib(dggs)
    r = _res(lib)
    lon, lat = _points()
    cells = np.unique(lib.lonlat_to_cell(lon, lat, r))[:40]
    kids = lib.cell_to_children(cells, r + 2)
    assert (lib.get_resolution(kids) == r + 2).all()
    if dggs in MULTI_PARENT_GRIDS:
        # vertex children are shared: the cell is among their parents
        assert kids.size == cells.size * 49
        par = lib.cell_to_parents(lib.cell_to_children(cells, r + 1))
        assert (par == np.repeat(cells, 7)[:, None]).any(axis=1).all()
        return
    assert kids.size == cells.size * (lib.n_cells(r + 2) // lib.n_cells(r))
    n = kids.size // cells.size
    assert np.array_equal(lib.cell_to_parent(kids, r), np.repeat(cells, n))
    assert np.unique(kids).size == kids.size


@pytest.mark.parametrize("dggs", GRIDS)
def test_reencoded_center_is_same_cell(dggs):
    lib = grid_lib(dggs)
    r = min(lib.MAX_RES, 6)
    lon, lat = _points(2000, seed=3)
    cells = lib.lonlat_to_cell(lon, lat, r)
    clon, clat = lib.cell_to_lonlat(cells)
    again = lib.lonlat_to_cell(clon, clat, r)
    if dggs not in SEAM_AMBIGUOUS:
        assert np.array_equal(again, cells)
        return
    assert (again == cells).mean() > 0.98
    tlon, tlat = lib.cell_to_lonlat(again)
    d = np.hypot((tlon - clon + 180.0) % 360.0 - 180.0, tlat - clat)
    assert d.max() <= lib.pitch_deg(r)


@pytest.mark.parametrize("dggs", GRIDS)
def test_non_finite_points_rejected(dggs):
    lib = grid_lib(dggs)
    r = _res(lib)
    lon = np.array([10.0, np.nan, 20.0, 30.0, 40.0])
    lat = np.array([45.0, 10.0, np.nan, 10.0, 10.0])
    for bad_lon, bad_lat in ((lon, lat), (lon[:2], np.full(2, 10.0)),
                             (np.full(2, 10.0), lat[1:3]),
                             (np.array([np.inf]), np.array([0.0]))):
        with pytest.raises(ValueError,
                           match=f"{dggs}: lon/lat must be finite"):
            lib.lonlat_to_cell(bad_lon, bad_lat, r)
    ok = lib.lonlat_to_cell(lon[[0, 3, 4]], lat[[0, 3, 4]], r)
    assert (lib.get_resolution(ok) == r).all()


# md5 of the little-endian int64 ids of a seeded 20k global sample
RHOMBUS_ID_MD5 = {
    ("i4r", 5): "95d2b1bd7ed63c9d7a1b7a5912bca837",
    ("i4r", 12): "89bbfa8c79f457269c5918432782b700",
    ("i9r", 3): "7eedc04ee1481400e558d9578672030f",
    ("i9r", 8): "d012158dafda1ba02a08b80123f10bdb",
    ("e4r", 5): "f462d049793a91a3322da2c505f627d4",
    ("e4r", 12): "0e5e89568647137bbfb7613b9dde073d",
    ("e9r", 3): "169d0487c7c5a04a25bedca0c0549d0a",
    ("e9r", 8): "6fc2e9f6c20aa243cf8015e7b7292a39",
}


@pytest.mark.parametrize("dggs,res", sorted(RHOMBUS_ID_MD5))
def test_rhombus_ids_pinned(dggs, res):
    """The rhombus family's ids are pinned exactly (integers only:
    float outputs may differ in their last bits across CPU paths)."""
    rng = np.random.default_rng(20)
    lon = rng.uniform(-180.0, 180.0, 20000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 20000)))
    ids = grid_lib(dggs).lonlat_to_cell(lon, lat, res)
    got = hashlib.md5(ids.astype("<i8").tobytes()).hexdigest()
    assert got == RHOMBUS_ID_MD5[(dggs, res)]


@pytest.mark.parametrize("dggs", GRIDS)
def test_parent_col_matches_numpy(spark, dggs):
    import pandas as pd
    from pyspark.sql import functions as F

    lib = grid_lib(dggs)
    r = _res(lib) + 2
    lon, lat = _points(200)
    cells = np.unique(lib.lonlat_to_cell(lon, lat, r))
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}), "cell long")
    for pr in (r - 1, lib.MIN_RES):
        got = (df.select("cell", lib.parent_col(F.col("cell"), pr, r)
                         .alias("p")).toPandas().sort_values("cell"))
        exp = lib.cell_to_parent(got["cell"].values, pr)
        assert np.array_equal(got["p"].values, exp), (dggs, pr)


@pytest.mark.parametrize("dggs", GRIDS)
def test_mean_area_partitions_the_sphere(dggs):
    lib = grid_lib(dggs)
    sphere = EARTH_AREA_M2
    if dggs == "quadkey":  # tiles cover the |lat| <= 85.05° band only
        sphere *= np.sin(np.radians(quadkeylib.MAX_LAT))
    for r in range(lib.MIN_RES, min(lib.MAX_RES, 12) + 1):
        assert lib.n_cells(r) * cell_area_m2_mean(r, dggs) == pytest.approx(
            sphere, rel=1e-12)


@pytest.mark.parametrize("dggs", GRIDS)
@pytest.mark.parametrize("mode", ["smaller-than-pixel", "larger-than-pixel",
                                  "min-diff"])
def test_auto_resolution_in_range_and_encodes(dggs, mode):
    lib = grid_lib(dggs)
    for px in (1e-6, 1.0, 900.0, 1e6, 1e10, 1e16):
        r = resolve_resolution(mode, px, dggs)
        assert lib.MIN_RES <= r <= lib.MAX_RES, (dggs, mode, px, r)
        c = lib.lonlat_to_cell(np.array([10.0]), np.array([45.0]), r)
        assert lib.get_resolution(c)[0] == r


def test_geohash_min_diff_at_900_m2():
    # precision 8 cells are ~464 m², precision 7 ~14 800 m²
    assert resolve_resolution("min-diff", 900.0, dggs="geohash") == 8


def test_index_packers_range_check():
    with pytest.raises(ValueError):
        quadkeylib.tile_to_cell([4, -1], [0, 0], 2)
    with pytest.raises(ValueError):
        quadkeylib.tile_to_cell([0], [4], 2)
    good = quadkeylib.tile_to_cell([3, 0], [0, 3], 2)
    assert quadkeylib.is_valid_cell(good).all()
    # the tile block the benchmark's cost-distance lattice uses
    t = np.arange(128, 192)
    assert quadkeylib.is_valid_cell(quadkeylib.tile_to_cell(t, t, 9)).all()
    nlon, nlat = 1 << 8, 1 << 7          # geohash precision 3: 15 bits
    with pytest.raises(ValueError):
        geohashlib.cell_from_indices([nlon], [0], 3)
    with pytest.raises(ValueError):
        geohashlib.cell_from_indices([0], [-1], 3)
    c = geohashlib.cell_from_indices([nlon - 1], [nlat - 1], 3)
    assert geohashlib.cells_to_string(c) == ["zzz"]


_DISPATCH = re.compile(r'dggs\s*(==|!=)\s*"|dggs\s+(not\s+)?in\s+\(')


def test_no_grid_dispatch_outside_dggs():
    """Grid-specific behaviour lives in the grid modules: no package
    module outside ``dggs/`` compares a grid key to a literal."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "raster2dggs_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.parent.name == "dggs":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if _DISPATCH.search(line):
                hits.append(f"{path.relative_to(pkg.parent)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)


def _is_literal(node):
    return isinstance(node, ast.Constant) or (
        isinstance(node, ast.UnaryOp) and isinstance(node.operand,
                                                     ast.Constant))


def test_one_encode_loop():
    """Chunked encoding lives only in ``_hier.encode_chunked``: no other
    ``dggs/`` module steps a loop by a computed stride (a chunk loop)."""
    dggs_dir = (pathlib.Path(__file__).resolve().parents[1]
                / "raster2dggs_spark" / "dggs")
    hits = []
    for path in sorted(dggs_dir.glob("*.py")):
        if path.name == "_hier.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.For) and isinstance(node.iter, ast.Call)
                    and getattr(node.iter.func, "id", None) == "range"
                    and len(node.iter.args) == 3
                    and not _is_literal(node.iter.args[2])):
                hits.append(f"{path.name}:{node.lineno}")
    assert not hits, hits
