"""Pixel→DGGS-cell indexing — the engine's Stage 1.

Reference semantics (point transfer): every pixel centre is affine-
transformed to WGS84 and encoded to its containing cell at ``res``, plus a
parent cell at ``parent_res`` used as the partition key
(/root/reference/raster2dggs/indexers/rasterindexer.py:118-221 and
h3rasterindexer.py:15-40).  Architecture here is Spark-first:

- one ``mapInPandas`` over image rows replaces the reference's thread pool
  + temp hive store (Arrow both directions, no per-row Python),
- the shuffle at ``groupBy(parent, cell)`` replaces the stage-1/stage-2
  disk round-trip,
- for algebraic aggregates we pre-aggregate per (image, cell) *inside* the
  UDF (map-side combine): the shuffle then moves ~cells instead of
  ~pixels — the decisive 100-TB lever (SURVEY.md §4).

Nodata semantics are the reference's exactly: ``omit`` masks per-band
nodata to NaN and drops only pixels that are nodata in *every* band
(rasterindexer.py:160-170); ``emit`` keeps all pixels and fills
(rasterindexer.py:146-157).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2dggs_spark.dggs import grid_lib
from raster2dggs_spark.dggs.cover import wrap_lon
from raster2dggs_spark.operators.joins import parent_expr

MAX_BANDS_DEFAULT = 4

_UDF_INPUT_COLS = [
    "image_id", "bytes", "fmt", "nodata",
    "affine_a", "affine_b", "affine_c", "affine_d", "affine_e", "affine_f",
    "crs",
]


def _prune(images: DataFrame, keep_image_id: bool = True,
           keep_band_names: bool = False) -> DataFrame:
    """Column-prune before the Arrow boundary: captions/phash (and
    band_names unless label-selection needs them) never cross into the
    UDF (they'd be serialized for nothing)."""
    cols = [c for c in _UDF_INPUT_COLS if c in images.columns]
    if not keep_image_id:
        cols = [c for c in cols if c != "image_id"]
    if keep_band_names and "band_names" in images.columns:
        cols.append("band_names")
    return images.select(*cols)


def _wants_labels(bands) -> bool:
    return bool(bands) and not all(
        isinstance(b, int) or str(b).isdigit() for b in bands
    )


def resolve_bands(bands, band_names, count: int) -> list[int]:
    """P1 band selection, reference semantics (common.py:770-801):
    all-numeric selections are 1-based indices; otherwise labels resolve
    via the image's band_names (falling back to band_<i>); unknown labels
    raise; duplicates collapse keeping first occurrence.

    Deviation: an index beyond the image's band count is DROPPED rather
    than raised — tables here mix per-image band counts and the fixed
    output schema null-fills short images (P5), where a GDAL raster has
    one global count."""
    if not bands:
        return list(range(1, count + 1))
    if _wants_labels(bands):
        names = {}
        for i in range(1, count + 1):
            label = None
            if band_names is not None and i <= len(band_names):
                label = band_names[i - 1]
            names[label or f"band_{i}"] = i
        idx = []
        for b in bands:
            if str(b) not in names:
                raise ValueError(f"Requested band name not found: {b}")
            idx.append(names[str(b)])
    else:
        idx = [int(b) for b in bands]
    seen: set[int] = set()
    return [i for i in idx if 1 <= i <= count
            and not (i in seen or seen.add(i))]


def band_cols(n_bands: int) -> list[str]:
    return [f"band_{i + 1}" for i in range(n_bands)]


def cell_column_name(dggs: str, res: int) -> str:
    """Reference's zero-padded output column naming, e.g. ``h3_09``
    (/root/reference/raster2dggs/indexers/rasterindexer.py:76-82)."""
    pad = 2
    return f"{dggs}_{res:0{pad}d}"


def _decode_rows(pdf: pd.DataFrame, bands_sel):
    """Yield (row, (bands,h,w) float32 array masked per nodata→NaN)."""
    from raster2dggs_spark.codecs import decode_image

    for row in pdf.itertuples(index=False):
        arr = decode_image(row.bytes)
        if bands_sel is not None:
            names = getattr(row, "band_names", None)
            take = [b - 1 for b in
                    resolve_bands(bands_sel, names, arr.shape[0])]
            arr = arr[take]
        nd = row.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        yield row, arr


def _encode_points(lon, lat, res, parent_res, dggs):
    """Encode points; parent computed only when ``parent_res`` is not
    None (the shuffle-optimized paths derive parents post-aggregation
    with native bitwise expressions instead of shuffling them)."""
    lib = grid_lib(dggs)
    # antimeridian-crossing tiles produce pixel-centre lons beyond ±180
    # (F14) — canonicalize before the encode (flat grids would clamp)
    cell = lib.lonlat_to_cell(wrap_lon(lon), lat, res)
    parent = None if parent_res is None else lib.cell_to_parent(cell, parent_res)
    return cell, parent


def default_parent_res(res: int, dggs: str = "hex7") -> int:
    """Reference default: parent_res = max(MIN_RES, res - offset), the
    grid's ``PARENT_OFFSET`` sized for ~64K subcells per partition
    (cli_factory.py:124-161)."""
    lib = grid_lib(dggs)
    return max(lib.MIN_RES, res - lib.PARENT_OFFSET)


def pixel_cells(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: list[int] | None = None,
    n_bands: int = MAX_BANDS_DEFAULT,
    nodata_policy: str = "omit",
    nodata_fill: float | None = None,
    keep_image_id: bool = True,
) -> DataFrame:
    """Explode images into per-pixel cell rows (narrow, no shuffle).

    Output: (image_id?, parent, cell, band_1..band_k doubles).  Fixed
    schema: images with fewer bands emit nulls in the tail columns — the
    Spark-safe version of the reference's all-nodata band drop
    (SURVEY.md §2.2 P5)."""
    from raster2dggs_spark.dggs import check_grid

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    bcols = band_cols(n_bands)
    fields = ([T.StructField("image_id", T.StringType(), False)] if keep_image_id else [])
    fields += [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
    ] + [T.StructField(c, T.DoubleType(), True) for c in bcols]
    schema = T.StructType(fields)

    emit_fill = nodata_fill

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        buf: list[pd.DataFrame] = []
        buf_rows = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, bands):
                k, h, w = arr.shape
                vals = arr.reshape(k, h * w).astype(np.float64)
                if nodata_policy == "omit":
                    keep = ~np.all(np.isnan(vals), axis=0)
                    if not keep.any():
                        continue
                elif nodata_policy == "emit":
                    keep = slice(None)
                    if emit_fill is not None:
                        vals = np.where(np.isnan(vals), emit_fill, vals)
                    elif row.nodata is not None and not np.isnan(row.nodata):
                        vals = np.where(np.isnan(vals), row.nodata, vals)
                else:
                    raise ValueError(nodata_policy)
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                lon, lat = lon[keep], lat[keep]
                vals = vals[:, keep]
                cell, parent = _encode_points(lon, lat, res, parent_res, dggs)
                data = {}
                if keep_image_id:
                    data["image_id"] = np.repeat(row.image_id, cell.shape[0])
                data["parent"] = parent
                data["cell"] = cell
                for i, c in enumerate(bcols):
                    data[c] = vals[i] if i < k else np.full(cell.shape[0], np.nan)
                buf.append(pd.DataFrame(data))
                buf_rows += cell.shape[0]
                if buf_rows >= 250_000:
                    yield pd.concat(buf, ignore_index=True)
                    buf, buf_rows = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return _prune(images, keep_image_id,
                  keep_band_names=_wants_labels(bands)).mapInPandas(fn, schema)


# ---- flagship: decode→index→aggregate with map-side combine ------------

# stats required per user-facing agg
_STATS_FOR_AGG = {
    "mean": ("cnt", "sum"),
    "sum": ("cnt", "sum"),
    "count": ("cnt",),
    "min": ("min",),
    "max": ("max",),
    "std": ("cnt", "sum", "sumsq"),
    "var": ("cnt", "sum", "sumsq"),
}


def _partial_schema(n_bands: int, stats: tuple[str, ...]) -> T.StructType:
    fields = [
        T.StructField("cell", T.LongType(), False),
        T.StructField("npx", T.LongType(), False),  # kept pixels in cell
    ]
    for c in band_cols(n_bands):
        for s in stats:
            t = T.LongType() if s == "cnt" else T.DoubleType()
            fields.append(T.StructField(f"{c}_{s}", t, True))
    return T.StructType(fields)


def cell_partials(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: list[int] | None = None,
    n_bands: int = MAX_BANDS_DEFAULT,
    nodata_policy: str = "omit",
    stats: tuple[str, ...] = ("cnt", "sum", "min", "max", "sumsq"),
    pixel_budget: int = 120_000,
) -> DataFrame:
    """Per-cell algebraic partials computed inside the UDF (map-side
    combine: shuffle volume ~#cells, not ~#pixels).

    Images are accumulated up to ``pixel_budget`` pixels and reduced in
    one vectorized pass (single encode + bincount family per flush) — the
    per-cell unique-reduction generalizes the reference's unique-dedupe
    trick (h3rasterindexer.py:28-36) across tiles.  The default budget is
    deliberately cache-sized: measured on local[32], 120k-pixel flushes
    run ~5x faster end-to-end than 2M-pixel flushes (allocation churn and
    L2 eviction dominate long before Arrow batching overhead matters)."""
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    bcols = band_cols(n_bands)
    schema = _partial_schema(n_bands, stats)

    def flush(lon_l, lat_l, val_l):
        lon = np.concatenate(lon_l)
        lat = np.concatenate(lat_l)
        vals = np.concatenate(val_l, axis=1)  # (n_bands, npx_total)
        cell, _ = _encode_points(lon, lat, res, None, dggs)
        ucell, inv = np.unique(cell, return_inverse=True)
        m = ucell.shape[0]
        data = {
            "cell": ucell,
            "npx": np.bincount(inv, minlength=m).astype(np.int64),
        }
        for i, c in enumerate(bcols):
            v = vals[i]
            ok = ~np.isnan(v)
            iv = inv[ok]
            vv = v[ok]
            cnt = np.bincount(iv, minlength=m).astype(np.int64)
            if "cnt" in stats:
                data[f"{c}_cnt"] = cnt
            if "sum" in stats:
                s = np.bincount(iv, weights=vv, minlength=m)
                data[f"{c}_sum"] = np.where(cnt > 0, s, np.nan)
            if "sumsq" in stats:
                ssq = np.bincount(iv, weights=vv * vv, minlength=m)
                data[f"{c}_sumsq"] = np.where(cnt > 0, ssq, np.nan)
            if "min" in stats:
                mn = np.full(m, np.inf)
                np.minimum.at(mn, iv, vv)
                mn[cnt == 0] = np.nan
                data[f"{c}_min"] = mn
            if "max" in stats:
                mx = np.full(m, -np.inf)
                np.maximum.at(mx, iv, vv)
                mx[cnt == 0] = np.nan
                data[f"{c}_max"] = mx
        return pd.DataFrame(data)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.geo import pixel_centers_lonlat

        lon_l: list[np.ndarray] = []
        lat_l: list[np.ndarray] = []
        val_l: list[np.ndarray] = []
        acc = 0
        for pdf in batches:
            for row, arr in _decode_rows(pdf, bands):
                k, h, w = arr.shape
                vals = arr.reshape(k, h * w).astype(np.float64)
                if nodata_policy == "omit":
                    keep = ~np.all(np.isnan(vals), axis=0)
                    if not keep.any():
                        continue
                    vals = vals[:, keep]
                else:
                    keep = slice(None)
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                lon, lat = pixel_centers_lonlat(affine, w, h, row.crs)
                lon_l.append(lon[keep])
                lat_l.append(lat[keep])
                if k < n_bands:  # pad to fixed schema
                    pad = np.full((n_bands - k, vals.shape[1]), np.nan)
                    vals = np.vstack([vals, pad])
                val_l.append(vals[:n_bands])
                acc += val_l[-1].shape[1]
                if acc >= pixel_budget:
                    yield flush(lon_l, lat_l, val_l)
                    lon_l, lat_l, val_l, acc = [], [], [], 0
        if acc:
            yield flush(lon_l, lat_l, val_l)

    return _prune(images, keep_image_id=False,
                  keep_band_names=_wants_labels(bands)).mapInPandas(fn, schema)


def index_point_agg(
    images: DataFrame,
    res: int,
    agg: str = "mean",
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: list[int] | None = None,
    n_bands: int = MAX_BANDS_DEFAULT,
    nodata_policy: str = "omit",
) -> DataFrame:
    """Flagship query: reference's ``--point value --agg <f>`` path
    (SURVEY.md §3.1), one shuffle total.

    agg ∈ {mean, sum, count, min, max, std, var}: computed from algebraic
    partials so the combine is exact and single-pass."""
    from raster2dggs_spark.dggs import check_grid

    check_grid(dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    stats = _STATS_FOR_AGG[agg]
    partials = cell_partials(
        images, res, parent_res, dggs, bands, n_bands, nodata_policy,
        stats=stats,
    )
    bcols = band_cols(n_bands)
    combine = {"cnt": F.sum, "sum": F.sum, "sumsq": F.sum, "min": F.min, "max": F.max}
    aggs = [F.sum("npx").alias("npx")]
    for c in bcols:
        for s in stats:
            aggs.append(combine[s](f"{c}_{s}").alias(f"{c}_{s}"))
    # the shuffle carries only (cell, partials); parent is derived AFTER
    # the exchange (8 bytes/row less shuffle) — pure bit arithmetic for
    # the nested grids, a vectorized UDF for i3h (its centroid-parent is
    # hex-rounding math, inexpressible as a Column)
    g = partials.groupBy("cell").agg(*aggs)
    g = g.withColumn("parent", parent_expr("cell", parent_res, dggs,
                                           from_res=res))
    out_cols = [F.col("parent"), F.col("cell"), F.col("npx")]
    for c in bcols:
        cnt = F.col(f"{c}_cnt")
        s = F.col(f"{c}_sum")
        if agg == "mean":
            e = F.when(cnt > 0, s / cnt)
        elif agg == "sum":
            e = F.when(cnt > 0, s)
        elif agg == "count":
            e = cnt.cast("double")
        elif agg == "min":
            e = F.col(f"{c}_min")
        elif agg == "max":
            e = F.col(f"{c}_max")
        elif agg in ("var", "std"):
            # sample variance from (n, Σx, Σx²)
            v = (F.col(f"{c}_sumsq") - s * s / cnt) / (cnt - 1)
            e = F.when(cnt > 1, F.sqrt(v) if agg == "std" else v)
        else:
            raise ValueError(f"agg {agg!r} needs the raw-pixel path")
        out_cols.append(e.alias(c))
    return g.select(*out_cols)


def index_point(
    images: DataFrame,
    res: int,
    agg: str = "mean",
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: list[int] | None = None,
    n_bands: int = MAX_BANDS_DEFAULT,
    nodata_policy: str = "omit",
    decimals: int | None = None,
    nodata_fill: float | None = None,
) -> DataFrame:
    """Full reference ``--point`` aggregation surface.

    Algebraic aggs (mean/sum/count/min/max/std/var) route through the
    map-side-combine partials path (one shuffle); holistic aggs
    (median/mode/majority/nunique/range/list) — and any agg under the
    emit/fill nodata policy (P4, which changes the contributing pixel
    set) — route through exploded pixel rows + the generic builders
    (aggregates.py); Catalyst still plans partial/final where the
    function allows."""
    from raster2dggs_spark.operators import aggregates as A

    if agg in _STATS_FOR_AGG and nodata_fill is None:
        out = index_point_agg(images, res, agg, parent_res, dggs, bands,
                              n_bands, nodata_policy)
    elif agg in _STATS_FOR_AGG:
        px = pixel_cells(images, res, parent_res, dggs, bands, n_bands,
                         nodata_policy, nodata_fill, keep_image_id=False)
        out = A.agg_single(px, ["parent", "cell"], band_cols(n_bands),
                           {"mean": "mean", "sum": "sum", "count": "count",
                            "min": "min", "max": "max", "std": "std",
                            "var": "var"}[agg])
    else:
        px = pixel_cells(images, res, parent_res, dggs, bands, n_bands,
                         nodata_policy, nodata_fill, keep_image_id=False)
        bcols = band_cols(n_bands)
        if agg in ("median", "nunique", "range", "prod"):
            out = A.agg_single(px, ["parent", "cell"], bcols, agg)
        elif agg == "mode":
            out = A.agg_mode(px, ["parent", "cell"], bcols[0], out=bcols[0])
        elif agg == "majority":
            out = A.agg_majority(px, ["parent", "cell"], bcols[0], out=bcols[0])
        elif agg == "list":
            # one list per band in a single pass (ref --point list emits
            # a list column per selected band, common.py:495-502)
            out = A.agg_list(px, ["parent", "cell"], bcols,
                             decimals=decimals)
            decimals = None  # already applied to elements
        else:
            raise ValueError(f"unknown agg {agg!r}")
    if decimals is not None:
        from raster2dggs_spark.operators.aggregates import round_decimals

        out = round_decimals(out, [c for c in band_cols(n_bands) if c in out.columns],
                             decimals)
    return out


def to_reference_output(df: DataFrame, dggs: str, res: int, parent_res: int) -> DataFrame:
    """Output-edge formatting: hex-string cell ids in zero-padded columns,
    hive-partition-ready (reference output contract, common.py:533-572).

    The grid key is contract-checked here: the hexagonal grid labels its
    outputs ``hex7_NN`` (H3-layout geometry, NOT libh3-interoperable ids
    — see dggs.check_grid)."""
    from raster2dggs_spark.dggs import check_grid

    check_grid(dggs)
    cell_col = cell_column_name(dggs, res)
    parent_col = cell_column_name(dggs, parent_res)
    out = df.withColumn(cell_col, F.lower(F.hex("cell"))).withColumn(
        parent_col, F.lower(F.hex("parent"))
    ).drop("cell", "parent")
    if "npx" in out.columns:
        out = out.drop("npx")  # engine bookkeeping, not a reference column
    return out
