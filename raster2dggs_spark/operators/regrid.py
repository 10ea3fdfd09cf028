"""Cross-grid regridding: convert a cell-indexed layer between DGGS
grids (any of the 11 backends on either side).

The reference indexes one raster into ONE grid per run (each indexer
hardwires its grid, e.g. `/root/reference/raster2dggs/h3rasterindexer.py`
vs `s2rasterindexer.py`); converting an existing H3-indexed layer to S2
means re-running from the source raster.  At 100 TB that re-run is the
expensive path — this operator converts the (much smaller) cell table
directly.

Method — first-order conservative "centroid regrid":

- every source cell contributes its value at its centroid with weight =
  its exact spherical area (``cell_area_m2`` closed forms, F7);
- the centroid is encoded into the destination grid; a destination
  cell's value is the area-weighted mean (intensive quantities:
  temperature, NDVI) or the plain sum (extensive: counts, mass) of the
  source cells that land in it;
- optional ``oversample=k`` refines each source cell into its own
  children at ``src_res + k`` first (every grid whose children
  partition their parent), splitting the parent's area equally across
  children — boundary-accurate for source cells comparable in size to
  destination cells.

Exactness: when the source pitch is well below the destination pitch
(the downsample direction this is for), centroid assignment equals the
true area-overlap assignment for all cells except the O(pitch ratio)
boundary ring, and oversampling shrinks that ring by 2^-k (4^-k cells).
Mass (Σ value·area for mean mode, Σ value for sum mode) is EXACTLY
conserved for every k — each source contribution lands in exactly one
destination cell.

Scale shape (100 TB): the input is the already-aggregated cell table
(~cells, never ~pixels).  One narrow ``mapInPandas`` computes
centroid→encode and pre-combines per destination cell WITHIN each batch
(map-side shrink), then ONE exchange finalizes the weighted means.  No
joins, no collect; every batch is O(batch × oversample children).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODES = ("mean", "sum")


def regrid_cells(
    cells: DataFrame,
    value_cols: list[str],
    src_dggs: str,
    dst_dggs: str,
    dst_res: int,
    cell_col: str = "cell",
    mode: str = "mean",
    oversample: int = 0,
) -> DataFrame:
    """Regrid a per-cell table from ``src_dggs`` onto ``dst_dggs`` at
    ``dst_res``.  Source resolution rides in each packed cell id.

    Returns one row per destination cell: ``cell`` (dst id), ``n_src``
    (source contributions), ``w_sum`` (total contributed source area,
    m²), and each value column reduced per ``mode``:

    - ``mean``: source-area-weighted mean — intensive quantities;
    - ``sum``: plain sum of source values — extensive quantities
      (counts, masses); each source cell lands in exactly one
      destination cell, so totals are conserved exactly.

    NULL/NaN source values contribute neither weight nor value to that
    column (per-column weights, like every NaN-aware mean here).
    """
    from raster2dggs_spark.dggs import MULTI_PARENT_GRIDS, check_grid, grid_lib
    from raster2dggs_spark.dggs.cover import encode

    src_lib = grid_lib(src_dggs)
    check_grid(dst_dggs)
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    if oversample < 0:
        raise ValueError("oversample must be >= 0")
    if oversample and src_dggs in MULTI_PARENT_GRIDS:
        # children SHARED between parents are not a partition — equal
        # area splits would be wrong weights.  Centroid mode is
        # grid-generic.
        raise ValueError(
            f"oversample needs children that partition their parent; "
            f"{src_dggs!r} shares them — use oversample=0 (centroid "
            "regrid)")

    part_fields = [T.StructField("cell", T.LongType(), False),
                   T.StructField("n_src", T.LongType(), False),
                   T.StructField("w_sum", T.DoubleType(), False)]
    for c in value_cols:
        part_fields.append(T.StructField(f"wv_{c}", T.DoubleType(), True))
        part_fields.append(T.StructField(f"w_{c}", T.DoubleType(), True))
    part_schema = T.StructType(part_fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            src = pdf[cell_col].to_numpy(dtype=np.int64)
            w = src_lib.cell_area_m2(src)
            vals = {c: pdf[c].to_numpy(dtype=np.float64) for c in value_cols}
            if oversample:
                res = src_lib.get_resolution(src)
                if res.min() != res.max():
                    raise ValueError(
                        "oversample requires a single source resolution")
                child_res = int(res[0]) + oversample
                kid_ids = src_lib.cell_to_children(src, child_res)
                n_kids = kid_ids.shape[0] // src.shape[0]  # uniform per res
                rep = np.repeat(np.arange(src.shape[0]), n_kids)
                w = w[rep] / float(n_kids)
                # intensive values replicate; extensive ones split
                vals = {c: v[rep] if mode == "mean" else v[rep] / n_kids
                        for c, v in vals.items()}
                src = kid_ids
            lon, lat = src_lib.cell_to_lonlat(src)
            dst = encode(lon, lat, dst_res, dst_dggs)
            data = {"cell": dst, "w_all": w}
            for c in value_cols:
                v = vals[c]
                ok = np.isfinite(v)
                data[f"wv_{c}"] = np.where(ok, v * w if mode == "mean"
                                           else v, 0.0)
                data[f"w_{c}"] = np.where(ok, w, 0.0)
            part = pd.DataFrame(data)
            g = part.groupby("cell", sort=False)
            out = g.agg(**{
                "n_src": ("w_all", "size"),
                "w_sum": ("w_all", "sum"),
                **{k: (k, "sum") for c in value_cols
                   for k in (f"wv_{c}", f"w_{c}")},
            }).reset_index()
            yield out[[f.name for f in part_fields]]

    parts = cells.mapInPandas(fn, part_schema)
    agg = parts.groupBy("cell").agg(
        F.sum("n_src").alias("n_src"),
        F.sum("w_sum").alias("w_sum"),
        *[F.sum(k).alias(k) for c in value_cols
          for k in (f"wv_{c}", f"w_{c}")],
    )
    final = [F.col("cell"), F.col("n_src"), F.col("w_sum")]
    for c in value_cols:
        if mode == "mean":
            final.append(
                (F.col(f"wv_{c}") / F.nullif(F.col(f"w_{c}"), F.lit(0.0)))
                .alias(c))
        else:
            final.append(F.col(f"wv_{c}").alias(c))
    return agg.select(*final)


def pyramid_rollup(cells_df: DataFrame, value_col: str, from_res: int,
                   to_res: int, dggs: str, cell_col: str = "cell"
                   ) -> DataFrame:
    """Multi-resolution pyramid of a cell-indexed layer: one row per
    (res, cell) for every level from ``from_res`` down to ``to_res``,
    carrying sum / count / min / max / mean of ``value_col`` — the cell
    analogue of a COG overview pyramid (the reference's resolution
    modes pick ONE res per run, `common.py:67-122`; dashboards want
    every zoom level of the same index).

    Scale shape: level r is aggregated FROM LEVEL r+1's partials via
    the native bitwise ``parent_expr`` — a tree reduction, so total
    shuffle volume is the sum of the (geometrically shrinking) level
    sizes, not levels x base, and no level ever re-reads the base
    table.  sum/count/min/max compose exactly through the tree; mean
    is finalized from the partials per emitted level."""
    if to_res > from_res:
        raise ValueError("to_res must be <= from_res")
    from raster2dggs_spark.operators.joins import parent_expr

    cur = cells_df.groupBy(cell_col).agg(
        F.sum(value_col).alias("v_sum"),
        F.count(value_col).alias("v_count"),
        F.min(value_col).alias("v_min"),
        F.max(value_col).alias("v_max"),
    )
    levels = []
    for r in range(from_res, to_res - 1, -1):
        if r < from_res:
            cur = (cur.groupBy(
                parent_expr(cell_col, r, dggs, from_res=r + 1)
                .alias(cell_col))
                .agg(F.sum("v_sum").alias("v_sum"),
                     F.sum("v_count").alias("v_count"),
                     F.min("v_min").alias("v_min"),
                     F.max("v_max").alias("v_max")))
        levels.append(cur.withColumn("res", F.lit(r).cast("long")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        "res", cell_col, "v_sum",
        F.col("v_count").cast("long").alias("v_count"),
        "v_min", "v_max",
        (F.col("v_sum") / F.col("v_count")).alias("v_mean"),
    )


def rasterize_cells(
    cells: DataFrame,
    value_cols: list[str],
    bbox: tuple[float, float, float, float],
    width: int,
    height: int,
    res: int,
    dggs: str = "quadkey",
    cell_col: str = "cell",
    crs: str = "EPSG:4326",
) -> DataFrame:
    """Inverse of stage-1 indexing — sample a cell-keyed surface onto a
    regular north-up raster grid (the r.out.gdal / gdal_grid export
    shape): one output row per target pixel, ``(px, py, cell,
    <value_cols>)``, nearest-cell (point-in-cell) assignment at the
    pixel centre.  ``bbox`` = (minx, miny, maxx, maxy) in ``crs``
    units; row 0 is the top (maxy) row, GDAL-style.

    Plan: the pixel lattice comes from ``spark.range`` (no input scan,
    perfectly even partitions); pixel-centre -> lon/lat -> cell encode
    runs in ONE Arrow-batched ``mapInPandas`` over the lattice (the
    engine's vectorized encode path — no shuffle); values attach with
    ONE equi-join on the cell key.  At raster-export scale the pixel
    side is the big one and the aggregated cell side is the small one
    — AQE broadcasts it when it fits.  Feed the result to
    ``sources.geotiff.write_geotiff`` per band for a file artifact.
    """
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.dggs import check_grid

    check_grid(dggs)
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    spark = cells.sparkSession
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    dx = (maxx - minx) / width
    dy = (maxy - miny) / height
    lattice = spark.range(width * height).select(
        (F.col("id") % width).alias("px"),
        F.expr(f"id DIV {width}").alias("py"))

    def fn(batches):
        from raster2dggs_spark.geo.crs import to_lonlat
        from raster2dggs_spark.operators.indexing import _encode_points

        for pdf in batches:
            for lo in range(0, len(pdf), 65536):
                ch = pdf.iloc[lo:lo + 65536]
                px = ch["px"].to_numpy()
                py = ch["py"].to_numpy()
                xs = minx + (px + 0.5) * dx
                ys = maxy - (py + 0.5) * dy
                lon, lat = to_lonlat(xs, ys, crs)
                cell, _ = _encode_points(lon, lat, res, None, dggs)
                yield pd.DataFrame({"px": px, "py": py, "cell": cell})

    enc = lattice.mapInPandas(fn, "px long, py long, cell long")
    vals = cells.select(F.col(cell_col).alias("cell"), *value_cols)
    return enc.join(vals, "cell", "left").select(
        "px", "py", "cell", *value_cols)


def pansharpen_cells(ms: DataFrame, pan: DataFrame, ms_res: int,
                     pan_res: int, dggs: str = "quadkey",
                     band_cols=("b1", "b2", "b3"), pan_col: str = "pan",
                     cell_col: str = "cell",
                     weights=None) -> DataFrame:
    """Brovey pan-sharpening THROUGH the cell lattice (GRASS
    ``r.pansharpen`` / the classic Brovey transform): a low-resolution
    multispectral cell layer at ``ms_res`` is fused with a
    high-resolution panchromatic layer at ``pan_res`` on the same grid
    family::

        intensity = sum(b) / k            (unweighted default — the
                                           integer band sum is EXACT,
                                           so float association can't
                                           drift; pass ``weights`` for
                                           the weighted variant)
        out_b     = ms_b * (pan / intensity)

    Cells whose intensity is not strictly positive emit NULL sharpened
    bands (Brovey undefined); pan cells with no multispectral parent
    are absent (inner join).

    Scale shape (100-TB): ONE equi-join — the pan layer joins its
    NATIVE bitwise parent key (``parent_expr``, zero Python) to the
    multispectral cells, then pure column math; no resampling kernel,
    no UDF, no window.  The MS side is |pan| / 4^(res gap) rows, so
    AQE broadcasts it when small; otherwise both sides shuffle once on
    the parent key.
    """
    from raster2dggs_spark.operators.joins import parent_expr

    bands = list(band_cols)
    p = pan.select(
        F.col(cell_col).alias("__pcell"), F.col(pan_col).alias("__pan"),
        parent_expr(cell_col, ms_res, dggs, from_res=pan_res)
        .alias("__parent"))
    m = ms.select(F.col(cell_col).alias("__parent"),
                  *[F.col(b) for b in bands])
    j = p.join(m, "__parent")
    if weights is None:
        total = bands[0]
        acc = F.col(bands[0])
        for b in bands[1:]:
            acc = acc + F.col(b)
        intensity = acc / F.lit(float(len(bands)))
    else:
        ws = [float(w) for w in weights]
        acc = F.lit(ws[0]) * F.col(bands[0])
        for wgt, b in zip(ws[1:], bands[1:]):
            acc = acc + F.lit(wgt) * F.col(b)
        intensity = acc
    ratio = F.when(intensity > 0.0, F.col("__pan") / intensity)
    return j.select(
        F.col("__pcell").alias(cell_col),
        F.col("__pan").alias(pan_col),
        *[(F.col(b) * ratio).alias(f"sharp_{b}") for b in bands])
