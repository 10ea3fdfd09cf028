"""Overlay transfer (``--overlay``): area-weighted cell aggregates.

Reference semantics (/root/reference/raster2dggs/indexers/overlay.py):
exactextract computes pixel∩cell coverage fractions per cell, then
weighted_mean / weighted_sum (geodesic pixel-area weights,
overlay.py:178-220, 391-424), mass-preserving sum (Σ v·cov), majority by
area, class fractions (overlay.py:51-65, 492-517), and a valid-coverage
threshold (overlay.py:426-488).

Our coverage core replaces polygon clipping with **subpixel
supersampling through the forward encoder**: each pixel is split into
S×S subsamples, each subsample is assigned to exactly one cell by
``latlng_to_cell``.  Hence

- coverage(cell, px) = (#subsamples in cell)/S² *partitions* every pixel
  (Σ_cells cov = 1 exactly) → mass conservation holds to machine
  precision, the property the reference pins at
  tests/classes/test_output_schema.py:555-570;
- the cell regions used are *definitionally* the encoder's (no polygon
  approximation mismatch at seams);
- accuracy of area weighting converges as S grows (default 4 ⇒ ±1/32
  pixel edge resolution).

Cross-tile behavior: tiles model GDAL block windows of one raster —
disjoint — so per-tile partials are summed in the final groupBy (the
Spark-native equivalent of the reference's full-raster-read-then-dedupe,
overlay.py:7-11).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2dggs_spark.operators.indexing import (
    MAX_BANDS_DEFAULT,
    band_cols,
    default_parent_res,
    _decode_rows,
    _prune,
)


def _subsample_grid(affine, w, h, crs, s):
    """lon/lat of all w*h*s*s subsample centres + parent-pixel index."""
    from raster2dggs_spark.geo.affine import apply_affine
    from raster2dggs_spark.geo.crs import to_lonlat

    step = 1.0 / s
    offs = (np.arange(s) + 0.5) * step
    cols = (np.repeat(np.arange(w), s) + np.tile(offs, w))  # (w*s,)
    rows = (np.repeat(np.arange(h), s) + np.tile(offs, h))  # (h*s,)
    cgrid = np.tile(cols, h * s)
    rgrid = np.repeat(rows, w * s)
    x, y = apply_affine(affine, cgrid, rgrid)
    lon, lat = to_lonlat(x, y, crs)
    # parent pixel (row-major) per subsample
    pc = np.tile(np.repeat(np.arange(w), s), h * s)
    pr = np.repeat(np.repeat(np.arange(h), s), w * s)
    pix = pr * w + pc
    return lon, lat, pix


def _to_lonlat(affine, cgrid, rgrid, crs):
    from raster2dggs_spark.geo.affine import apply_affine
    from raster2dggs_spark.geo.crs import to_lonlat

    x, y = apply_affine(affine, cgrid, rgrid)
    return to_lonlat(x, y, crs)


def _coverage_samples(affine, w, h, crs, s, res, dggs):
    """(cells, pix, weight) coverage samples for one tile.

    Adaptive supersampling: encode the (w+1)x(h+1) pixel-CORNER grid
    first; a pixel whose 4 corners share one cell is treated as wholly
    inside it and contributes a single weight-1 sample.  Only straddling
    pixels get the full SxS subsample treatment (weight 1/s² each).
    Σ weights per pixel = 1 always holds (a valid coverage partition,
    mass conservation exact), and for grids whose cells are lon/lat
    rectangles (geohash, maidenhead) 4-corners-in ⇒ pixel-in is an
    identity, so the output equals the full supersample partition
    bit-for-bit.  For curved-boundary grids (hex7/s2/rhp, whose edges
    are not straight lines in lon/lat — rhp additionally has cap
    seams) it is an approximation: a corner-agreeing pixel can poke
    marginally into a neighbour cell, bounded by the edge's sagitta
    over one pixel, O((px/pitch)²·pitch) — negligible exactly in the
    regime the fast path targets (px ≤ 0.25·pitch, where the bound is
    <6% of one subsample's weight).  Cost is a fraction of the dense
    encode — the 100-TB lever for fine rasters on coarse grids.  Falls
    back to the dense grid when pixels are cell-sized (everything
    straddles anyway)."""
    from raster2dggs_spark.dggs import cover, grid_lib

    pitch = grid_lib(dggs).pitch_deg(res)
    px_deg = max(abs(affine[0]), abs(affine[4]))
    if crs != "EPSG:4326":
        px_deg = px_deg / 111_195.0
    if s == 1 or px_deg > 0.25 * pitch:
        lon, lat, pix = _subsample_grid(affine, w, h, crs, s)
        cells = cover.encode(lon, lat, res, dggs)
        return cells, pix, np.full(cells.shape[0], 1.0 / (s * s))

    # corner grid (h+1, w+1)
    ccols = np.tile(np.arange(w + 1, dtype=np.float64), h + 1)
    crows = np.repeat(np.arange(h + 1, dtype=np.float64), w + 1)
    lon, lat = _to_lonlat(affine, ccols, crows, crs)
    cc = cover.encode(lon, lat, res, dggs).reshape(h + 1, w + 1)
    a = cc[:-1, :-1]
    same = (a == cc[:-1, 1:]) & (a == cc[1:, :-1]) & (a == cc[1:, 1:])
    int_r, int_c = np.nonzero(same)
    str_r, str_c = np.nonzero(~same)
    out_cells = [a[int_r, int_c]]
    out_pix = [int_r * w + int_c]
    out_wt = [np.ones(int_r.shape[0])]
    if str_r.size:
        offs = (np.arange(s) + 0.5) / s
        oc = np.tile(offs, s)
        orr = np.repeat(offs, s)
        scols = (str_c[:, None] + oc[None, :]).ravel()
        srows = (str_r[:, None] + orr[None, :]).ravel()
        slon, slat = _to_lonlat(affine, scols, srows, crs)
        out_cells.append(cover.encode(slon, slat, res, dggs))
        out_pix.append(np.repeat(str_r * w + str_c, s * s))
        out_wt.append(np.full(str_r.size * s * s, 1.0 / (s * s)))
    return (np.concatenate(out_cells), np.concatenate(out_pix),
            np.concatenate(out_wt))


def overlay_partials(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    n_bands: int = MAX_BANDS_DEFAULT,
    supersample: int = 4,
) -> DataFrame:
    """Per-(tile, cell) coverage partials for the scalar overlay ops:

    cov_total      Σ cov over all pixels (cell∩tile area, pixel units)
    {b}_num_area   Σ v·cov·pixel_area   (weighted_mean numerator / wsum)
    {b}_den_area   Σ cov·pixel_area over valid pixels (weighted_mean den)
    {b}_mass       Σ v·cov              (mass-preserving sum)
    {b}_cov_valid  Σ cov over valid pixels (VCT numerator)
    """
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    bcols = band_cols(n_bands)
    fields = [
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("cov_total", T.DoubleType(), False),
    ]
    for c in bcols:
        for suf in ("num_area", "den_area", "mass", "cov_valid"):
            fields.append(T.StructField(f"{c}_{suf}", T.DoubleType(), True))
    schema = T.StructType(fields)
    s = supersample

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.dggs import cover
        from raster2dggs_spark.geo import geodesic_row_areas_m2
        for pdf in batches:
            out = []
            for row, arr in _decode_rows(pdf, None):
                k, h, w = arr.shape
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                cells, pix, wt = _coverage_samples(
                    affine, w, h, row.crs, s, res, dggs
                )
                ucell, inv = np.unique(cells, return_inverse=True)
                m = ucell.shape[0]
                # per-pixel geodesic areas (constant per row, north-up)
                row_areas = geodesic_row_areas_m2(affine, w, h, row.crs)
                px_area = np.repeat(row_areas, w)          # (w*h,)
                sub_area = px_area[pix]
                cov_total = np.bincount(inv, weights=wt, minlength=m)
                data = {
                    "parent": cover.cell_parent(ucell, parent_res, dggs),
                    "cell": ucell,
                    "cov_total": cov_total,
                }
                vals = arr.reshape(k, h * w).astype(np.float64)
                for i, c in enumerate(bcols):
                    if i >= k:
                        for suf in ("num_area", "den_area", "mass", "cov_valid"):
                            data[f"{c}_{suf}"] = np.full(m, np.nan)
                        continue
                    v_sub = vals[i][pix]
                    ok = np.isfinite(v_sub)
                    iv = inv[ok]
                    wok = wt[ok]
                    data[f"{c}_num_area"] = np.bincount(
                        iv, weights=(v_sub[ok] * sub_area[ok] * wok), minlength=m
                    )
                    data[f"{c}_den_area"] = np.bincount(
                        iv, weights=sub_area[ok] * wok, minlength=m
                    )
                    data[f"{c}_mass"] = np.bincount(
                        iv, weights=v_sub[ok] * wok, minlength=m
                    )
                    data[f"{c}_cov_valid"] = np.bincount(iv, weights=wok,
                                                         minlength=m)
                out.append(pd.DataFrame(data))
            if out:
                yield pd.concat(out, ignore_index=True)

    return _prune(images, keep_image_id=False).mapInPandas(fn, schema)


def overlay_agg(
    images: DataFrame,
    res: int,
    op: str = "weighted_mean",
    parent_res: int | None = None,
    dggs: str = "hex7",
    n_bands: int = MAX_BANDS_DEFAULT,
    supersample: int = 4,
    vct: float | None = None,
) -> DataFrame:
    """Scalar overlay aggregates per cell (A12/A13 + VCT P6).

    op: weighted_mean (area-weighted mean), weighted_sum (density-
    preserving Σ v·cov·area), mass_sum (Σ v·cov — conserves the raster
    total; VCT deliberately inert, overlay.py:148-159)."""
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    p = overlay_partials(images, res, parent_res, dggs, n_bands, supersample)
    bcols = band_cols(n_bands)
    aggs = [F.sum("cov_total").alias("cov_total")]
    for c in bcols:
        for suf in ("num_area", "den_area", "mass", "cov_valid"):
            aggs.append(F.sum(f"{c}_{suf}").alias(f"{c}_{suf}"))
    g = p.groupBy("parent", "cell").agg(*aggs)
    out_cols = [F.col("parent"), F.col("cell")]
    for c in bcols:
        if op == "weighted_mean":
            e = F.when(F.col(f"{c}_den_area") > 0,
                       F.col(f"{c}_num_area") / F.col(f"{c}_den_area"))
        elif op == "weighted_sum":
            e = F.col(f"{c}_num_area")
        elif op == "mass_sum":
            e = F.col(f"{c}_mass")
        else:
            raise ValueError(f"op {op!r}: use overlay_classes for class ops")
        if vct is not None and op != "mass_sum":  # VCT inert for mass (P6)
            valid_frac = F.col(f"{c}_cov_valid") / F.col("cov_total")
            e = F.when(valid_frac >= vct, e)
        out_cols.append(e.alias(c))
    return g.select(*out_cols)


def overlay_class_partials(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    band: int = 1,
    supersample: int = 4,
    bucket_width: float | None = None,
) -> DataFrame:
    """Per-(tile, cell, class) covered-area partials — the exchange-ready
    stage the class ops (A14/A15) and area-weighted histograms (A11)
    aggregate; exposed so the oracle gate can pin it (fixture parquet)
    and re-derive fractions/majority in SQL.

    ``bucket_width`` bins continuous values first (class =
    floor(v/width)*width — floor, not round, so the bucketing is
    bit-identical in any SQL engine): the area-weighted histogram path.

    ``band`` may be a list: the coverage samples (the expensive
    supersampling pass) are computed ONCE per tile and reused for every
    selected band; rows then carry a ``__b`` column (ref OVERLAY_COLLECT
    histograms emit one struct per band in a single pass)."""
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    multi = isinstance(band, (list, tuple))
    sel = [int(b) for b in (band if multi else [band])]
    schema = T.StructType(
        [
            T.StructField("parent", T.LongType(), False),
            T.StructField("cell", T.LongType(), False),
        ]
        + ([T.StructField("__b", T.IntegerType(), False)] if multi else [])
        + [
            T.StructField("class", T.DoubleType(), False),
            T.StructField("cov_area", T.DoubleType(), False),
        ]
    )
    s = supersample

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.dggs import cover
        from raster2dggs_spark.geo import geodesic_row_areas_m2
        for pdf in batches:
            out = []
            for row, arr in _decode_rows(pdf, None):
                k, h, w = arr.shape
                if not any(b - 1 < k for b in sel):
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                cells, pix, wt = _coverage_samples(
                    affine, w, h, row.crs, s, res, dggs
                )
                row_areas = geodesic_row_areas_m2(affine, w, h, row.crs)
                sub_area = np.repeat(row_areas, w)[pix]
                for b in sel:
                    if b - 1 >= k:
                        continue
                    v_sub = arr[b - 1].astype(np.float64).ravel()[pix]
                    if bucket_width is not None:
                        v_sub = np.floor(v_sub / bucket_width) * bucket_width
                    ok = np.isfinite(v_sub)
                    key = np.stack([cells[ok], v_sub[ok].view(np.int64)],
                                   axis=1)
                    uk, inv = np.unique(key, axis=0, return_inverse=True)
                    wsum = np.bincount(inv, weights=sub_area[ok] * wt[ok],
                                       minlength=uk.shape[0])
                    cols = {
                        "parent": cover.cell_parent(uk[:, 0], parent_res,
                                                    dggs),
                        "cell": uk[:, 0],
                    }
                    if multi:
                        cols["__b"] = np.full(uk.shape[0], b,
                                              dtype=np.int32)
                    cols["class"] = uk[:, 1].view(np.float64)
                    cols["cov_area"] = wsum
                    out.append(pd.DataFrame(cols))
            if out:
                yield pd.concat(out, ignore_index=True)

    return _prune(images, keep_image_id=False).mapInPandas(fn, schema)


def overlay_classes(
    images: DataFrame,
    res: int,
    op: str = "fractions",
    parent_res: int | None = None,
    dggs: str = "hex7",
    band: int = 1,
    supersample: int = 4,
) -> DataFrame:
    """Class-valued overlay ops over one band (A14/A15).

    fractions: (parent, cell, class, fraction-of-covered-area);
    mode: majority class by covered area (deterministic tie-break)."""
    p = overlay_class_partials(images, res, parent_res, dggs, band, supersample)
    g = p.groupBy("parent", "cell", "class").agg(F.sum("cov_area").alias("cov_area"))
    if op == "fractions":
        from pyspark.sql import Window

        win = Window.partitionBy("parent", "cell")
        return g.select(
            "parent", "cell", "class",
            (F.col("cov_area") / F.sum("cov_area").over(win)).alias("fraction"),
        )
    if op == "mode":
        from raster2dggs_spark.operators.aggregates import majority_by_weight

        return majority_by_weight(g, ["parent", "cell"], "class", "cov_area",
                                  out="majority_class")
    raise ValueError(op)


def overlay_values(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    band: int = 1,
    supersample: int = 4,
) -> DataFrame:
    """Exploded (parent, cell, value) rows — one row per (cell, pixel)
    pair with any cell∩pixel coverage, valid pixels only.  The
    OVERLAY_COLLECT stage (ref --overlay list/histogram routing,
    common.py:221-230; list shaping overlay.py:519-549): a cell's value
    multiset is every intersecting pixel's value."""
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    schema = T.StructType([
        T.StructField("parent", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ])
    s = supersample
    bidx = band - 1

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.dggs import cover

        for pdf in batches:
            out = []
            for row, arr in _decode_rows(pdf, None):
                k, h, w = arr.shape
                if bidx >= k:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                cells, pix, wt = _coverage_samples(
                    affine, w, h, row.crs, s, res, dggs
                )
                band = arr[bidx].astype(np.float64).ravel()
                v_sub = band[pix]
                ok = np.isfinite(v_sub)
                key = np.stack([cells[ok], pix[ok]], axis=1)
                uk = np.unique(key, axis=0)
                out.append(pd.DataFrame({
                    "parent": cover.cell_parent(uk[:, 0], parent_res, dggs),
                    "cell": uk[:, 0],
                    "value": band[uk[:, 1]],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return _prune(images, keep_image_id=False).mapInPandas(fn, schema)


def overlay_values_multi(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: tuple[int, ...] = (1, 2),
    supersample: int = 4,
) -> DataFrame:
    """Multi-band OVERLAY_COLLECT explode in ONE decode + coverage pass
    (ref overlay.py:519-589 emits lists for every selected band at
    once; the single-band ``overlay_values`` would decode the raster
    once per band — round-3 VERDICT #4).

    Schema: (parent, cell, value_b{b}...) — one row per (cell, pixel)
    pair where ANY selected band is valid; a band's column is NaN where
    that band is nodata at the pixel (per-band validity differs, e.g.
    the multiband_nodata scenario), and downstream aggregation filters
    NaN per band — so each band's multiset is exactly what its own
    single-band explode would produce."""
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    bands = tuple(bands)
    schema = T.StructType(
        [
            T.StructField("parent", T.LongType(), False),
            T.StructField("cell", T.LongType(), False),
        ]
        # nullable: pandas NaN crosses the Arrow boundary as null —
        # which IS the per-band "this band nodata here" marker
        + [T.StructField(f"value_b{b}", T.DoubleType(), True) for b in bands]
    )
    s = supersample

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raster2dggs_spark.dggs import cover

        for pdf in batches:
            out = []
            for row, arr in _decode_rows(pdf, None):
                k, h, w = arr.shape
                sel = [b for b in bands if b - 1 < k]
                if not sel:
                    continue
                affine = (row.affine_a, row.affine_b, row.affine_c,
                          row.affine_d, row.affine_e, row.affine_f)
                cells, pix, wt = _coverage_samples(
                    affine, w, h, row.crs, s, res, dggs
                )
                vals = {b: arr[b - 1].astype(np.float64).ravel() for b in sel}
                ok = np.zeros(pix.shape[0], dtype=bool)
                for b in sel:
                    ok |= np.isfinite(vals[b][pix])
                key = np.stack([cells[ok], pix[ok]], axis=1)
                uk = np.unique(key, axis=0)
                cols = {
                    "parent": cover.cell_parent(uk[:, 0], parent_res, dggs),
                    "cell": uk[:, 0],
                }
                for b in bands:
                    cols[f"value_b{b}"] = (
                        vals[b][uk[:, 1]] if b in sel
                        else np.full(uk.shape[0], np.nan)
                    )
                out.append(pd.DataFrame(cols))
            if out:
                yield pd.concat(out, ignore_index=True)

    return _prune(images, keep_image_id=False).mapInPandas(fn, schema)


def overlay_list_multi(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    bands: tuple[int, ...] = (1, 2),
    supersample: int = 4,
    decimals: int | None = None,
) -> DataFrame:
    """``--overlay list`` over several bands in one decode pass: per
    cell, one ascending-sorted list per selected band (NaN = that band
    nodata at the pixel — filtered per band, so lists can differ in
    length).  Same two-level plan as ``overlay_list``: explode → ONE
    exchange → native per-band sort_array(collect_list)."""
    ex = overlay_values_multi(images, res, parent_res, dggs, bands,
                              supersample)
    aggs = []
    for b in bands:
        c = F.col(f"value_b{b}")
        v = F.round(c, decimals) if decimals is not None else c
        # invalid-per-band samples arrive as null (Arrow NaN→null) or
        # NaN — either way collect_list must skip them
        aggs.append(
            F.sort_array(F.collect_list(F.when(~F.isnan(c), v)))
            .alias(f"values_b{b}")
        )
    return ex.groupBy("parent", "cell").agg(*aggs)


def overlay_list(
    images: DataFrame,
    res: int,
    parent_res: int | None = None,
    dggs: str = "hex7",
    band: int = 1,
    supersample: int = 4,
    decimals: int | None = None,
) -> DataFrame:
    """``--overlay list`` (A7 under overlay semantics): per cell, the
    ascending-sorted list of every intersecting pixel's value, optionally
    rounded (ref overlay.py:536-549 — sorted(round(v, decimals))).
    Two-level plan: exploded values → one exchange → native
    sort_array(collect_list) — no Python in the aggregation."""
    ex = overlay_values(images, res, parent_res, dggs, band, supersample)
    v = F.round(F.col("value"), decimals) if decimals is not None else F.col("value")
    return ex.groupBy("parent", "cell").agg(
        F.sort_array(F.collect_list(v)).alias("values")
    )
