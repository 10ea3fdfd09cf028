"""Build the committed oracle fixtures under .fixtures/.

The DuckDB oracle can only read parquet, so queries whose inputs are
synthetic images (not driver tables) are checked against *pinned
partials/ground-truth* parquet written here.  Everything is a pure
function of (seed, generator version): rerun this script after any
intentional generator/codec/overlay change and commit the diff — an
UNintentional behavior change then fails the oracle gate.

Usage:  python scripts/make_fixtures.py
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXDIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      ".fixtures")


def image_stats_fixture():
    """Per-image ground truth for the image_stats query (64 images,
    seed 42) — computed in plain NumPy from the same decode the Spark
    UDF uses, pinned at fixture-build time."""
    from raster2dggs_spark.sources.images import generate_images_pdf
    from raster2dggs_spark.codecs import decode_image, average_hash64

    pdf = generate_images_pdf(64, seed=42)
    rows = []
    for r in pdf.itertuples(index=False):
        arr = decode_image(r.bytes)
        b1 = arr[0]
        finite = np.isfinite(b1)
        # 8x8 NN thumbnail, floor-quantized to 1/16 so the joined-int
        # string is identical across engines (no float formatting)
        h, w = b1.shape
        ri = (np.arange(8) * h // 8).clip(0, h - 1)
        ci = (np.arange(8) * w // 8).clip(0, w - 1)
        small = np.nan_to_num(b1[np.ix_(ri, ci)], nan=0.0).astype(np.float64)
        thumb = ",".join(str(int(x)) for x in np.floor(small * 16.0).ravel())
        rows.append({
            "thumb_i16": thumb,
            "image_id": r.image_id,
            "bands_decoded": int(arr.shape[0]),
            "px": int(arr[0].size),
            "b1_mean": float(b1[finite].mean()) if finite.any() else None,
            "b1_std": float(b1[finite].std()) if finite.any() else None,
            "nan_frac": float(1.0 - finite.mean()),
            "phash_recomputed": int(average_hash64(b1)),
            "phash_stored": int(r.phash),
        })
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "image_stats_64.parquet"), index=False)
    print(f"image_stats_64: {len(out)} rows")


def pixel_index_fixture():
    """Single-node NumPy replay of the FLAGSHIP pipeline (decode →
    pixel centres → hex7 encode at res 9 → per-cell per-band mean,
    nodata 'omit' semantics) over the 64-image seed-42 set — a
    straight-line reference computation with no Spark, no batching, no
    shuffle.  The distributed pipeline (mapInPandas flush budgets,
    map-side combine, exchange, bitwise parents) must reproduce it."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import h3lib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 9, 3, 4
    sums: dict = {}
    for r in generate_images_pdf(64, seed=42).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)  # nodata policy: omit
        if not keep.any():
            continue
        cells = h3lib.latlng_to_cell(lon[keep], lat[keep], res)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    rows = []
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = h3lib.cell_to_parent(cells, parent_res)
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {
            "hex7_09": format(key, "x"),
            "hex7_03": format(parent, "x"),
            "n_px": npx,
        }
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "hex7_pixel_index_64.parquet"),
                   index=False)
    print(f"hex7_pixel_index_64: {len(out)} rows")


def s2_pixel_index_fixture():
    """Same single-node replay as the hex7 flagship, on the S2 grid at
    res 14 (covers every generator scenario incl. the EPSG:3857 path)."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import s2lib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 14, 6, 4
    sums: dict = {}
    for r in generate_images_pdf(64, seed=42).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        cells = s2lib.lonlat_to_cell(lon[keep], lat[keep], res)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = s2lib.cell_to_parent(cells, parent_res)
    rows = []
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {
            # ids with face >= 4 are negative int64: hex the uint64 view
            "s2_14": format(key % (1 << 64), "x"),
            "s2_06": format(parent % (1 << 64), "x"),
            "n_px": npx,
        }
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "s2_pixel_index_64.parquet"),
                   index=False)
    print(f"s2_pixel_index_64: {len(out)} rows")


def i3h_pixel_index_fixture():
    """Single-node replay of the flagship pixel index on the aperture-3
    i3h grid (res 12, centroid parents at res 2) — the distributed
    one-exchange plan incl. the UDF-derived parent column must
    reproduce it."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import i3hlib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 12, 2, 4
    sums: dict = {}
    for r in generate_images_pdf(16, seed=42,
                                 size_range=(10, 16)).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        lon = np.mod(lon[keep] + 180.0, 360.0) - 180.0  # wrap_lon
        cells = i3hlib.lonlat_to_cell(lon, lat[keep], res)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = i3hlib.cell_to_parent(cells, parent_res)
    rows = []
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {
            "i3h_12": format(key % (1 << 64), "x"),
            "i3h_02": format(parent % (1 << 64), "x"),
            "n_px": npx,
        }
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "i3h_pixel_index_16.parquet"),
                   index=False)
    print(f"i3h_pixel_index_16: {len(out)} rows")


def a5_pixel_index_fixture():
    """Single-node replay of the flagship pixel index on the
    aperture-5-then-4 a5 grid (res 10, parents at res 2 across the
    4-ary digit field) — the distributed one-exchange plan with the
    NATIVE bit-arithmetic parent column must reproduce it."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import a5lib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 10, 2, 4
    sums: dict = {}
    for r in generate_images_pdf(16, seed=42,
                                 size_range=(10, 16)).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        lon = np.mod(lon[keep] + 180.0, 360.0) - 180.0  # wrap_lon
        cells = a5lib.lonlat_to_cell(lon, lat[keep], res)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = a5lib.cell_to_parent(cells, parent_res)
    rows = []
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {
            "a5_10": format(key % (1 << 64), "x"),
            "a5_02": format(parent % (1 << 64), "x"),
            "n_px": npx,
        }
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "a5_pixel_index_16.parquet"),
                   index=False)
    print(f"a5_pixel_index_16: {len(out)} rows")


def i4r_pixel_index_fixture():
    """Single-node replay of the flagship pixel index on the
    aperture-4 icosahedral-rhombus i4r grid (res 11, parents at
    res 3 across the row/col bit fields) — the distributed one-exchange plan with the
    NATIVE bit-arithmetic parent column must reproduce it."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs.rhombuslib import I4R
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 11, 3, 4
    sums: dict = {}
    for r in generate_images_pdf(16, seed=42,
                                 size_range=(10, 16)).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        lon = np.mod(lon[keep] + 180.0, 360.0) - 180.0  # wrap_lon
        cells = I4R.lonlat_to_cell(lon, lat[keep], res)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = I4R.cell_to_parent(cells, parent_res)
    rows = []
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {
            "i4r_11": format(key % (1 << 64), "x"),
            "i4r_03": format(parent % (1 << 64), "x"),
            "n_px": npx,
        }
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "i4r_pixel_index_16.parquet"),
                   index=False)
    print(f"i4r_pixel_index_16: {len(out)} rows")


def sample_bilinear_fixture(dggs: str, res: int, fname: str,
                            n_images: int = 24, size_range=(16, 24),
                            n_bands: int = 4):
    """Single-node replay of the sample transfer (cells_in_bbox →
    nearest-pixel ownership → bilinear at the cell centroid → first-wins
    cross-tile dedupe) with EXPLICIT scalar taps — no Spark, no
    _stencil_sample, no batching.  The distributed pipeline
    (mapInPandas + window dedupe) must reproduce it cell for cell."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import cover
    from raster2dggs_spark.geo import (
        apply_affine, invert_affine, lonlat_to_mercator, mercator_to_lonlat,
    )
    from raster2dggs_spark.operators.indexing import (
        cell_column_name, default_parent_res,
    )
    from raster2dggs_spark.sources.images import generate_images_pdf

    parent_res = default_parent_res(res, dggs)
    pdf = generate_images_pdf(n_images, seed=42, size_range=size_range)
    seen: dict[int, list] = {}
    # dedupe rule: lowest image_id wins -> process in image_id order,
    # first occurrence of a cell is kept
    for r in pdf.sort_values("image_id").itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        cs = np.array([0.0, w, 0.0, w])
        rs = np.array([0.0, 0.0, h, h])
        x, y = apply_affine(affine, cs, rs)
        if r.crs == "EPSG:3857":
            lons, lats = mercator_to_lonlat(x, y)
        else:
            lons, lats = x, y
        # mirror the operator's split-on-cap covering (half-open bbox
        # halves partition the center-in set exactly; sample.py round 4)
        pieces = [(lons.min(), lats.min(), lons.max(), lats.max())]
        covered = []
        while pieces:
            x0, y0, x1, y1 = pieces.pop()
            try:
                covered.append(cover.cover_bbox(
                    x0, y0, x1, y1, res, dggs=dggs, max_samples=5_000_000))
            except ValueError:
                if (x1 - x0) >= (y1 - y0):
                    xm = 0.5 * (x0 + x1)
                    pieces += [(x0, y0, xm, y1), (xm, y0, x1, y1)]
                else:
                    ym = 0.5 * (y0 + y1)
                    pieces += [(x0, y0, x1, ym), (x0, ym, x1, y1)]
        cells = (np.concatenate(covered) if covered
                 else np.array([], dtype=np.int64))
        if cells.size == 0:
            continue
        clon, clat = cover.cell_center(cells, dggs)
        # mirror the operator's antimeridian centroid unwrap
        # (sample.py F14): centroids into the tile's unwrapped lon frame
        # so a seam-crossing fixture input would bake CORRECT expecteds
        mid = 0.5 * (lons.min() + lons.max())
        clon = clon + 360.0 * np.round((mid - clon) / 360.0)
        if r.crs == "EPSG:3857":
            cx, cy = lonlat_to_mercator(clon, clat)
        else:
            cx, cy = clon, clat
        inv = invert_affine(affine)
        col_p, row_p = apply_affine(inv, cx, cy)
        col_f = col_p - 0.5
        row_f = row_p - 0.5
        nn_c = np.floor(col_f + 0.5).astype(np.int64)
        nn_r = np.floor(row_f + 0.5).astype(np.int64)
        own = (nn_c >= 0) & (nn_c < w) & (nn_r >= 0) & (nn_r < h)
        if not own.any():
            continue
        cells, col_f, row_f = cells[own], col_f[own], row_f[own]
        c0 = np.floor(col_f).astype(np.int64)
        r0 = np.floor(row_f).astype(np.int64)
        bands_out = []
        for b in range(n_bands):
            if b >= k:
                bands_out.append(np.full(cells.shape[0], np.nan))
                continue
            band = arr[b]
            num = np.zeros(cells.shape[0])
            tot = np.zeros(cells.shape[0])
            nval = np.zeros(cells.shape[0], dtype=np.int64)
            for dr in (0, 1):          # tap order mirrors the operator's
                for dc in (0, 1):      # reduction (bit-stable comparison)
                    rr, cc = r0 + dr, c0 + dc
                    inb = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
                    v = band[rr.clip(0, h - 1), cc.clip(0, w - 1)]
                    valid = inb & np.isfinite(v)
                    wgt = ((1.0 - np.abs(row_f - rr))
                           * (1.0 - np.abs(col_f - cc))) * valid
                    num = num + np.where(valid, v, 0.0) * wgt
                    tot = tot + wgt
                    nval = nval + valid
            with np.errstate(invalid="ignore", divide="ignore"):
                out = num / tot
            out[(nval < 2) | (np.abs(tot) < 1e-12)] = np.nan
            bands_out.append(out)
        for i, key in enumerate(cells.tolist()):
            if key not in seen:
                seen[key] = [bands_out[b][i] for b in range(n_bands)]
    ordered = np.array(sorted(seen), dtype=np.int64)
    parents = cover.cell_parent(ordered, parent_res, dggs)
    rows = []
    for key, parent in zip(ordered.tolist(), parents.tolist()):
        row = {
            cell_column_name(dggs, res): format(key % (1 << 64), "x"),
            cell_column_name(dggs, parent_res): format(parent % (1 << 64), "x"),
        }
        for b in range(n_bands):
            v = seen[key][b]
            row[f"band_{b + 1}"] = None if np.isnan(v) else float(v)
        rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, fname), index=False)
    print(f"{fname}: {len(out)} rows")


def overlay_values_fixture():
    """Single-node replay (no Spark) of the OVERLAY_COLLECT explode:
    per (cell, pixel) with any coverage, the pixel's band-1 value — the
    oracle re-aggregates into sorted per-cell lists in SQL."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import cover
    from raster2dggs_spark.operators.overlay import _coverage_samples
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res = 6, 0
    pdf = generate_images_pdf(16, seed=42, scenarios=("landcover",),
                              size_range=(12, 20))
    frames = []
    for r in pdf.itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        _k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        cells, pix, _wt = _coverage_samples(affine, w, h, r.crs, 4, res, "hex7")
        v_sub = arr[0].ravel()[pix]
        ok = np.isfinite(v_sub)
        uk = np.unique(np.stack([cells[ok], pix[ok]], axis=1), axis=0)
        frames.append(pd.DataFrame({
            "parent": cover.cell_parent(uk[:, 0], parent_res, "hex7"),
            "cell": uk[:, 0],
            "value": arr[0].ravel()[uk[:, 1]],
        }))
    out = pd.concat(frames, ignore_index=True)
    out.to_parquet(os.path.join(FIXDIR, "overlay_values_16.parquet"),
                   index=False)
    print(f"overlay_values_16: {len(out)} rows")


def point_list_fixture():
    """Single-node replay of the exploded pixel rows feeding --point
    list (multiband_nodata, res 6): (parent, cell, band_1..4, NaN where
    that band is nodata).  The oracle re-aggregates per-band sorted
    lists in SQL with the per-band NaN filter — pinning the per-band
    list semantics (ref common.py:495-502) end to end."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import h3lib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res, n_bands = 6, 0, 4
    frames = []
    for r in generate_images_pdf(8, seed=42, scenarios=("multiband_nodata",),
                                 size_range=(10, 14)).itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        cells = h3lib.latlng_to_cell(lon[keep], lat[keep], res)
        cols = {
            "parent": h3lib.cell_to_parent(cells, parent_res),
            "cell": cells,
        }
        for b in range(n_bands):
            cols[f"band_{b + 1}"] = (vals[b, keep] if b < k
                                     else np.full(keep.sum(), np.nan))
        frames.append(pd.DataFrame(cols))
    out = pd.concat(frames, ignore_index=True)
    out.to_parquet(os.path.join(FIXDIR, "point_list_8.parquet"), index=False)
    print(f"point_list_8: {len(out)} rows")


def compact_3h_input():
    """Deterministic A17 test frame: 6 well-separated res-5 i3h seeds,
    expanded two levels to their res-7 descendant sets; even seeds share
    value 1.0 (their subtrees must compact), odd seeds get per-seed
    values (blocked).  Returns (cells, values) sorted by cell."""
    from raster2dggs_spark.dggs import i3hlib

    lon = np.array([12.0, -75.0, 145.0, -20.0, 60.0, -140.0])
    lat = np.array([41.0, -10.0, -30.0, 55.0, 15.0, -45.0])
    seeds = i3hlib.lonlat_to_cell(lon, lat, 5)
    cells, vals = [], []
    for i, s in enumerate(seeds):
        l6 = i3hlib.cell_to_children(np.array([s])).ravel()
        l7 = np.unique(i3hlib.cell_to_children(l6))
        cells.append(l7)
        vals.append(np.full(l7.shape[0],
                            1.0 if i % 2 == 0 else 10.0 + i))
    c = np.concatenate(cells)
    v = np.concatenate(vals)
    order = np.argsort(c, kind="stable")
    c, v = c[order], v[order]
    assert np.unique(c).shape[0] == c.shape[0], "seeds overlap"
    return c, v


def compact_3h_fixture():
    """Single-node replay of A17 multi-parent compaction with the
    REFERENCE'S OWN algorithm shape — a dict fixpoint over
    child→parents edges (dggalrasterindexer.py:236-372) — entirely
    independent of the distributed level-loop in compact_cells_3h.
    The Spark operator must reproduce this set exactly."""
    from raster2dggs_spark.dggs import i3hlib

    c, v = compact_3h_input()
    cell_data = dict(zip(c.tolist(), v.tolist()))
    active = set(cell_data)
    for level in (7, 6):
        level_cells = [x for x in active
                       if int(i3hlib.get_resolution(np.array([x]))[0]) == level]
        if not level_cells:
            continue
        arr = np.array(level_cells, dtype=np.int64)
        pars = i3hlib.cell_to_parents(arr)
        parent_groups: dict = {}
        child_parents: dict = {}
        for i, ch in enumerate(level_cells):
            ps = [int(p) for p in pars[i] if p != i3hlib.NO_PARENT]
            child_parents[ch] = ps
            for p in ps:
                parent_groups.setdefault(p, []).append(ch)
        compactable = {}
        for p, kids in parent_groups.items():
            if len(kids) != 7:
                continue
            first = cell_data[kids[0]]
            if all(cell_data[k] == first for k in kids):
                compactable[p] = first
        removed = {ch for ch, ps in child_parents.items()
                   if all(p in compactable for p in ps)}
        active -= removed
        for ch in removed:
            del cell_data[ch]
        for p, val in compactable.items():
            cell_data[p] = val
            active.add(p)
    out = pd.DataFrame(sorted(cell_data.items()), columns=["cell", "v"])
    out.to_parquet(os.path.join(FIXDIR, "compact_3h.parquet"), index=False)
    print(f"compact_3h: {len(out)} rows (input {c.shape[0]})")


def overlay_values_multi_fixture():
    """Single-node replay of the MULTI-band OVERLAY_COLLECT explode
    (one coverage pass, per-band NaN validity) over the
    multiband_nodata scenario — per-band nodata holes sit at DIFFERENT
    pixels, so the per-band list lengths genuinely differ and the
    oracle exercises the per-band NaN filter."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import cover
    from raster2dggs_spark.operators.overlay import _coverage_samples
    from raster2dggs_spark.sources.images import generate_images_pdf

    res, parent_res = 6, 0
    bands = (1, 2)
    pdf = generate_images_pdf(16, seed=42, scenarios=("multiband_nodata",),
                              size_range=(12, 20))
    frames = []
    for r in pdf.itertuples(index=False):
        arr = decode_image(r.bytes).astype(np.float64)
        nd = r.nodata
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        _k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        cells, pix, _wt = _coverage_samples(affine, w, h, r.crs, 4, res, "hex7")
        vals = {b: arr[b - 1].ravel() for b in bands}
        ok = np.zeros(pix.shape[0], dtype=bool)
        for b in bands:
            ok |= np.isfinite(vals[b][pix])
        uk = np.unique(np.stack([cells[ok], pix[ok]], axis=1), axis=0)
        cols = {
            "parent": cover.cell_parent(uk[:, 0], parent_res, "hex7"),
            "cell": uk[:, 0],
        }
        for b in bands:
            cols[f"value_b{b}"] = vals[b][uk[:, 1]]
        frames.append(pd.DataFrame(cols))
    out = pd.concat(frames, ignore_index=True)
    out.to_parquet(os.path.join(FIXDIR, "overlay_values_multi_16.parquet"),
                   index=False)
    print(f"overlay_values_multi_16: {len(out)} rows")


def overlay_fixtures(spark):
    """Pinned overlay partials for the two overlay oracle queries (same
    inputs as __spark_entry__): the oracle re-aggregates these in SQL and
    must match the live pipeline's output."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import (
        overlay_partials, overlay_class_partials,
    )

    imgs = images_spark_df(spark, 24, seed=42, size_range=(12, 20))
    p = overlay_partials(imgs, res=6, parent_res=0).toPandas()
    # NaN partials (missing bands) -> NULL so DuckDB's NaN-sorts-greatest
    # comparison semantics can't diverge from Spark's NaN propagation
    p = p.where(pd.notnull(p) & (p.map(
        lambda x: not (isinstance(x, float) and np.isnan(x)))))
    p.to_parquet(os.path.join(FIXDIR, "overlay_partials_24.parquet"),
                 index=False)
    print(f"overlay_partials_24: {len(p)} rows")

    imgs2 = images_spark_df(spark, 16, seed=42, scenarios=("landcover",),
                            size_range=(12, 20))
    c = overlay_class_partials(imgs2, res=6, parent_res=0, band=1).toPandas()
    c.to_parquet(os.path.join(FIXDIR, "overlay_class_partials_16.parquet"),
                 index=False)
    print(f"overlay_class_partials_16: {len(c)} rows")




def _pixel_index_replay(images_iter, res, parent_res, dggs, n_bands,
                        cell_fmt="x"):
    """Shared single-node per-pixel replay: decode → pixel centres →
    encode → per-cell per-band mean with 'omit' nodata semantics.  A
    straight dict loop — no Spark, no batching, no shuffle."""
    from raster2dggs_spark.dggs import cover, h3lib
    from raster2dggs_spark.geo import pixel_centers_lonlat

    sums: dict = {}
    for r in images_iter:
        from raster2dggs_spark.codecs import decode_image

        arr = decode_image(bytes(r.bytes)).astype(np.float64)
        nd = getattr(r, "nodata", None)
        if nd is not None and not (isinstance(nd, float) and np.isnan(nd)):
            arr = np.where(arr == np.float32(nd), np.nan, arr)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        vals = arr.reshape(k, h * w)
        keep = ~np.all(np.isnan(vals), axis=0)
        if not keep.any():
            continue
        cells = cover.encode(lon[keep], lat[keep], res, dggs)
        vals = vals[:, keep]
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands, [0] * n_bands])
            slot[0] += 1
            for b in range(k):
                x = vals[b, c_idx]
                if np.isfinite(x):
                    slot[1][b] += x
                    slot[2][b] += 1
    cells = np.array(sorted(sums), dtype=np.int64)
    parents = cover.cell_parent(cells, parent_res, dggs) if hasattr(
        cover, "cell_parent") else h3lib.cell_to_parent(cells, parent_res)
    rows = []
    from raster2dggs_spark.operators.indexing import cell_column_name

    ccol = cell_column_name(dggs, res)
    pcol = cell_column_name(dggs, parent_res)
    for key, parent in zip(cells.tolist(), parents.tolist()):
        npx, bsum, bcnt = sums[key]
        row = {ccol: format(key, cell_fmt), pcol: format(parent, cell_fmt),
               "n_px": npx}
        for b in range(n_bands):
            row[f"band_{b + 1}"] = (bsum[b] / bcnt[b]) if bcnt[b] else None
        rows.append(row)
    return pd.DataFrame(rows)


def i9r_pixel_index_fixture():
    """Single-node replay of the pixel index on the aperture-9
    icosahedral-rhombus i9r grid (res 7, parents at res 2 via base-3
    digit div) — the distributed one-exchange plan with the native
    double-floor-div parent Column must reproduce it."""
    from raster2dggs_spark.sources.images import generate_images_pdf

    imgs = generate_images_pdf(16, seed=42, size_range=(10, 16))
    out = _pixel_index_replay(imgs.itertuples(index=False), res=7,
                              parent_res=2, dggs="i9r", n_bands=4)
    out.to_parquet(os.path.join(FIXDIR, "i9r_pixel_index_16.parquet"),
                   index=False)
    print(f"i9r_pixel_index_16: {len(out)} rows")


def polar_pixel_index_fixture():
    """Single-node replay of the polar-stereographic ramp tiles (NSIDC
    north/south, Antarctic PS, UPS — sources.images.
    generate_polar_images_pdf): meters-affine → PS inverse → hex7
    encode at res 7 (polar cells are large; res 7 keeps a few per
    tile).  The PS math is pinned independently in tests/test_geo.py
    (round-trip, conformality, unit scale at lat_ts, spherical limit)."""
    from raster2dggs_spark.sources.images import generate_polar_images_pdf

    imgs = generate_polar_images_pdf(16, seed=42)
    out = _pixel_index_replay(imgs.itertuples(index=False), res=7,
                              parent_res=1, dggs="hex7", n_bands=1)
    out.to_parquet(os.path.join(FIXDIR, "polar_pixel_index_16.parquet"),
                   index=False)
    print(f"polar_pixel_index_16: {len(out)} rows")


def conic_pixel_index_fixture():
    """Single-node replay of the conic/azimuthal-family ramp tiles
    (LCC France/Canada, Albers CONUS, LAEA EU — sources.images.
    generate_conic_images_pdf): meters-affine → conic inverse → hex7
    encode at res 9.  The projection math is pinned independently in
    tests/test_geo.py (round-trips, LCC conformality + k=1 at the
    standard parallels, Albers/LAEA exact equal-area Jacobians,
    Lambert-93 Paris known point)."""
    from raster2dggs_spark.sources.images import generate_conic_images_pdf

    imgs = generate_conic_images_pdf(16, seed=42)
    out = _pixel_index_replay(imgs.itertuples(index=False), res=9,
                              parent_res=3, dggs="hex7", n_bands=1)
    out.to_parquet(os.path.join(FIXDIR, "conic_pixel_index_16.parquet"),
                   index=False)
    print(f"conic_pixel_index_16: {len(out)} rows")


def e4r_pixel_index_fixture():
    """Single-node replay of the pixel index on the EQUAL-AREA e4r grid
    (IVEA/ISEA-class aperture-4 diamonds, res 11 / parents res 3) — the
    distributed plan with the shared i4r bit-shift parent Column must
    reproduce the equal-area encode cell for cell."""
    from raster2dggs_spark.sources.images import generate_images_pdf

    imgs = generate_images_pdf(16, seed=42, size_range=(10, 16))
    out = _pixel_index_replay(imgs.itertuples(index=False), res=11,
                              parent_res=3, dggs="e4r", n_bands=4)
    out.to_parquet(os.path.join(FIXDIR, "e4r_pixel_index_16.parquet"),
                   index=False)
    print(f"e4r_pixel_index_16: {len(out)} rows")


def e9r_pixel_index_fixture():
    """Single-node replay on the EQUAL-AREA aperture-9 e9r grid (res 7,
    parents res 2)."""
    from raster2dggs_spark.sources.images import generate_images_pdf

    imgs = generate_images_pdf(16, seed=42, size_range=(10, 16))
    out = _pixel_index_replay(imgs.itertuples(index=False), res=7,
                              parent_res=2, dggs="e9r", n_bands=4)
    out.to_parquet(os.path.join(FIXDIR, "e9r_pixel_index_16.parquet"),
                   index=False)
    print(f"e9r_pixel_index_16: {len(out)} rows")


def geotiff_pixel_index_fixture():
    """Single-node replay of the reference's own raster
    (/root/reference/tests/data/se-island.tiff — ZSTD tiles, predictor
    2, EPSG:3793 Transverse Mercator): FULL-frame local decode + whole-
    raster affine + TM inverse + hex7 encode at res 11.  The Spark side
    reads the SAME file through the distributed per-window plan (window
    byte ranges, shifted window affines, mapInPandas decode, one
    exchange) and must reproduce it cell for cell — stage-1 row count
    74,888 pinned separately in tests/test_geotiff.py."""
    from types import SimpleNamespace

    from raster2dggs_spark.codecs import encode_image
    from raster2dggs_spark.sources.geotiff import (
        parse_geotiff, read_geotiff_local,
    )

    path = "/root/reference/tests/data/se-island.tiff"
    meta = parse_geotiff(path)
    full = read_geotiff_local(path)
    r = SimpleNamespace(
        bytes=encode_image(full, "raw"),
        nodata=meta["nodata"],
        affine_a=meta["affine"][0], affine_b=meta["affine"][1],
        affine_c=meta["affine"][2], affine_d=meta["affine"][3],
        affine_e=meta["affine"][4], affine_f=meta["affine"][5],
        crs=meta["crs"],
    )
    out = _pixel_index_replay([r], res=11, parent_res=5, dggs="hex7",
                              n_bands=3)
    assert int(out["n_px"].sum()) == 74_888  # the reference's pin
    out.to_parquet(os.path.join(FIXDIR, "geotiff_pixel_index.parquet"),
                   index=False)
    print(f"geotiff_pixel_index: {len(out)} rows")


def sinu_pixel_index_fixture():
    """Single-node replay of the sinusoidal/World-Mercator ramp tiles
    (MODIS-sphere ESRI:54008, a custom-parameter SINU variant, and
    EPSG:3395 — sources.images.generate_sinu_images_pdf): meters-affine
    → sinusoidal/ellipsoidal-Mercator inverse → hex7 encode at res 7
    (MODIS-scale ~200-500 m pixels).  The projection math is pinned
    independently in tests/test_geo.py (round-trip identity, exact
    equal-area Jacobian, the published 3395 y(60°N) value)."""
    from raster2dggs_spark.sources.images import generate_sinu_images_pdf

    imgs = generate_sinu_images_pdf(16, seed=42)
    out = _pixel_index_replay(imgs.itertuples(index=False), res=7,
                              parent_res=2, dggs="hex7", n_bands=1)
    out.to_parquet(os.path.join(FIXDIR, "sinu_pixel_index_16.parquet"),
                   index=False)
    print(f"sinu_pixel_index_16: {len(out)} rows")


def jpeg_pixel_index_fixture():
    """JPEG-in-TIFF gate (round 7): a deterministic compression-7
    raster (baseline JPEG tiles, separate JPEGTables, YCbCr 4:2:0) is
    written into .fixtures/, decoded by the pure-NumPy JPEG decoder and
    replayed single-node.  The Spark side reads the SAME file through
    the distributed window plan; decode is bit-deterministic, so the
    hash gate applies.  The codec itself is pinned independently in
    tests/test_jpeg.py (hand-assembled bitstream vs closed-form IDCT)."""
    from types import SimpleNamespace

    from raster2dggs_spark.codecs import encode_image
    from raster2dggs_spark.sources.geotiff import (
        parse_geotiff, read_geotiff_local, write_geotiff,
    )

    x = np.linspace(0, 4 * np.pi, 300)
    y = np.linspace(0, 3 * np.pi, 280)
    base = (np.sin(y)[:, None] * np.cos(x)[None, :] * 0.5 + 0.5) * 255
    arr = np.stack([base, np.roll(base, 90, 0), 255 - base]).astype(
        np.float32)
    path = os.path.join(FIXDIR, "jpeg_gate.tif")
    write_geotiff(path, arr, (0.01, 0.0, 5.0, 0.0, -0.01, 8.0),
                  "EPSG:4326", compression="jpeg", tile=(128, 128),
                  jpeg_subsample=True, jpeg_quality=88)
    meta = parse_geotiff(path)
    full = read_geotiff_local(path)
    r = SimpleNamespace(
        bytes=encode_image(full, "raw"), nodata=None,
        affine_a=meta["affine"][0], affine_b=meta["affine"][1],
        affine_c=meta["affine"][2], affine_d=meta["affine"][3],
        affine_e=meta["affine"][4], affine_f=meta["affine"][5],
        crs=meta["crs"])
    out = _pixel_index_replay([r], res=7, parent_res=2, dggs="hex7",
                              n_bands=3)
    out.to_parquet(os.path.join(FIXDIR, "jpeg_pixel_index.parquet"),
                   index=False)
    print(f"jpeg_pixel_index: {len(out)} rows")


def utm_pixel_index_fixture():
    """Single-node replay of the TM-georeferenced ramp tiles (UTM
    north+south, NZTM, Chatham — sources.images.generate_tm_images_pdf):
    meters-affine → Krüger TM inverse → hex7 encode at res 9.  The TM
    math itself is independently pinned in tests/test_geo.py (round-trip
    identity, meridian-arc quadrature, Redfearn cross-series); this
    fixture pins the distributed plumbing over it."""
    from raster2dggs_spark.sources.images import generate_tm_images_pdf

    imgs = generate_tm_images_pdf(16, seed=42)
    out = _pixel_index_replay(imgs.itertuples(index=False), res=9,
                              parent_res=3, dggs="hex7", n_bands=1)
    out.to_parquet(os.path.join(FIXDIR, "utm_pixel_index_16.parquet"),
                   index=False)
    print(f"utm_pixel_index_16: {len(out)} rows")


def composite_stack_fixture():
    """Single-node replay of the composite pipeline's NON-relational
    stage: per-(scene, cell) band means over the deterministic 6x3
    scene stack (decode → pixel centres → hex7 res-7 encode → per
    scene+cell integer-exact mean).  The composite reductions
    themselves (argmax / median) are replayed RELATIONALLY in the
    oracle SQL on top of this table."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import h3lib
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources.images import generate_scene_stack_pdf

    res, n_bands = 6, 4
    images, meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    ts = dict(zip(meta["image_id"], meta["scene_ts"]))
    rows = []
    for r in images.itertuples(index=False):
        arr = decode_image(bytes(r.bytes)).astype(np.float64)
        k, h, w = arr.shape
        affine = (r.affine_a, r.affine_b, r.affine_c,
                  r.affine_d, r.affine_e, r.affine_f)
        lon, lat = pixel_centers_lonlat(affine, w, h, r.crs)
        cells = h3lib.latlng_to_cell(lon, lat, res)
        vals = arr.reshape(k, h * w)
        sums: dict = {}
        for c_idx in range(cells.shape[0]):
            key = int(cells[c_idx])
            slot = sums.setdefault(key, [0, [0.0] * n_bands])
            slot[0] += 1
            for b in range(k):
                slot[1][b] += vals[b, c_idx]
        for key in sorted(sums):
            npx, bsum = sums[key]
            row = {"image_id": r.image_id, "scene_ts": int(ts[r.image_id]),
                   "hex7_06": format(key, "x"), "n_px": npx}
            for b in range(n_bands):
                row[f"band_{b + 1}"] = bsum[b] / npx
            rows.append(row)
    out = pd.DataFrame(rows)
    out.to_parquet(os.path.join(FIXDIR, "composite_stack_6x3.parquet"),
                   index=False)
    print(f"composite_stack_6x3: {len(out)} rows "
          f"({out['hex7_06'].nunique()} cells)")


def main():
    os.makedirs(FIXDIR, exist_ok=True)
    image_stats_fixture()
    pixel_index_fixture()
    s2_pixel_index_fixture()
    i3h_pixel_index_fixture()
    a5_pixel_index_fixture()
    i4r_pixel_index_fixture()
    sample_bilinear_fixture("hex7", 6, "sample_bilinear_hex7_24.parquet")
    sample_bilinear_fixture("s2", 10, "sample_bilinear_s2_24.parquet")
    sample_bilinear_fixture("a5", 9, "sample_bilinear_a5_24.parquet")
    sample_bilinear_fixture("e4r", 9, "sample_bilinear_e4r_24.parquet")
    overlay_values_fixture()
    overlay_values_multi_fixture()
    point_list_fixture()
    compact_3h_fixture()
    i9r_pixel_index_fixture()
    e4r_pixel_index_fixture()
    e9r_pixel_index_fixture()
    geotiff_pixel_index_fixture()
    utm_pixel_index_fixture()
    polar_pixel_index_fixture()
    conic_pixel_index_fixture()
    sinu_pixel_index_fixture()
    jpeg_pixel_index_fixture()
    composite_stack_fixture()

    from raster2dggs_spark.session import get_spark

    spark = get_spark("make-fixtures", master="local[8]", shuffle_partitions=8)
    overlay_fixtures(spark)
    spark.stop()


if __name__ == "__main__":
    main()
