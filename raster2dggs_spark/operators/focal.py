"""Focal (neighborhood) map algebra over the cell index.

The reference stops at per-cell aggregation; the next thing users of a
cell-indexed raster do is NEIGHBORHOOD statistics — smoothing, focal
anomaly, terrain-style windows — i.e. for every cell, an aggregate over
the cells around it.  Two operators, matched to the two cell-geometry
families this engine carries:

- :func:`focal_lattice` — EXACT Chebyshev-window focal on the
  fixed-degree lattice grids (geohash): the (2k+1)^2 window of the
  reference raster-algebra tradition, computed by pure integer index
  arithmetic (decode once, scatter natively, aggregate, join back).
- :func:`focal_metric` — radius-based focal for ANY keyed point set
  (cell centers of the curved grids, station data, ...): all
  contributors within ``radius_m`` great-circle distance.  On the
  seam-ambiguous encoders (hex7/i3h/...) a lattice k-ring is not even
  well-defined at icosahedron face seams (one physical hex, two ids —
  the repo's standing adjudication), so the METRIC window is the
  honest focal semantics there.

Scale shape (100 TB):

- focal_lattice: one narrow decode UDF, a native (2k+1)^2 scatter
  (``explode(sequence(-k,k))`` twice), ONE exchange for the gather
  aggregate, and a self-join back on the integer key (Catalyst plans a
  shuffled hash join on the same key — AQE-coalesced).  The scatter
  multiplies rows by the window size, exactly like the classic
  separable-pass raster convolution's IO lower bound.
- focal_metric: grid-blocked radius self-join.  Contributors replicate
  to every lat/lon block their disk intersects (banded integer ranges;
  block widths are CONSERVATIVE per lat band — width uses the cosine
  of the band edge NEAREST the pole, the repo's latitude-distortion
  rule, so high-lat blocks over-cover, never under-cover — an exact
  rounded-haversine filter then trims).  Receivers sit in their own
  block only, so every (receiver, contributor) pair meets exactly
  once: no pair dedupe shuffle.  Hot blocks (dense regions) are plain
  equi-join skew — AQE skew splitting applies.

Cross-engine determinism: the pair filter compares the haversine
distance ROUNDED to 4 dp (0.1 mm) against the radius — libm ulp
differences (~1e-10 m at 1e6 m) cannot flip a comparison that is not
already 1e-10 from the rounding boundary, which deterministic inputs
either never are (then the oracle is stable forever) or fail loudly
once at fixture time.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2dggs_spark.dggs import EXACT_LATTICE_GRIDS, grid_lib

EARTH_R = 6_371_007.1809  # authalic, matches geo/constants

_AGGS = {
    "mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
    "median": F.median, "std": F.stddev_samp, "count": None,
}


def _agg_exprs(value_cols: list[str], agg: str, prefix: str = "focal_"):
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    exprs = [F.count(F.lit(1)).alias("n_window")]
    if agg != "count":
        fn = _AGGS[agg]
        exprs += [fn(c).alias(f"{prefix}{c}") for c in value_cols]
    return exprs


# --------------------------------------------------------------------------
# exact lattice focal (geohash / quadkey)
# --------------------------------------------------------------------------

def lattice_indices(cells_df: DataFrame, cell_col: str = "cell",
                    dggs: str = "geohash") -> DataFrame:
    """Attach the integer lattice coordinates (gx, gy) and the
    resolution ``gprec`` of each packed rectangle-grid id — the cell's
    index in the grid's ``lattice(res)`` (for geohash the encoder's
    lon/lat quantizer indices, for quadkey the slippy (tx, ty) tile),
    read off the cell center, half a cell from every lattice line.  One
    narrow Arrow pass."""
    if dggs not in EXACT_LATTICE_GRIDS:
        raise ValueError(
            f"lattice focal: {' | '.join(EXACT_LATTICE_GRIDS)}, got {dggs!r}")
    lib = grid_lib(dggs)
    out_schema = T.StructType(
        list(cells_df.schema.fields)
        + [T.StructField("gx", T.LongType(), False),
           T.StructField("gy", T.LongType(), False),
           T.StructField("gprec", T.LongType(), False)])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            c = pdf[cell_col].values.astype(np.int64)
            p = lib.get_resolution(c)
            if len(np.unique(p)) > 1:
                raise ValueError(f"mixed {dggs} resolutions in focal input")
            u, v = lib.lattice(int(p[0]))[:2]
            lon, lat = lib.cell_to_lonlat(c)
            pdf = pdf.copy()
            pdf["gx"] = np.floor(u(lon)).astype(np.int64)
            pdf["gy"] = np.floor(v(lat)).astype(np.int64)
            pdf["gprec"] = np.int64(p[0])
            yield pdf

    return cells_df.mapInPandas(fn, out_schema)


def focal_lattice(cells_df: DataFrame, value_cols: list[str], k: int = 1,
                  agg: str = "mean", cell_col: str = "cell",
                  keep_indices: bool = False,
                  dggs: str = "geohash") -> DataFrame:
    """Exact (2k+1)x(2k+1) Chebyshev-window focal aggregate on a
    single-precision geohash or quadkey cell table (one row per cell).

    For every input cell, aggregates ``value_cols`` over the input
    cells in its window (itself included; absent neighbors simply don't
    contribute — the sparse-raster convention).  Longitude wraps at the
    antimeridian; latitude clips at the poles.  Output: the input row +
    ``focal_<col>`` per value column + ``n_window`` (cells present in
    the window)."""
    if k < 1:
        raise ValueError("k >= 1 required")
    g = lattice_indices(cells_df, cell_col, dggs)
    wlon, wlat = _lattice_extent_exprs(dggs)
    seq = F.sequence(F.lit(-k), F.lit(k))
    scat = (g
            .withColumn("dx", F.explode(seq))
            .withColumn("dy", F.explode(seq))
            .withColumn("sx", ((F.col("gx") + F.col("dx")) % wlon + wlon) % wlon)
            .withColumn("sy", F.col("gy") + F.col("dy"))
            .where((F.col("sy") >= 0) & (F.col("sy") < wlat)))
    gathered = scat.groupBy("sx", "sy").agg(*_agg_exprs(value_cols, agg))
    out = g.join(gathered,
                 (g["gx"] == gathered["sx"]) & (g["gy"] == gathered["sy"]))
    keep = [c for c in cells_df.columns]
    if keep_indices:
        keep += [g["gx"], g["gy"]]
    focal_cols = ([f"focal_{c}" for c in value_cols] if agg != "count" else [])
    return out.select(*keep, *focal_cols, "n_window")


def _lattice_extent_exprs(dggs: str):
    """(wlon, wlat) lattice extents of each row's ``gprec`` as native
    Columns (shared by focal_lattice and the Moran operators)."""
    lib = grid_lib(dggs)
    dims = [lib.lattice(r)[2:4] for r in range(lib.MIN_RES, lib.MAX_RES + 1)]
    at = F.col("gprec").cast("int") - (lib.MIN_RES - 1)
    return tuple(
        F.element_at(F.array(*[F.lit(d[i]) for d in dims]), at).cast("long")
        for i in (0, 1))


def morans_i_local(cells_df: DataFrame, value_col: str,
                   dggs: str = "geohash", cell_col: str = "cell"
                   ) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) on a rectangle-lattice cell
    layer: per cell, ``z`` (deviation from the layer mean), the
    row-standardized spatial lag (mean of the 8 queen neighbors' z) and
    ``local_i = z * lag / m2`` with ``m2`` the layer's population
    variance.  Hot/cold-spot detection — the spatial-statistics step
    after zonal/focal aggregation.

    Cells with no present neighbor are dropped (LISA is undefined for
    islands; the inner gather join encodes that).  Scale shape: one
    1-row broadcast (mu, m2), an 8-way native scatter, ONE exchange for
    the gather, one equi-join back — the focal_lattice plan with a
    z-transform; no windows, no driver iteration."""
    g = lattice_indices(cells_df, cell_col, dggs)
    st = cells_df.agg(
        F.avg(value_col).alias("mu"),
        F.avg(F.col(value_col) * F.col(value_col)).alias("m2raw"),
    )
    g = (g.crossJoin(F.broadcast(st))
         .withColumn("z", F.col(value_col) - F.col("mu"))
         .withColumn("m2", F.col("m2raw") - F.col("mu") * F.col("mu")))
    wlon, wlat = _lattice_extent_exprs(dggs)
    seq = F.sequence(F.lit(-1), F.lit(1))
    scat = (g
            .withColumn("dx", F.explode(seq))
            .withColumn("dy", F.explode(seq))
            .where((F.col("dx") != 0) | (F.col("dy") != 0))
            .withColumn("sx", ((F.col("gx") + F.col("dx")) % wlon + wlon)
                        % wlon)
            .withColumn("sy", F.col("gy") + F.col("dy"))
            .where((F.col("sy") >= 0) & (F.col("sy") < wlat)))
    gathered = scat.groupBy("sx", "sy").agg(
        F.sum("z").alias("zsum"), F.count(F.lit(1)).alias("n_neighbors"))
    out = g.join(gathered,
                 (g["gx"] == gathered["sx"]) & (g["gy"] == gathered["sy"]))
    lag = F.col("zsum") / F.col("n_neighbors")
    return out.select(
        *cells_df.columns, "gx", "gy", "z", "m2",
        lag.alias("lag"),
        (F.col("z") * lag / F.col("m2")).alias("local_i"),
        F.col("n_neighbors"),
    )


def getis_ord_gi_star(cells_df: DataFrame, value_col: str,
                      dggs: str = "geohash", k: int = 1,
                      cell_col: str = "cell") -> DataFrame:
    """Getis-Ord Gi* hot-spot z-statistic per cell (Ord & Getis 1995)
    with binary (2k+1)^2 Chebyshev-window weights INCLUDING self:

        Gi* = (S_w - mu*W) / (S * sqrt((n*W - W^2) / (n - 1)))

    where S_w is the window sum, W the window count (present cells),
    mu/S the layer mean/population std.  |Gi*| > ~1.96 marks
    significant hot (positive) / cold (negative) spots.  Plan: the
    focal_lattice sum plan + a 1-row broadcast of (n, mu, m2) — one
    scatter, one gather exchange, one join."""
    g = focal_lattice(cells_df, [value_col], k=k, agg="sum",
                      keep_indices=True, dggs=dggs)
    st = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("mu"),
        F.avg(F.col(value_col) * F.col(value_col)).alias("m2raw"),
    )
    out = g.crossJoin(F.broadcast(st))
    s = F.sqrt(F.col("m2raw") - F.col("mu") * F.col("mu"))
    w = F.col("n_window")
    gi = ((F.col(f"focal_{value_col}") - F.col("mu") * w)
          / (s * F.sqrt((F.col("n") * w - w * w) / (F.col("n") - 1))))
    return out.select(
        *cells_df.columns, "gx", "gy",
        F.col(f"focal_{value_col}").alias("window_sum"),
        F.col("n_window"), gi.alias("gi_star"),
    )


def morans_i_global(cells_df: DataFrame, value_col: str,
                    dggs: str = "geohash", cell_col: str = "cell"
                    ) -> DataFrame:
    """Global Moran's I with row-standardized queen weights:
    ``I = sum(z * lag) / (S0 * m2)`` where S0 counts cells that have at
    least one present neighbor (each such row's weights sum to 1) —
    algebraically (n/S0) * sum_ij w_ij z_i z_j / sum z_i^2.  One extra
    scalar aggregate over the LISA plan; returns a single row
    (moran_i, n_cells, s0)."""
    loc = morans_i_local(cells_df, value_col, dggs, cell_col)
    n = cells_df.agg(F.count(F.lit(1)).alias("n_cells"))
    agg = loc.agg(
        F.sum(F.col("z") * F.col("lag")).alias("szl"),
        F.count(F.lit(1)).alias("s0"),
        F.max("m2").alias("m2"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        (F.col("szl") / (F.col("s0") * F.col("m2"))).alias("moran_i"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("s0").cast("long").alias("s0"),
    )


def emerging_hotspots(df: DataFrame, value_col: str,
                      dggs: str = "geohash", k: int = 1,
                      cell_col: str = "cell", time_col: str = "tbin"
                      ) -> DataFrame:
    """Space-time emerging hot-spot analysis (the ESRI space-time-cube
    workflow): Gi* per time bin over each bin's own layer statistics,
    then a Mann-Kendall monotonic-trend test on each cell's Gi* series
    — ``mk_s = sum over bin pairs t1 < t2 of sign(gi[t2] - gi[t1])``,
    classified intensifying / diminishing / stable.

    Input: one row per (cell, time bin) with ``value_col`` (e.g. event
    counts).  Gi* uses only bins where the cell is present (sparse
    convention); Gi* values are rounded to 6 dp before the sign test so
    the trend is reproducible across engines.

    Scale shape: per-bin layer stats in ONE groupBy(tbin) (tiny,
    broadcast), the lattice scatter/gather keyed by (tbin, sx, sy) —
    bins ride the existing exchange, no per-bin jobs — and the MK pair
    join is a self-join on cell over T rows per cell (T = #bins, so
    T^2/2 pairs per cell, all task-local after one hash partition by
    cell)."""
    g = lattice_indices(df, cell_col, dggs)
    st = df.groupBy(time_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("mu"),
        F.avg(F.col(value_col) * F.col(value_col)).alias("m2raw"),
    )
    wlon, wlat = _lattice_extent_exprs(dggs)
    seq = F.sequence(F.lit(-k), F.lit(k))
    scat = (g
            .withColumn("dx", F.explode(seq))
            .withColumn("dy", F.explode(seq))
            .withColumn("sx", ((F.col("gx") + F.col("dx")) % wlon + wlon)
                        % wlon)
            .withColumn("sy", F.col("gy") + F.col("dy"))
            .where((F.col("sy") >= 0) & (F.col("sy") < wlat)))
    gathered = scat.groupBy(time_col, "sx", "sy").agg(
        F.sum(value_col).alias("sw"), F.count(F.lit(1)).alias("nw"))
    loc = (g.join(gathered,
                  (g[time_col] == gathered[time_col])
                  & (g["gx"] == gathered["sx"])
                  & (g["gy"] == gathered["sy"]))
           .drop(gathered[time_col])
           .join(F.broadcast(st), time_col))
    s = F.sqrt(F.col("m2raw") - F.col("mu") * F.col("mu"))
    w = F.col("nw")
    gi = ((F.col("sw") - F.col("mu") * w)
          / (s * F.sqrt((F.col("n") * w - w * w) / (F.col("n") - 1))))
    loc = loc.select(cell_col, "gx", "gy", time_col,
                     F.round(gi, 6).alias("gi"))
    a, b = loc.alias("a"), loc.alias("b")
    mk = (a.join(b, (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}"))
                 & (F.col(f"a.{time_col}") < F.col(f"b.{time_col}")))
          .groupBy(F.col(f"a.{cell_col}").alias(cell_col))
          .agg(F.sum(F.signum(F.col("b.gi") - F.col("a.gi")))
               .cast("long").alias("mk_s")))
    per = loc.groupBy(cell_col, "gx", "gy").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.max(time_col).alias("__tmax"))
    last = loc.select(cell_col, F.col(time_col).alias("__tmax"),
                      F.col("gi").alias("gi_last"))
    out = (per.join(last, [cell_col, "__tmax"])
           .join(mk, cell_col, "left").drop("__tmax")
           .withColumn("mk_s", F.coalesce(F.col("mk_s"), F.lit(0))))
    trend = (F.when(F.col("mk_s") > 0, "intensifying")
             .when(F.col("mk_s") < 0, "diminishing")
             .otherwise("stable"))
    return out.select(cell_col, "gx", "gy",
                      F.col("n_bins").cast("long").alias("n_bins"),
                      "mk_s", "gi_last", trend.alias("trend"))


# --------------------------------------------------------------------------
# metric focal (any grid / any keyed points)
# --------------------------------------------------------------------------

def focal_metric(points: DataFrame, value_cols: list[str], radius_m: float,
                 agg: str = "mean", key_col: str = "key",
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Radius-based focal aggregate: for every input point, aggregate
    ``value_cols`` over ALL input points within ``radius_m``
    great-circle metres (itself included).  Output: input row +
    ``focal_<col>`` + ``n_window``.

    Blocked self-join (module docstring): one Arrow pass emits each
    point into every lat/lon block its disk intersects (+ its own block
    flagged as the receiver copy), one equi-join on the block key, an
    exact rounded-haversine filter, one gather aggregate."""
    r_deg = float(np.degrees(radius_m / EARTH_R))
    band_deg = max(r_deg, 1e-6)
    nrows = max(1, int(np.ceil(180.0 / band_deg)))
    in_fields = [points.schema[key_col], points.schema[lon_col],
                 points.schema[lat_col]] + [points.schema[c] for c in value_cols]
    scat_schema = T.StructType(
        [T.StructField("brow", T.LongType(), False),
         T.StructField("bcol", T.LongType(), False),
         T.StructField("is_self", T.BooleanType(), False)]
        + [T.StructField(f.name, f.dataType, True) for f in in_fields])

    def _col_width_deg(brow: np.ndarray) -> np.ndarray:
        """Block width (deg lon) for a lat band — conservative: uses the
        band edge NEAREST the pole (max |lat|), so cos is the SMALLEST
        in the band and the width the largest (overcover-safe; the
        latitude-distortion rule)."""
        lat_lo = brow * band_deg - 90.0
        lat_hi = np.minimum(lat_lo + band_deg, 90.0)
        edge = np.maximum(np.abs(lat_lo), np.abs(lat_hi))
        w = band_deg / np.maximum(np.cos(np.radians(np.minimum(edge, 89.9))),
                                  1e-6)
        return np.minimum(w, 360.0)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf[lon_col].values.astype(np.float64)
            lat = pdf[lat_col].values.astype(np.float64)
            lon = ((lon + 180.0) % 360.0) - 180.0
            own_row = np.clip(((lat + 90.0) // band_deg).astype(np.int64),
                              0, nrows - 1)
            row_lo = np.clip(((lat - r_deg + 90.0) // band_deg).astype(np.int64),
                             0, nrows - 1)
            row_hi = np.clip(((lat + r_deg + 90.0) // band_deg).astype(np.int64),
                             0, nrows - 1)
            counts = (row_hi - row_lo + 1).astype(np.int64)
            idx = np.repeat(np.arange(lon.shape[0]), counts)
            starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
            rows = (np.arange(int(counts.sum())) - np.repeat(starts, counts)
                    + np.repeat(row_lo, counts))
            width = _col_width_deg(rows)
            ncols = np.maximum(1, np.ceil(360.0 / width)).astype(np.int64)
            width = 360.0 / ncols  # exact partition of the circle
            plon = lon[idx]
            # lon reach: the EXACT maximum lon half-width of a spherical
            # disk of radius a centred at latitude q is
            # asin(sin a / cos q) (attained at the tangent latitude
            # sin(phi*) = sin q / cos a) — NOT a/cos(q), which
            # UNDERcovers by ~a^3 tan^2(q)/6 (the repo's
            # latitude-distortion bug class).  Disk touches a pole
            # (|q| + a >= 90) or arg >= 1 -> every longitude.
            qabs = np.abs(lat[idx])
            arg = np.sin(np.radians(r_deg)) / np.maximum(
                np.cos(np.radians(np.minimum(qabs, 89.999999))), 1e-12)
            reach = np.degrees(np.arcsin(np.clip(arg, 0.0, 1.0))) + 1e-7
            reach = np.where((qabs + r_deg >= 89.999999) | (arg >= 1.0),
                             180.0, np.minimum(reach, 180.0))
            c_lo = np.floor((plon - reach + 180.0) / width).astype(np.int64)
            c_hi = np.floor((plon + reach + 180.0) / width).astype(np.int64)
            c_hi = np.minimum(c_hi, c_lo + ncols - 1)
            ccounts = (c_hi - c_lo + 1).astype(np.int64)
            idx2 = np.repeat(np.arange(rows.shape[0]), ccounts)
            cstarts = np.concatenate([[0], np.cumsum(ccounts)[:-1]])
            cols = (np.arange(int(ccounts.sum())) - np.repeat(cstarts, ccounts)
                    + np.repeat(c_lo, ccounts))
            cols = np.mod(cols, ncols[idx2])
            src = idx[idx2]
            data = {
                "brow": rows[idx2],
                "bcol": cols,
                "is_self": (rows[idx2] == own_row[src]) & (
                    cols == np.mod(
                        np.floor((lon[src] + 180.0)
                                 / (360.0 / ncols[idx2])).astype(np.int64),
                        ncols[idx2])),
                key_col: pdf[key_col].values[src],
                lon_col: lon[src],
                lat_col: lat[src],
            }
            for c in value_cols:
                data[c] = pdf[c].values[src]
            yield pd.DataFrame(data)

    scat = points.select(key_col, lon_col, lat_col, *value_cols) \
                 .mapInPandas(fn, scat_schema)
    recv = (scat.where("is_self")
            .select(F.col("brow"), F.col("bcol"),
                    F.col(key_col).alias("r_key"),
                    F.col(lon_col).alias("r_lon"),
                    F.col(lat_col).alias("r_lat")))
    contrib = scat.select("brow", "bcol", lon_col, lat_col, *value_cols)
    j = recv.join(contrib, ["brow", "bcol"])
    # op-for-op mirrorable in SQL (multiplication, not pow; radians per
    # operand) so the DuckDB twin computes bit-comparable distances
    rlat = F.radians("r_lat")
    clat = F.radians(lat_col)
    s1 = F.sin((clat - rlat) / 2)
    s2 = F.sin((F.radians(lon_col) - F.radians("r_lon")) / 2)
    a = s1 * s1 + F.cos(rlat) * F.cos(clat) * s2 * s2
    dist = 2.0 * EARTH_R * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
    j = j.where(F.round(dist, 4) <= F.lit(round(radius_m, 4)))
    gathered = j.groupBy("r_key").agg(*_agg_exprs(value_cols, agg))
    out = points.join(gathered, points[key_col] == gathered["r_key"])
    focal_cols = ([f"focal_{c}" for c in value_cols] if agg != "count" else [])
    return out.select(*points.columns, *focal_cols, "n_window")


def zonal_geometry(cells_df: DataFrame, zone_col: str,
                   dggs: str = "geohash", cell_col: str = "cell",
                   ) -> DataFrame:
    """Per-zone shape statistics on the cell lattice (ArcGIS
    ZonalGeometry): for every distinct zone value — connected or not —
    the cell count (``area``), the rook-edge ``perimeter`` (4 per cell
    minus its same-zone rook neighbours; lattice edges and NULL-zone
    holes count as exposed), the lattice bounding box, the centroid of
    cell coordinates, and the isoperimetric quotient ``iq = 16 A / P^2``
    (1.0 for a perfect square, -> 0 for filaments) — the standard
    post-pass over :func:`~raster2dggs_spark.operators.costdist.
    clump_cells` labels or any categorical layer.

    Physical plan: each cell scatters its zone to its 4 rook
    neighbours (one narrow 4x projection, no UDF), an equi-join on
    (gx, gy, zone) counts same-zone adjacencies map-side-combinable,
    and ONE groupBy(zone) folds everything — two shuffles total, both
    on already-aggregated cell rows, no window functions (hot-zone
    safe: a continental zone is just a bigger count).  NULL-zone cells
    are dropped (holes), matching the oracle's NULL semantics.
    """
    lat = lattice_indices(cells_df, cell_col, dggs).filter(
        F.col(zone_col).isNotNull())
    base = lat.select(F.col("gx"), F.col("gy"),
                      F.col(zone_col).alias("zone"))
    offs = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    msgs = None
    for dx, dy in offs:
        m = base.select((F.col("gx") + dx).alias("gx"),
                        (F.col("gy") + dy).alias("gy"),
                        F.col("zone"))
        msgs = m if msgs is None else msgs.unionAll(m)
    nbr = (msgs.groupBy("gx", "gy", "zone")
           .agg(F.count(F.lit(1)).alias("n_same")))
    per_cell = base.join(nbr, ["gx", "gy", "zone"], "left").select(
        "gx", "gy", "zone",
        (F.lit(4) - F.coalesce(F.col("n_same"), F.lit(0)))
        .alias("exposed"))
    out = per_cell.groupBy("zone").agg(
        F.count(F.lit(1)).alias("area"),
        F.sum("exposed").alias("perimeter"),
        F.min("gx").alias("min_gx"), F.max("gx").alias("max_gx"),
        F.min("gy").alias("min_gy"), F.max("gy").alias("max_gy"),
        F.avg("gx").alias("centroid_gx"),
        F.avg("gy").alias("centroid_gy"))
    return out.withColumn(
        "iq",
        F.when(F.col("perimeter") > 0,
               16.0 * F.col("area")
               / (F.col("perimeter") * F.col("perimeter"))))


def morphology_cells(cells_df: DataFrame, op: str = "dilate", k: int = 1,
                     metric: str = "chebyshev", cell_col: str = "cell",
                     dggs: str = "geohash",
                     keep_indices: bool = False) -> DataFrame:
    """Binary morphology on a cell SET (GRASS ``r.grow`` / ``r.buffer``,
    gdal buffer-by-cells): ``dilate`` | ``erode`` | ``open`` | ``close``
    with the radius-``k`` Chebyshev (square) or Manhattan (diamond)
    structuring element, on the power-of-2 rectangle lattices
    (geohash / quadkey — the curved seam-ambiguous grids have no
    well-defined k-ring, per the focal_metric adjudication).

    Semantics: the set is binary (presence of a cell row); values do
    not propagate.  Longitude wraps at the antimeridian; latitude
    CLIPS — out-of-lattice positions count as ABSENT, so erosion eats
    pole-adjacent rows (the bounded-raster convention of r.grow).
    Dilation output is the union of structuring-element translates;
    erosion keeps a cell iff its ENTIRE element lies in the set.
    open = erode∘dilate, close = dilate∘erode (both composed here so
    the intermediate never materializes driver-side).

    Scale shape (100 TB): scatter = |S|·|SE| narrow (gx, gy) rows, ONE
    exchange per stage (groupBy the target index — dilation's distinct
    and erosion's support count are the same aggregate), then one
    vectorized index→id encode pass.  No joins against enumerated
    bounding boxes, so sparse far-flung sets cost |S|, not bbox area.

    Returns a one-column ``cell`` DataFrame (+ gx/gy/gprec when
    ``keep_indices`` — the gate query compares raw indices).
    """
    if op not in ("dilate", "erode", "open", "close"):
        raise ValueError(f"op dilate|erode|open|close, got {op!r}")
    if metric not in ("chebyshev", "manhattan"):
        raise ValueError(f"metric chebyshev|manhattan, got {metric!r}")
    if k < 1:
        raise ValueError("k >= 1 required")
    if op == "open":
        inner = morphology_cells(cells_df, "erode", k, metric, cell_col,
                                 dggs, keep_indices=False)
        return morphology_cells(inner, "dilate", k, metric, "cell",
                                dggs, keep_indices=keep_indices)
    if op == "close":
        inner = morphology_cells(cells_df, "dilate", k, metric, cell_col,
                                 dggs, keep_indices=False)
        return morphology_cells(inner, "erode", k, metric, "cell",
                                dggs, keep_indices=keep_indices)

    g = lattice_indices(cells_df.select(cell_col), cell_col, dggs)
    wlon, wlat = _lattice_extent_exprs(dggs)
    seq = F.sequence(F.lit(-k), F.lit(k))
    scat = (g.withColumn("dx", F.explode(seq))
             .withColumn("dy", F.explode(seq)))
    if metric == "manhattan":
        scat = scat.where(F.abs(F.col("dx")) + F.abs(F.col("dy")) <= k)
        n_se = 2 * k * (k + 1) + 1
    else:
        n_se = (2 * k + 1) ** 2
    # dilate scatters s + o; erode scatters SUPPORT to t = s - o (for
    # fixed (t, o) the source s = t + o is unique, so count(t) == |SE|
    # iff every element position around t is present).
    sgn = 1 if op == "dilate" else -1
    scat = (scat
            .withColumn("sx", ((F.col("gx") + sgn * F.col("dx")) % wlon
                               + wlon) % wlon)
            .withColumn("sy", F.col("gy") + sgn * F.col("dy"))
            .where((F.col("sy") >= 0) & (F.col("sy") < wlat)))
    agg = scat.groupBy("sx", "sy").agg(
        F.count(F.lit(1)).alias("n_sup"),
        F.first("gprec").alias("gprec"))
    if op == "erode":
        agg = agg.where(F.col("n_sup") == n_se)
    idx = agg.select(F.col("sx").alias("gx"), F.col("sy").alias("gy"),
                     "gprec")

    out_schema = T.StructType([
        T.StructField("cell", T.LongType(), False),
        T.StructField("gx", T.LongType(), False),
        T.StructField("gy", T.LongType(), False),
        T.StructField("gprec", T.LongType(), False)])

    lib = grid_lib(dggs)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            prec = pdf["gprec"].values
            if len(np.unique(prec)) > 1:
                raise ValueError("mixed precisions in morphology input")
            to_cell = lib.lattice(int(prec[0]))[4]
            ids = to_cell(pdf["gx"].values, pdf["gy"].values)
            yield pd.DataFrame({"cell": ids, "gx": pdf["gx"].values,
                                "gy": pdf["gy"].values,
                                "gprec": pdf["gprec"].values})

    enc = idx.mapInPandas(encode, out_schema)
    return enc if keep_indices else enc.select("cell")


def geary_c(cells_df: DataFrame, value_col: str, dggs: str = "geohash",
            cell_col: str = "cell") -> DataFrame:
    """Global Geary's C (the distance-based sibling of Moran's I —
    ArcGIS High/Low Clustering) with binary queen weights over PRESENT
    neighbors:

    ``C = (n - 1) * Σ_ij w_ij (x_i - x_j)² / (2 W Σ_i (x_i - x̄)²)``

    computed without pair materialization: per cell,
    ``Σ_j (x_i - x_j)² = nn_i·x_i² - 2·x_i·Σ_j x_j + Σ_j x_j²`` rides
    the SAME one-exchange focal scatter/gather as Moran (neighbor sums
    of x and x²); the oracle recomputes it from the literal pair join.
    Returns one row (geary_c, n_cells, w_sum).  C < 1 = positive
    autocorrelation, 1 = none, > 1 = negative."""
    df = cells_df.withColumn("__v2", F.col(value_col) * F.col(value_col))
    f = focal_lattice(df, [value_col, "__v2"], k=1, agg="sum",
                      cell_col=cell_col, dggs=dggs)
    nn = (F.col("n_window") - 1).cast("double")
    sv = F.col(f"focal_{value_col}") - F.col(value_col)
    sv2 = F.col("focal___v2") - F.col("__v2")
    v = F.col(value_col)
    num_i = nn * v * v - 2.0 * v * sv + sv2
    st = df.agg(F.avg(value_col).alias("mu"),
                F.avg("__v2").alias("m2raw"),
                F.count(F.lit(1)).alias("n"))
    agg = f.agg(F.sum(num_i).alias("num"), F.sum(nn).alias("w"))
    denom = (F.col("n") - 1) / (
        2.0 * F.col("w")
        * (F.col("n") * (F.col("m2raw") - F.col("mu") * F.col("mu"))))
    return agg.crossJoin(F.broadcast(st)).select(
        (F.col("num") * denom).alias("geary_c"),
        F.col("n").cast("long").alias("n_cells"),
        F.col("w").cast("long").alias("w_sum"))
