"""Multi-scene per-cell compositing — the EO mosaic workload.

The reference indexes ONE raster per run; real archives (Landsat,
Sentinel-2) hold many overlapping scenes of the same ground and the
canonical 100-TB job is the *composite*: for every cell, reduce the
time stack to one observation — best-quality (cloud-free mosaic),
latest (most-recent-pixel map), or median (robust seasonal surface).
This module adds that as a first-class operator over the engine's cell
index; there is no reference counterpart (raster2dggs stops at one
raster, `/root/reference/raster2dggs/common.py:705-979` takes a single
``raster_input``), so the semantics follow the standard EO compositing
definitions instead.

Scale shape (100 TB):

- input is the per-(scene, cell) table — scenes are indexed
  independently (embarrassingly parallel stage 1) and pre-aggregated
  per scene+cell, so the composite's shuffle moves ~cells × epochs,
  never ~pixels;
- every strategy is a NATIVE single-exchange ``groupBy(cell)``:
  argmax strategies use ``max_by`` over a struct comparator (one pass,
  no window function — ``Window.partitionBy`` would single-task hot
  cells, the repo's measured landmine), median/mean use the built-in
  aggregates;
- tie-breaks are TOTAL (quality, then timestamp, then scene id), so
  results are deterministic under retries/speculation and identical
  across engines — quality is rounded to 4 dp before comparison (the
  cross-engine argmax stability rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STRATEGIES = ("best_quality", "latest", "median", "mean")


def composite_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    strategy: str = "best_quality",
    quality_col: str = "quality",
    time_col: str = "scene_ts",
    scene_col: str = "image_id",
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Reduce a per-(scene, cell) observation table to one row per cell.

    ``scene_cells``: one row per scene per cell (e.g. the output of
    :func:`scene_cell_means`).  Strategies:

    - ``best_quality``: per cell, the observation with the highest
      ``quality_col`` (ties → latest ``time_col``, then greatest
      ``scene_col`` — a total order).  Emits the winning scene id,
      timestamp and quality beside the values (provenance columns).
    - ``latest``: the observation with the greatest ``time_col``
      (ties → greatest ``scene_col``).
    - ``median`` / ``mean``: per-band exact median / mean across the
      stack; no single winning scene, so only ``n_scenes`` provenance.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"strategy must be one of {STRATEGIES}, got {strategy!r}")
    keys = [F.col(k) for k in key_cols]
    if strategy in ("best_quality", "latest"):
        if strategy == "best_quality":
            order = F.struct(
                F.round(F.col(quality_col), 4).alias("q"),
                F.col(time_col).alias("t"),
                F.col(scene_col).alias("s"),
            )
        else:
            order = F.struct(F.col(time_col).alias("t"),
                             F.col(scene_col).alias("s"))
        payload = F.struct(
            F.col(scene_col).alias("scene"),
            F.col(time_col).alias("scene_ts"),
            F.col(quality_col).alias("quality"),
            *[F.col(c).alias(c) for c in value_cols],
        )
        g = scene_cells.groupBy(*keys).agg(
            F.max_by(payload, order).alias("w"),
            F.count(F.lit(1)).alias("n_scenes"),
        )
        return g.select(
            *key_cols,
            F.col("w.scene").alias("scene"),
            F.col("w.scene_ts").alias("scene_ts"),
            F.col("w.quality").alias("quality"),
            *[F.col(f"w.{c}").alias(c) for c in value_cols],
            "n_scenes",
        )
    agg = F.median if strategy == "median" else F.avg
    return scene_cells.groupBy(*keys).agg(
        *[agg(c).alias(c) for c in value_cols],
        F.count(F.lit(1)).alias("n_scenes"),
    )


def change_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    t_break: int,
    time_col: str = "scene_ts",
    key_cols: tuple[str, ...] = ("cell",),
    rel_threshold: float = 0.1,
) -> DataFrame:
    """Per-cell temporal change detection: split the scene stack at
    ``t_break`` (observations with ``time_col < t_break`` are "before",
    the rest "after"), reduce each side to per-band means, and classify
    each band's change.

    The canonical EO change-map workload (deforestation / urban-growth
    deltas) over the engine's cell index — no reference counterpart
    (raster2dggs indexes one raster per run).  Spark-first shape: ONE
    ``groupBy(cell)`` with conditional aggregates — never a self-join
    of two composites, so the shuffle moves ~cells once and the plan is
    a single exchange regardless of stack depth.

    Per value column ``c`` emits ``{c}_before``, ``{c}_after``,
    ``{c}_delta`` (after − before) and ``{c}_class``:

    - ``new`` / ``gone`` when only one side has observations;
    - else ``gain`` / ``loss`` when the relative change
      |delta| / |before| exceeds ``rel_threshold`` (sign of delta
      decides which; a zero before-mean with nonzero delta classifies
      by delta sign alone);
    - else ``stable``.

    Classification uses the UNROUNDED means; round for display
    downstream.
    """
    keys = [F.col(k) for k in key_cols]
    before = F.col(time_col) < F.lit(t_break)
    aggs = [
        F.count(F.when(before, 1)).alias("n_before"),
        F.count(F.when(~before, 1)).alias("n_after"),
    ]
    for c in value_cols:
        v = F.col(c)
        aggs.append(F.avg(F.when(before, v)).alias(f"{c}_before"))
        aggs.append(F.avg(F.when(~before, v)).alias(f"{c}_after"))
    g = scene_cells.groupBy(*keys).agg(*aggs)
    out_cols = [*key_cols, "n_before", "n_after"]
    for c in value_cols:
        b, a = F.col(f"{c}_before"), F.col(f"{c}_after")
        delta = (a - b).alias(f"{c}_delta")
        rel = F.when(F.abs(b) > 0, F.abs(a - b) / F.abs(b))
        cls = (
            F.when(b.isNull() & a.isNull(), None)
            .when(b.isNull(), F.lit("new"))
            .when(a.isNull(), F.lit("gone"))
            .when(rel.isNotNull() & (rel <= F.lit(rel_threshold)), F.lit("stable"))
            .when(rel.isNull() & (a == b), F.lit("stable"))
            .when(a > b, F.lit("gain"))
            .otherwise(F.lit("loss"))
        ).alias(f"{c}_class")
        out_cols += [f"{c}_before", f"{c}_after", delta, cls]
    return g.select(*out_cols)


def trend_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    x_col: str = "scene_ts",
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-cell OLS linear trend of each band against ``x_col`` — the
    NDVI-trend / land-surface-change regression that EO archives run
    over decades of scenes.  Emits ``n_obs`` plus per band ``{c}_slope``
    (value units per x unit), ``{c}_intercept`` (value at x = 0) and
    ``{c}_r2``.

    Spark-first shape: the SQL-standard ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` aggregates in ONE
    ``groupBy(cell)`` — partial-aggregated map-side, so the shuffle
    moves ~cells regardless of stack depth; no window functions, no
    self-joins, no UDFs.  Rows where either side is NULL are ignored
    per the SQL standard (use them for gappy archives)."""
    aggs = [F.count(F.lit(1)).alias("n_obs")]
    for c in value_cols:
        y, x = F.col(c), F.col(x_col).cast("double")
        aggs += [
            F.regr_slope(y, x).alias(f"{c}_slope"),
            F.regr_intercept(y, x).alias(f"{c}_intercept"),
            F.regr_r2(y, x).alias(f"{c}_r2"),
        ]
    return scene_cells.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)


def anomaly_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-observation anomaly z-scores against the cell's own
    climatology: for each band, ``z = (v - mean_cell) / std_cell``
    over the cell's scene stack (sample std; z is NULL when the stack
    is constant or a single scene).  The EO anomaly-map workload
    (drought/heat anomalies vs per-pixel climatology).

    Spark-first shape: ONE ``groupBy(cell)`` computes the climatology,
    then ONE equi-join attaches it back to the observations —
    deliberately not ``Window.partitionBy(cell)``, which single-tasks
    hot cells (the repo's measured landmine); the join key is the same
    cell key the table is already clustered by, so AQE plans it
    locally at scale."""
    keys = list(key_cols)
    aggs = []
    for c in value_cols:
        aggs += [F.avg(c).alias(f"__m_{c}"),
                 F.stddev_samp(c).alias(f"__s_{c}")]
    clim = scene_cells.groupBy(*keys).agg(*aggs)
    out = scene_cells.join(clim, keys)
    for c in value_cols:
        out = out.withColumn(
            f"{c}_z",
            F.when(F.col(f"__s_{c}") > 0,
                   (F.col(c) - F.col(f"__m_{c}")) / F.col(f"__s_{c}")))
    return out.drop(*[f"__m_{c}" for c in value_cols],
                    *[f"__s_{c}" for c in value_cols])


def interpolate_gaps(
    scene_cells: DataFrame,
    value_cols: list[str],
    xs: list[float],
    x_col: str = "epoch",
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-cell temporal gap-filling onto the explicit grid ``xs`` —
    the EO cloud-gap workload: every cell emits one row per grid x,
    each band linearly interpolated between the cell's nearest present
    (non-null) observations, held constant beyond the ends
    (``np.interp`` semantics, pinned as the contract).  A band with no
    observations in a cell stays NULL.

    Spark-first shape: ONE shuffle (``groupBy(cell)``) into an
    ``applyInPandas`` whose group size is the stack depth — bounded by
    the archive's epoch count, never by cell popularity, so there is
    no hot-key hazard; the per-group kernel is a vectorized
    ``np.interp``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    grid = np.asarray(sorted(float(x) for x in xs), dtype=np.float64)
    key_fields = [scene_cells.schema[k] for k in key_cols]
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, False) for f in key_fields]
        + [T.StructField(x_col, T.DoubleType(), False)]
        + [T.StructField(c, T.DoubleType(), True) for c in value_cols])

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = {k: [kv] * grid.size for k, kv in zip(key_cols, key)}
        out[x_col] = grid
        x = pdf[x_col].to_numpy(dtype=np.float64)
        order = np.argsort(x, kind="stable")
        for c in value_cols:
            v = pdf[c].to_numpy(dtype=np.float64)[order]
            xv = x[order]
            ok = ~np.isnan(v)
            out[c] = (np.interp(grid, xv[ok], v[ok]) if ok.any()
                      else np.full(grid.size, np.nan))
        return pd.DataFrame(out)

    return scene_cells.groupBy(*key_cols).applyInPandas(fn, schema)


def rolling_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    window: float,
    x_col: str = "epoch",
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-cell centered rolling mean over the time axis: each
    observation averages the cell's observations with
    ``|x' - x| <= window`` (RANGE frame, so irregular sampling is
    handled by VALUE distance, not row offsets) — the EO temporal
    smoothing pass before thresholding/trend.  Emits ``{c}_smooth``
    and ``n_in_window`` beside the input row.

    Uses ``Window.partitionBy(cell)`` deliberately: the partition size
    is the cell's STACK DEPTH (bounded by the archive's epoch count),
    not its spatial popularity — the hot-key hazard the repo bans
    Window for does not arise on the time axis."""
    from pyspark.sql import Window

    if not float(window).is_integer():
        raise ValueError(
            "rolling_cells: Spark RANGE frames take integer bounds — "
            "scale x_col to integer units (e.g. days) and retry")
    iw = int(window)
    w = (Window.partitionBy(*[F.col(k) for k in key_cols])
         .orderBy(F.col(x_col).cast("long"))
         .rangeBetween(-iw, iw))
    out = scene_cells
    for c in value_cols:
        out = out.withColumn(f"{c}_smooth", F.avg(c).over(w))
    return out.withColumn("n_in_window", F.count(F.lit(1)).over(w))


def scene_cell_means(
    pixel_rows: DataFrame,
    band_cols: list[str],
    scene_col: str = "image_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Pre-aggregate exploded pixel rows to one row per (scene, cell):
    per-band means + pixel count.  This is the map-side-shrink stage of
    the composite pipeline — downstream shuffles move ~cells, not
    ~pixels.  Per-band NaNs (omit-policy nodata) are nulled first so
    each band's mean ignores them (Spark's avg skips NULL, not NaN)."""
    def _nn(c):
        col = F.col(c)
        return F.avg(F.when(F.isnan(col), None).otherwise(col)).alias(c)

    return pixel_rows.groupBy(scene_col, cell_col).agg(
        *[_nn(c) for c in band_cols],
        F.count(F.lit(1)).alias("n_px"),
    )


def composite_scenes(
    images: DataFrame,
    scene_meta: DataFrame,
    res: int,
    strategy: str = "best_quality",
    dggs: str = "hex7",
    n_bands: int = 4,
    quality_band: str | None = None,
    parent_res: int | None = None,
) -> DataFrame:
    """End-to-end composite: index every scene's pixels to cells, reduce
    to per-(scene, cell) means, attach scene metadata (broadcast — the
    scene catalog is tiny next to the pixel data), and composite per
    cell.  ``quality_band`` names the per-pixel QA band (e.g. "band_4")
    whose per-cell mean drives ``best_quality``; value bands are the
    remaining ones.  Exactly two exchanges end to end: the
    (scene, cell) combine and the cell composite."""
    from raster2dggs_spark.operators.indexing import (
        band_cols, default_parent_res, pixel_cells,
    )
    from raster2dggs_spark.operators.joins import parent_expr

    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    bcols = band_cols(n_bands)
    value_cols = [c for c in bcols if c != quality_band]
    px = pixel_cells(images, res=res, dggs=dggs, n_bands=n_bands,
                     keep_image_id=True)
    sc = scene_cell_means(px, bcols)
    sc = sc.join(F.broadcast(scene_meta), "image_id")
    out = composite_cells(
        sc,
        value_cols=value_cols,
        strategy=strategy,
        quality_col=quality_band if quality_band else "scene_quality",
        time_col="scene_ts",
    )
    return out.withColumn(
        "parent", parent_expr("cell", parent_res, dggs, from_res=res))


def harmonic_fit_cells(
    scene_cells: DataFrame,
    value_cols: list[str],
    t_col: str = "scene_ts",
    period: float = 12.0,
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-cell first-order harmonic (seasonal) regression — the
    CCDC / HANTS-class phenology fit EO archives run over the scene
    stack:  v ~= a0 + a1*cos(2*pi*t/period) + b1*sin(2*pi*t/period).
    Emits per band the fitted ``{c}_a0`` (mean level), ``{c}_a1`` /
    ``{c}_b1`` (harmonic coefficients), ``{c}_amp`` (seasonal
    amplitude) and ``{c}_phase`` (atan2(b1, a1), radians — peak
    timing), plus ``n_obs``.

    Spark-first shape: the 3x3 normal equations need only NINE moment
    sums (shared design sums + three per band), all computed in ONE
    map-side-combinable ``groupBy(cell)``; the solve is Cramer's rule
    as closed-form column arithmetic after the aggregate — no window,
    no UDF, no second pass, so the shuffle moves ~cells regardless of
    stack depth.  Cells whose design matrix is singular (fewer than 3
    distinct phases) emit NULL coefficients.  Outputs are rounded to
    4 dp (cross-engine float-association rule)."""
    import math

    w = 2.0 * math.pi / float(period)
    t = F.col(t_col).cast("double")
    cs, sn = F.cos(t * w), F.sin(t * w)
    aggs = [
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(cs).alias("__sc"), F.sum(sn).alias("__ss"),
        F.sum(cs * cs).alias("__scc"), F.sum(sn * sn).alias("__sss"),
        F.sum(cs * sn).alias("__scs"),
    ]
    for c in value_cols:
        v = F.col(c).cast("double")
        aggs += [F.sum(v).alias(f"__sv_{c}"),
                 F.sum(v * cs).alias(f"__svc_{c}"),
                 F.sum(v * sn).alias(f"__svs_{c}")]
    g = scene_cells.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)

    n = F.col("n_obs").cast("double")
    sc, ss = F.col("__sc"), F.col("__ss")
    scc, sss, scs = F.col("__scc"), F.col("__sss"), F.col("__scs")
    det = (n * (scc * sss - scs * scs)
           - sc * (sc * sss - scs * ss)
           + ss * (sc * scs - scc * ss))
    ok = F.abs(det) > 1e-9
    out = [*[F.col(k) for k in key_cols], F.col("n_obs")]
    for c in value_cols:
        sv = F.col(f"__sv_{c}")
        svc = F.col(f"__svc_{c}")
        svs = F.col(f"__svs_{c}")
        d0 = (sv * (scc * sss - scs * scs)
              - sc * (svc * sss - scs * svs)
              + ss * (svc * scs - scc * svs))
        d1 = (n * (svc * sss - scs * svs)
              - sv * (sc * sss - scs * ss)
              + ss * (sc * svs - svc * ss))
        d2 = (n * (scc * svs - svc * scs)
              - sc * (sc * svs - svc * ss)
              + sv * (sc * scs - scc * ss))
        a0, a1, b1 = d0 / det, d1 / det, d2 / det
        out += [
            F.round(F.when(ok, a0), 4).alias(f"{c}_a0"),
            F.round(F.when(ok, a1), 4).alias(f"{c}_a1"),
            F.round(F.when(ok, b1), 4).alias(f"{c}_b1"),
            F.round(F.when(ok, F.sqrt(a1 * a1 + b1 * b1)), 4)
            .alias(f"{c}_amp"),
            F.round(F.when(ok, F.atan2(b1, a1)), 4).alias(f"{c}_phase"),
        ]
    return g.select(*out)


def robust_trend_cells(
    scene_cells: DataFrame,
    value_col: str = "v",
    x_col: str = "scene_ts",
    key_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Per-cell ROBUST trend: Theil-Sen slope + the Mann-Kendall
    monotonic-trend test — the outlier-resistant companion of
    :func:`trend_cells` (the LandTrendr/CCDC-era EO standard for
    cloud-contaminated stacks; GRASS addons r.series.trend class).

    Per key over all observation pairs ``i < j`` (ordered by x)::

        sen_slope = median of (v_j - v_i) / (x_j - x_i), x_j != x_i
                    (exact linear-interpolation median — Spark
                    ``percentile`` == DuckDB ``quantile_cont``)
        mk_s      = sum sign(v_j - v_i)
        var_s     = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18
                    (tie-corrected; t = per-distinct-value counts)
        mk_z      = (S -/+ 1)/sqrt(var_s) for S >/< 0, else 0

    Scale shape (100-TB): the pair enumeration is a within-key
    self-join — pairs = n_obs^2 per KEY, bounded by archive depth
    (decades of scenes = O(10^2..10^3) obs), never cross-key; one
    shuffle keyed by (key…), two map-side-combinable aggregates (pair
    fold + tie fold), no window, no UDF.  Keys with fewer than 2
    distinct x values emit NULL slope and z.
    """
    ks = [F.col(k) for k in key_cols]
    a = scene_cells.select(
        *ks, F.col(x_col).cast("double").alias("__x"),
        F.col(value_col).cast("double").alias("__v"))
    b = a.select(
        *[F.col(k).alias(f"__b_{k}") for k in key_cols],
        F.col("__x").alias("__x2"), F.col("__v").alias("__v2"))
    cond = None
    for k in key_cols:
        c = F.col(f"__b_{k}") == F.col(str(k))
        cond = c if cond is None else cond & c
    pairs = a.join(b, cond & (F.col("__x2") > F.col("__x")))
    slope = (F.col("__v2") - F.col("__v")) / (F.col("__x2")
                                              - F.col("__x"))
    sgn = F.signum(F.col("__v2") - F.col("__v"))
    pair_agg = (pairs.groupBy(*ks).agg(
        F.percentile(slope, F.lit(0.5)).alias("sen_slope"),
        F.sum(sgn).alias("mk_s"),
        F.count(F.lit(1)).alias("n_pairs")))
    # tie fold: per-key distinct-value counts -> correction term + n
    ties = (a.groupBy(*ks, "__v")
            .agg(F.count(F.lit(1)).alias("__t"))
            .groupBy(*ks)
            .agg(F.sum("__t").alias("n_obs"),
                 F.sum(F.col("__t") * (F.col("__t") - 1)
                       * (2 * F.col("__t") + 5)).alias("__tc")))
    # ties has EVERY key; pair_agg is empty for keys with <2 distinct
    # x values — left join so those emit NULL slope/S/z per the
    # contract instead of vanishing (code-review finding)
    j = ties.join(pair_agg, list(key_cols), "left")
    n = F.col("n_obs").cast("double")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("__tc")) / 18.0
    s = F.col("mk_s")
    # s NULL (no pairs) must stay NULL — an unguarded .otherwise(0.0)
    # would claim "no trend" for a key that was never testable
    z = F.when((var_s > 0.0) & s.isNotNull(),
               F.when(s > 0, (s - 1) / F.sqrt(var_s))
               .when(s < 0, (s + 1) / F.sqrt(var_s))
               .otherwise(F.lit(0.0)))
    return j.select(
        *ks, F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "sen_slope", F.col("mk_s").cast("long").alias("mk_s"),
        z.alias("mk_z"))
