"""Aggregation surface — SURVEY.md §2.4 (A1–A15) as generic builders.

The reference implements these as pandas groupby aggfuncs
(/root/reference/raster2dggs/common.py:149-184, indexers/rasterindexer.py:
247-324, histogram.py); here each is a *native* DataFrame expression so
Catalyst plans partial/final HashAggregates, whole-stage codegen applies,
and no Python runs in the hot path.  The builders are key-generic: the
cell pipelines call them with (parent, cell) keys; the driver's oracle
queries call them with relational keys.

Deterministic tie-breaks (mode/majority: lowest value wins) replace the
reference's documented-arbitrary pandas behavior
(common.py:173-177 "ties → first") so Spark and the DuckDB oracle agree.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIMPLE_AGGS = {
    "count": lambda c: F.count(c),
    "mean": lambda c: F.avg(c),
    "sum": lambda c: F.sum(c),
    "prod": lambda c: F.product(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "std": lambda c: F.stddev_samp(c),
    "var": lambda c: F.var_samp(c),
    "median": lambda c: F.median(c),
    "nunique": lambda c: F.count_distinct(c),
    "range": lambda c: F.max(c) - F.min(c),
    # exact linearly-interpolated percentiles (SQL percentile_cont /
    # pandas type-7 — the reference's numpy aggfuncs' default)
    "p25": lambda c: F.percentile(c, F.lit(0.25)),
    "p75": lambda c: F.percentile(c, F.lit(0.75)),
    "p90": lambda c: F.percentile(c, F.lit(0.90)),
}


def agg_single(df: DataFrame, keys: list[str], vals: list[str], func: str) -> DataFrame:
    """A1/A2/A5: one aggfunc per value column, aliased to the value name."""
    fn = SIMPLE_AGGS[func]
    return df.groupBy(*keys).agg(*[fn(v).alias(v) for v in vals])


def agg_multi(df: DataFrame, keys: list[str], vals: list[str], funcs: list[str],
              as_struct: bool = False) -> DataFrame:
    """A6 multi-agg: every (value, func) in a single aggregation pass.

    ``as_struct=True`` mirrors the reference's per-band struct output
    (common.py:512-529); flat columns (``val_func``) otherwise."""
    exprs = []
    for v in vals:
        cols = [SIMPLE_AGGS[f](v).alias(f) for f in funcs]
        if as_struct:
            exprs.append(F.struct(*cols).alias(v))
        else:
            exprs += [SIMPLE_AGGS[f](v).alias(f"{v}_{f}") for f in funcs]
    return df.groupBy(*keys).agg(*exprs)


def agg_mode(df: DataFrame, keys: list[str], val: str, out: str = "mode") -> DataFrame:
    """A3 mode: two-level count + deterministic top-1 (ties → lowest value).

    Groups whose values are all null yield a null mode row (the
    reference's ``dropna=False``, common.py:155-158) rather than
    vanishing.  Two-exchange plan (groupBy key+value, then window by
    key) — the scalable idiom for top-1-by-count at skew."""
    all_keys = df.groupBy(*keys).agg(F.lit(1).alias("__one")).drop("__one")
    counted = df.where(F.col(val).isNotNull()).groupBy(*keys, val).count()
    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc(val))
    winner = (
        counted.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select(*keys, F.col(val).alias(out))
    )
    return all_keys.join(winner, keys, "left")


def agg_majority(df: DataFrame, keys: list[str], val: str, out: str = "majority") -> DataFrame:
    """A4: mode but only if its count exceeds 50% of *all* rows in the
    group (null-value rows included in the denominator — the reference's
    NaN-inclusive rule, common.py:160-169); null otherwise."""
    total = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__total"))
    counted = df.where(F.col(val).isNotNull()).groupBy(*keys, val).count()
    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc(val))
    winner = (
        counted.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select(*keys, F.col(val).alias("__cand"), F.col("count").alias("__cnt"))
    )
    return total.join(winner, keys, "left").select(
        *keys,
        F.when(F.col("__cnt") > F.col("__total") * 0.5, F.col("__cand")).alias(out),
    )


def agg_list(df: DataFrame, keys: list[str], val: str | list[str],
             out: str | None = None,
             decimals: int | None = None) -> DataFrame:
    """A7: per-group list, element-rounded then sorted ascending
    (rasterindexer.py:385-423: lists are sorted, rounding applies to
    elements).  ``val`` may be a list of columns — one list column per
    input column in a single aggregation pass (the reference's --point
    list emits a list per selected band, common.py:495-502); per-column
    nulls (that band nodata at the pixel) are skipped by collect_list,
    so lists can differ in length across bands."""
    vals = [val] if isinstance(val, str) else list(val)
    if len(vals) == 1:
        outs = [out or vals[0]]
    else:
        outs = vals

    def expr(v, o):
        c = F.col(v)
        if decimals is not None:
            c = F.round(c, decimals)
        return F.sort_array(F.collect_list(c)).alias(o)

    return df.groupBy(*keys).agg(*[expr(v, o) for v, o in zip(vals, outs)])


def hist_categorical(df: DataFrame, keys: list[str], val: str,
                     weight: str | None = None, decimals: int | None = None) -> DataFrame:
    """A8: per-(key, value) summed weights, exploded representation
    (value-sorted).  The reference packs this into parallel arrays
    (histogram.py:186-204); the exploded relational form is shuffle-
    friendly and SQL-oracle-comparable; pack at the output edge if the
    struct form is needed."""
    v = F.round(F.col(val), decimals) if decimals is not None else F.col(val)
    w = F.col(weight) if weight else F.lit(1.0)
    return (
        df.where(v.isNotNull())
        .groupBy(*keys, v.alias("value"))
        .agg(F.sum(w).alias("weight"))
    )


def hist_binned(df: DataFrame, keys: list[str], val: str, origin: float, width: float,
                weight: str | None = None) -> DataFrame:
    """A10 uniform binning: floor((v-origin)/width); unbounded, nothing
    dropped; only non-empty bins appear (histogram.py:220-227).  Returns
    (keys..., left, right, weight)."""
    idx = F.floor((F.col(val) - F.lit(origin)) / F.lit(width))
    w = F.col(weight) if weight else F.lit(1.0)
    g = (
        df.where(F.col(val).isNotNull())
        .groupBy(*keys, idx.alias("__bin"))
        .agg(F.sum(w).alias("weight"))
    )
    return g.select(
        *keys,
        (F.lit(origin) + F.col("__bin") * F.lit(width)).alias("left"),
        (F.lit(origin) + (F.col("__bin") + 1) * F.lit(width)).alias("right"),
        "weight",
    )


def hist_binned_edges(df: DataFrame, keys: list[str], val: str, edges: list[float],
                      weight: str | None = None) -> DataFrame:
    """A9 explicit edges: half-open bins, last bin closed, out-of-range
    dropped (reference README.md:361-427 semantics)."""
    v = F.col(val)
    w = F.col(weight) if weight else F.lit(1.0)
    cond = None
    idx = F.lit(None).cast("int")
    # build reverse so earlier bins take precedence
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        last = i == len(edges) - 2
        c = (v >= lo) & ((v <= hi) if last else (v < hi))
        idx = F.when(c, F.lit(i)).otherwise(idx)
    g = (
        df.where(v.isNotNull() & idx.isNotNull())
        .groupBy(*keys, idx.alias("__bin"))
        .agg(F.sum(w).alias("weight"))
    )
    lefts = F.array(*[F.lit(float(e)) for e in edges[:-1]])
    rights = F.array(*[F.lit(float(e)) for e in edges[1:]])
    return g.select(
        *keys,
        F.element_at(lefts, F.col("__bin") + 1).alias("left"),
        F.element_at(rights, F.col("__bin") + 1).alias("right"),
        "weight",
    )


def hist_normalize(hist: DataFrame, keys: list[str], weight_col: str = "weight",
                   out: str = "weight_frac") -> DataFrame:
    """A11 VALID_OVERLAP normalization: weight / total weight per group."""
    w = Window.partitionBy(*keys)
    return hist.withColumn(out, F.col(weight_col) / F.sum(weight_col).over(w))


def weighted_mean(df: DataFrame, keys: list[str], val: str, weight: str,
                  out: str = "wmean") -> DataFrame:
    """A12: Σ(v·w)/Σ(w) over non-null values (exactextract weighted_mean,
    overlay.py:178-220)."""
    vw = F.when(F.col(val).isNotNull(), F.col(weight))
    return df.groupBy(*keys).agg(
        (F.sum(F.col(val) * F.col(weight)) / F.sum(vw)).alias(out)
    )


def weighted_sum(df: DataFrame, keys: list[str], val: str, weight: str,
                 out: str = "wsum") -> DataFrame:
    """A13 mass-preserving sum: Σ(v·coverage) — conserves the raster total
    (common.py:205-209; conservation test mirrors
    test_output_schema.py:555-570)."""
    return df.groupBy(*keys).agg(F.sum(F.col(val) * F.col(weight)).alias(out))


def majority_by_weight(df: DataFrame, keys: list[str], val: str, weight: str,
                       out: str = "majority") -> DataFrame:
    """A14: class with the largest summed weight (area), deterministic
    tie-break by value."""
    g = df.where(F.col(val).isNotNull()).groupBy(*keys, val).agg(
        F.sum(weight).alias("__w")
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("__w"), F.asc(val))
    return (
        g.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select(*keys, F.col(val).alias(out))
    )


def class_fractions(df: DataFrame, keys: list[str], val: str, weight: str | None = None
                    ) -> DataFrame:
    """A15: per-class fraction of the group's total weight, exploded
    (keys..., class, fraction) sorted by class at the edge
    (overlay.py:51-65, 492-517)."""
    w = F.col(weight) if weight else F.lit(1.0)
    g = df.where(F.col(val).isNotNull()).groupBy(*keys, F.col(val).alias("class")).agg(
        F.sum(w).alias("__w")
    )
    win = Window.partitionBy(*keys)
    return g.select(
        *keys, "class", (F.col("__w") / F.sum("__w").over(win)).alias("fraction")
    )


def valid_coverage_threshold(df: DataFrame, val_cols: list[str], frac_col: str,
                             threshold: float) -> DataFrame:
    """P6 VCT: null out values whose valid-coverage fraction < threshold
    (overlay.py:426-488)."""
    out = df
    for c in val_cols:
        out = out.withColumn(
            c, F.when(F.col(frac_col) >= threshold, F.col(c))
        )
    return out


def round_decimals(df: DataFrame, cols: list[str], decimals: int) -> DataFrame:
    """P9: >0 round to decimals (double); <=0 round then cast long
    (rasterindexer.py:269-283: Int64 output for non-positive decimals)."""
    out = df
    for c in cols:
        e = F.round(F.col(c), decimals)
        if decimals <= 0:
            e = e.cast("long")
        out = out.withColumn(c, e)
    return out


def dedupe_first(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """J4 window-boundary dedupe, made deterministic: keep the first row
    per key under an explicit ordering (the reference's ``.first()`` is
    order-of-arrival, rasterindexer.py:326-342 — values identical by
    construction there; we pin the ordering so retries/AQE cannot flip
    results)."""
    # expressed as a min-struct aggregation, NOT a window: row_number
    # ships every row of a key to one task and sorts it, while the
    # groupBy folds map-side (partial min) and shuffles one row per
    # key — the decisive difference on per-cell dedupes with millions
    # of keys (guide §2.3 "aggregate before you shuffle").  The struct
    # orders by the caller's order columns then the remaining columns
    # (asc, nulls first, NaN last — exactly the window's asc order);
    # under the repo's total-order rule the winning ROW is identical.
    rest = [c for c in df.columns if c not in keys]
    ordered = list(order) + [c for c in rest if c not in order]
    g = df.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("__b"))
    out = g.select(*keys, *[F.col("__b")[c].alias(c) for c in rest])
    return out.select(*df.columns)


def top_k(df: DataFrame, keys: list[str], order_col: str, k: int,
          ascending: bool = True, tiebreak: list[str] | None = None) -> DataFrame:
    """§2.5 generic windowed top-k (the kNN join's final stage)."""
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    order += [F.asc(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --- A11 weight/normalize matrix (reference histogram.py:53-73) ----------

HIST_WEIGHT_FIELDS = {
    ("count", "none"): "counts",
    ("count", "valid_overlap"): "count_frac",
    ("area", "none"): "area",
    ("area", "cell_area"): "area_frac",
    ("area", "valid_overlap"): "area_share",
}


def hist_weight_field(weight: str = "count", normalize: str = "none") -> str:
    """Per-bin weight field name for a (weight, normalize) combination —
    the reference's naming matrix (histogram.py:53-73).  (count,
    cell_area) is rejected exactly as the reference's CLI validation does
    (common.py:280-288): a pixel count divided by area is a density."""
    key = (weight, normalize)
    if key not in HIST_WEIGHT_FIELDS:
        raise ValueError(
            f"hist weight {weight!r} with normalize {normalize!r} is not a "
            "supported combination (count/cell-area would be a density; "
            "use weight='area')"
        )
    return HIST_WEIGHT_FIELDS[key]


def hist_normalize_cell_area(hist: DataFrame, res: int, dggs: str = "hex7",
                             weight_col: str = "weight",
                             cell_col: str = "cell",
                             out: str = "area_frac") -> DataFrame:
    """A11 CELL_AREA normalization: weight / cell area in m²
    (histogram.py:135-151), on EVERY grid (round 5).  Constant-area grids
    (rhp) divide by the exact closed-form area at ``res`` — a pure
    native expression; all other grids compute per-cell spherical areas
    from the grid's ``cell_area_m2`` in an Arrow UDF (exact: spherical
    excess on the great-circle-edged grids, R²·Δλ·Δsinφ on the
    lon/lat-rectangle grids)."""
    import pandas as pd

    from raster2dggs_spark.dggs import CONSTANT_AREA_GRIDS, grid_lib

    lib = grid_lib(dggs)
    if dggs in CONSTANT_AREA_GRIDS:
        return hist.withColumn(
            out, F.col(weight_col) / F.lit(float(lib.cell_area_m2(res))))

    @F.pandas_udf("double")
    def area_m2(c):
        return pd.Series(lib.cell_area_m2(c.values))

    return hist.withColumn(out, F.col(weight_col) / area_m2(cell_col))


def crosstab_cells(a: DataFrame, b: DataFrame, cell_col: str = "cell",
                   a_class: str = "class_a", b_class: str = "class_b",
                   weight: str | None = None) -> DataFrame:
    """Categorical cross-tabulation of two cell-indexed class layers —
    the GRASS ``r.coin`` / ArcGIS Combine + Tabulate Area workflow
    re-expressed relationally: inner-join the layers on the cell key,
    then tally per (class_a, class_b) pair the joint cell count, the
    joint weight (cell area if ``weight`` names an area column on layer
    ``a``), and each pair's share of the joint total.

    Scale: the join shuffles both layers on the cell key once (or AQE
    broadcasts the smaller layer when it fits); the tally is a
    map-side-combinable groupBy over at most |classes_a|x|classes_b|
    rows, and the grand total rides back as a broadcast 1-row frame —
    no window over the whole result (a count over an empty window
    would single-task).  Null classes on either side are excluded, as
    in r.coin (no-data cells don't coincide).
    """
    left = a.where(F.col(a_class).isNotNull()).select(
        F.col(cell_col).alias("__c"), F.col(a_class).alias("class_a"),
        (F.col(weight) if weight else F.lit(1.0)).alias("__w"))
    right = b.where(F.col(b_class).isNotNull()).select(
        F.col(cell_col).alias("__c"), F.col(b_class).alias("class_b"))
    joint = (left.join(right, "__c")
             .groupBy("class_a", "class_b")
             .agg(F.count(F.lit(1)).alias("n_cells"),
                  F.sum("__w").alias("joint_weight")))
    total = joint.select(F.sum("joint_weight").alias("__tot"))
    return (joint.crossJoin(F.broadcast(total))
            .select("class_a", "class_b",
                    F.col("n_cells").cast("long").alias("n_cells"),
                    F.round("joint_weight", 4).alias("joint_weight"),
                    F.round(F.col("joint_weight") / F.col("__tot"), 6)
                    .alias("share")))


def glcm_texture(df: DataFrame, value_col: str = "z", levels: int = 8,
                 lo: float = 0.0, hi: float = 1.0,
                 offsets=((1, 0), (0, 1)),
                 group_cols=("img",), x_col: str = "x",
                 y_col: str = "y") -> DataFrame:
    """Haralick texture features from the gray-level co-occurrence
    matrix (GRASS ``r.texture`` / skimage ``graycomatrix`` +
    ``graycoprops``) — per group (image/tile) and per offset, the six
    classic features over the SYMMETRIC, normalized GLCM::

        contrast      = sum p * (i-j)^2
        dissimilarity = sum p * |i-j|
        homogeneity   = sum p / (1 + (i-j)^2)
        energy        = sqrt(sum p^2)            (ASM under the root)
        entropy       = -sum p * ln(p)
        correlation   = (sum p*i*j - mu_i*mu_j) / (sigma_i * sigma_j)
                        (NULL when either marginal is constant)

    Values quantize to ``levels`` bins over the CLOSED range
    [lo, hi]: ``g = clip(floor((v - lo) / (hi - lo) * L), 0, L-1)`` —
    explicit bounds, not per-image min/max, so quantization is
    deterministic and subset-invariant.  Symmetric: each neighbour
    pair counts in both orders (the skimage ``symmetric=True``
    default).

    Spark-first shape — NO UDF anywhere: quantize is a column
    expression, neighbour pairing is an equi-join of the lattice to
    itself shifted by (dx, dy) (co-partitioned on the group+coords
    key, one shuffle), the GLCM is a two-level aggregation
    (groupBy(group, offset, gi, gj).count -> groupBy(group, offset)
    feature fold) with map-side combine at both levels.  Output rows =
    |groups| x |offsets|; cost scales with pixels, never levels^2
    materialized per pixel.
    """
    gcols = list(group_cols)
    span = float(hi) - float(lo)
    g = F.least(F.lit(int(levels) - 1), F.greatest(F.lit(0), F.floor(
        (F.col(value_col) - F.lit(float(lo))) / F.lit(span)
        * F.lit(int(levels))).cast("int"))).cast("int")
    base = df.select(*gcols, F.col(x_col).alias("__x"),
                     F.col(y_col).alias("__y"), g.alias("__g"))
    offs = df.sparkSession.createDataFrame(
        [(int(dx), int(dy)) for dx, dy in offsets], "dx int, dy int")
    left = base.crossJoin(F.broadcast(offs))
    right = base.select(
        *[F.col(c).alias(f"__r_{c}") for c in gcols],
        F.col("__x").alias("__rx"), F.col("__y").alias("__ry"),
        F.col("__g").alias("__h"))
    cond = (F.col("__rx") == F.col("__x") + F.col("dx")) \
        & (F.col("__ry") == F.col("__y") + F.col("dy"))
    for c in gcols:
        cond = cond & (F.col(f"__r_{c}") == F.col(c))
    pairs = left.join(right, cond)
    # symmetric GLCM: each neighbour pair in both orders (one narrow
    # explode, no second join)
    sym = pairs.select(
        *gcols, "dx", "dy",
        F.explode(F.array(
            F.struct(F.col("__g").alias("gi"), F.col("__h").alias("gj")),
            F.struct(F.col("__h").alias("gi"), F.col("__g").alias("gj")),
        )).alias("p")).select(*gcols, "dx", "dy", "p.gi", "p.gj")
    cm = (sym.groupBy(*gcols, "dx", "dy", "gi", "gj")
          .agg(F.count(F.lit(1)).cast("double").alias("c")))
    tot = F.sum("c")
    i, j, c = F.col("gi").cast("double"), F.col("gj").cast("double"), \
        F.col("c")
    agg = (cm.groupBy(*gcols, "dx", "dy").agg(
        tot.alias("n"),
        F.sum(c * (i - j) * (i - j)).alias("s_con"),
        F.sum(c * F.abs(i - j)).alias("s_dis"),
        F.sum(c / (1.0 + (i - j) * (i - j))).alias("s_hom"),
        F.sum(c * c).alias("s_asm"),
        F.sum(c * F.log(c)).alias("s_clnc"),
        F.sum(c * i).alias("s_i"), F.sum(c * j).alias("s_j"),
        F.sum(c * i * i).alias("s_i2"), F.sum(c * j * j).alias("s_j2"),
        F.sum(c * i * j).alias("s_ij")))
    n = F.col("n")
    mu_i, mu_j = F.col("s_i") / n, F.col("s_j") / n
    var_i = F.col("s_i2") / n - mu_i * mu_i
    var_j = F.col("s_j2") / n - mu_j * mu_j
    den = F.sqrt(var_i) * F.sqrt(var_j)
    return agg.select(
        *gcols, "dx", "dy", n.cast("long").alias("n_pairs"),
        (F.col("s_con") / n).alias("contrast"),
        (F.col("s_dis") / n).alias("dissimilarity"),
        (F.col("s_hom") / n).alias("homogeneity"),
        F.sqrt(F.col("s_asm") / (n * n)).alias("energy"),
        # -sum p ln p  =  ln n - (sum c ln c) / n
        (F.log(n) - F.col("s_clnc") / n).alias("entropy"),
        F.when(den > 0.0, (F.col("s_ij") / n - mu_i * mu_j) / den)
        .alias("correlation"))


def skyline(df: DataFrame, dim_cols, group_cols=(),
            keep_cols=()) -> DataFrame:
    """Pareto frontier (the SKYLINE operator of Börzsönyi 2001): rows
    not DOMINATED by any other row of their group, all dimensions
    MINIMIZED (negate a column upstream to maximize).  ``s`` dominates
    ``r`` iff ``s <= r`` on every dimension and ``s < r`` on at least
    one — ties survive (neither dominates), so duplicates of a
    frontier point all remain, matching the SQL ``NOT EXISTS``
    definition exactly.

    Spark-first two-phase plan (the classic distributed skyline):

    1. LOCAL skyline per input partition — one narrow ``mapInPandas``,
       no shuffle: rows sorted lexicographically over the dim tuple
       (a dominator always sorts first — exact, no float-sum
       rounding), dominance checks vectorized against the kept set.
    2. ONE shuffle of the surviving candidates to their group key
       (``applyInPandas``) and the same algorithm finalizes.  The
       global frontier of a group must fit one task — the standard
       assumption (frontiers are small; at 100 TB the phase-1 prune
       discards ~everything, and a pathologically large frontier —
       anti-correlated dimensions — is a result-size problem, not a
       plan problem).
    """
    import pandas as pd

    gcols = list(group_cols)
    dcols = list(dim_cols)
    kcols = [c for c in keep_cols if c not in gcols + dcols]
    out_fields = [df.schema[c] for c in gcols + kcols + dcols]
    schema = T.StructType(out_fields)
    sel = df.select(*gcols, *kcols, *dcols)

    def _frontier(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = pdf[dcols].to_numpy(dtype=float)
        # LEXICOGRAPHIC order over the dim tuple: a dominator is <= on
        # every dim and < on the first differing one, so it always
        # sorts BEFORE the rows it dominates — exact, unlike a
        # dimension-sum key whose float rounding can put a dominated
        # row first (code-review finding)
        order = np.lexsort(tuple(arr[:, i]
                                 for i in range(arr.shape[1] - 1, -1, -1)))
        kept_rows = []
        kept = np.empty((0, arr.shape[1]))
        for i in order:
            r = arr[i]
            if kept.shape[0]:
                dom = ((kept <= r).all(axis=1)
                       & (kept < r).any(axis=1)).any()
                if dom:
                    continue
            kept = np.vstack([kept, r[None, :]])
            kept_rows.append(i)
        return pdf.iloc[sorted(kept_rows)]

    def local(batches):
        # phase-1 prune must respect the GROUP: a row may only be
        # dominated by rows of its own group (caught by the skyline
        # oracle: cross-brand pruning collapsed 75 frontier rows to 6)
        for pdf in batches:
            if not len(pdf):
                continue
            if gcols:
                parts = [_frontier(g)
                         for _, g in pdf.groupby(gcols, sort=False)]
                yield pd.concat(parts, ignore_index=True)
            else:
                yield _frontier(pdf)

    cand = sel.mapInPandas(local, schema)
    if gcols:
        return cand.groupBy(*gcols).applyInPandas(
            lambda pdf: _frontier(pdf), schema)
    return (cand.withColumn("__g", F.lit(0))
            .groupBy("__g")
            .applyInPandas(
                lambda key, pdf: _frontier(pdf.drop(columns="__g")),
                schema))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_support: float = 0.01,
                      min_confidence: float = 0.0) -> DataFrame:
    """Pairwise association rules (the Apriori/market-basket staple,
    spark.ml FPGrowth's rule surface for itemsets of size 2): for every
    ordered item pair (a -> b) co-occurring in at least
    ``min_support`` fraction of baskets::

        support    = n_ab / n_baskets
        confidence = n_ab / n_a
        lift       = confidence / (n_b / n_baskets)

    Duplicate (basket, item) rows collapse first (presence, not
    quantity).  Both directions of a pair are emitted (a->b and b->a
    differ in confidence).

    Scale shape (100-TB): one distinct, one within-basket self-join on
    the basket key (pairs ~ sum of per-basket item-count squares — the
    transactional-data shape, baskets are small), two
    map-side-combinable counts, one broadcast of the 1-row basket
    total and one item-count equi-join each side.  No collect, no
    cross join, no windows.
    """
    items = (df.select(F.col(basket_col).alias("__b"),
                       F.col(item_col).alias("__i")).distinct()
             .localCheckpoint(eager=True))
    n_baskets = items.select("__b").distinct().agg(
        F.count(F.lit(1)).alias("__n"))
    item_n = items.groupBy("__i").agg(F.count(F.lit(1)).alias("__cnt"))
    a = items
    b = items.select(F.col("__b"), F.col("__i").alias("__j"))
    pairs = (a.join(b, "__b").where(F.col("__i") != F.col("__j"))
             .groupBy("__i", "__j")
             .agg(F.count(F.lit(1)).alias("__nab")))
    out = (pairs
           .join(item_n.withColumnRenamed("__cnt", "__na"), "__i")
           .join(item_n.select(F.col("__i").alias("__j"),
                               F.col("__cnt").alias("__nb")), "__j")
           .crossJoin(F.broadcast(n_baskets)))
    support = F.col("__nab") / F.col("__n")
    confidence = F.col("__nab") / F.col("__na")
    lift = confidence / (F.col("__nb") / F.col("__n"))
    return (out.where(support >= float(min_support))
            .where(confidence >= float(min_confidence))
            .select(F.col("__i").alias("antecedent"),
                    F.col("__j").alias("consequent"),
                    F.col("__nab").cast("long").alias("n_joint"),
                    F.round(support, 6).alias("support"),
                    F.round(confidence, 6).alias("confidence"),
                    F.round(lift, 6).alias("lift")))


def layer_correlation(a: DataFrame, b: DataFrame,
                      cell_col: str = "cell", a_col: str = "va",
                      b_col: str = "vb") -> DataFrame:
    """Cross-layer correlation statistics (GRASS ``r.covar`` / ArcGIS
    Band Collection Statistics for a layer pair): join two cell-indexed
    value layers on the cell key and fold Pearson r, sample
    covariance, means and stds over the SHARED cells in one
    aggregation — the "do these two rasters co-vary" question asked of
    every derived-layer pair (NDVI vs rainfall, density vs income).

    Cells present in only one layer are excluded (inner join — the
    r.covar complete-case contract).

    Scale shape: ONE equi-join on the cell key (AQE broadcasts the
    smaller layer when it fits) + one map-side-combinable aggregate;
    output is a single row.
    """
    j = (a.select(F.col(cell_col).alias("__c"),
                  F.col(a_col).alias("__a"))
         .join(b.select(F.col(cell_col).alias("__c"),
                        F.col(b_col).alias("__b")), "__c"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.corr("__a", "__b"), 6).alias("pearson_r"),
        F.round(F.covar_samp("__a", "__b"), 4).alias("covar"),
        F.round(F.avg("__a"), 6).alias("mean_a"),
        F.round(F.avg("__b"), 6).alias("mean_b"),
        F.round(F.stddev_samp("__a"), 6).alias("std_a"),
        F.round(F.stddev_samp("__b"), 6).alias("std_b"))


def zonal_diversity(df: DataFrame, zone_col: str,
                    class_col: str) -> DataFrame:
    """Landscape-ecology diversity indices per zone (GRASS
    ``r.diversity`` / ``r.li.shannon``/``r.li.simpson``): from the
    per-(zone, class) cell counts::

        richness  = distinct classes
        shannon_h = -sum p ln p
        simpson_d = 1 - sum p^2          (Gini-Simpson)
        evenness  = shannon_h / ln(richness)   (NULL for 1 class)

    NULL classes are excluded (nodata cells carry no class).

    Scale shape: two chained map-side-combinable groupBys ((zone,
    class) counts, then the per-zone fold with the zone total attached
    by one equi-join) — no windows, no collect; the per-class
    ``c*ln(c)`` trick keeps the entropy a single-pass sum
    (``H = ln(n) - sum c ln c / n``).
    """
    cnt = (df.where(F.col(class_col).isNotNull())
           .groupBy(F.col(zone_col).alias("__z"),
                    F.col(class_col).alias("__k"))
           .agg(F.count(F.lit(1)).cast("double").alias("__c")))
    c = F.col("__c")
    g = (cnt.groupBy("__z").agg(
        F.sum(c).alias("__n"),
        F.count(F.lit(1)).alias("richness"),
        F.sum(c * F.log(c)).alias("__clnc"),
        F.sum(c * c).alias("__c2")))
    n = F.col("__n")
    shannon = F.log(n) - F.col("__clnc") / n
    simpson = 1.0 - F.col("__c2") / (n * n)
    rich = F.col("richness")
    return g.select(
        F.col("__z").alias(zone_col),
        n.cast("long").alias("n_cells"),
        rich.cast("long").alias("richness"),
        F.round(shannon, 6).alias("shannon_h"),
        F.round(simpson, 6).alias("simpson_d"),
        F.round(F.when(rich > 1, shannon / F.log(rich.cast("double"))),
                6).alias("evenness"))


def gini_index(df: DataFrame, group_col: str,
               value_col: str) -> DataFrame:
    """Gini concentration index per group (the Lorenz-curve inequality
    measure applied spatially: how concentrated is population /
    activity / value across a region's cells)::

        G = 2 * sum(rank * x) / (n * sum x) - (n + 1) / n

    over ascending-value ranks 1..n.  Requires non-negative values
    (the Lorenz construction); groups with zero total emit NULL.  Tied
    values need no tie-break: the rank-coefficient SUM over a tied
    block is permutation-invariant, so G is exact and
    engine-reproducible regardless of tie order.

    Scale shape: one window over the GROUP key (many small groups) +
    one map-side-combinable aggregate; integer ranks times values keep
    the fold exact for integer inputs.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = df.withColumn("__r", F.row_number().over(w))
    g = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("__sx"),
        F.sum(F.col("__r") * F.col(value_col)).alias("__srx"))
    n = F.col("n").cast("double")
    gini = (2.0 * F.col("__srx") / (n * F.col("__sx"))
            - (n + 1.0) / n)
    return g.select(
        group_col, F.col("n").cast("long").alias("n"),
        F.round("__sx", 4).alias("total"),
        F.round(F.when(F.col("__sx") > 0, gini), 6).alias("gini"))
