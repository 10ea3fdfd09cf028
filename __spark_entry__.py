"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: decode→H3-index→aggregate over the
                     deterministic synthetic image table (BASELINE.json
                     input_hint shape), smoke-scale.
``queries()``      — one entry per implemented operator (SURVEY.md §2);
                     each callable takes (spark, sf_dir).
``oracle_sql()``   — DuckDB twins for everything relationally
                     expressible; geospatial/UDF-kernel queries fall back
                     to the rows-only check and are covered by
                     ``python -m pytest -x -q`` invariants instead.

Column aliases match between Spark and SQL exactly (driver hashes values
under sorted column names).  Float aggregates are rounded on BOTH sides
to keep partial-sum-order jitter out of the value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic image tiles → decode (Arrow UDF) → pixel centres
    → H3 cells (res 9) → per-cell band means; one shuffle total.

    Uses the deterministic generator (seed 42) for the image payloads —
    the driver's sf0.001 tables carry no binary image column — and reads
    the sf0.001 parquet to keep the smoke check anchored on driver data."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import (
        index_point_agg,
        to_reference_output,
    )

    imgs = images_spark_df(spark, 64, seed=42)
    agg = index_point_agg(imgs, res=9, agg="mean")
    return to_reference_output(agg, "hex7", 9, 3)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _r4(c):
    return F.round(c, 4)


_FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")

# Deterministic linear-ramp tiles: value(row, col) = row*w + col, fixed
# north-up affines — every pixel coordinate AND value is reproducible by
# pure arithmetic, so the DuckDB oracle can recompute the full
# decode→affine→encode→aggregate pipeline end to end.
_RAMP_SPECS = (
    # (image_id, w, h, a, c, e, f)   [x = a*(col+.5)+c, y = e*(row+.5)+f]
    ("ramp_00", 64, 48, 0.013, 10.0037, -0.013, 50.0041),
    ("ramp_01", 40, 56, 0.017, -71.0513, -0.017, -12.0029),
)


def _ramp_images(spark):
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.codecs import encode_image, average_hash64
    from raster2dggs_spark.sources.images import IMAGE_SCHEMA

    rows = []
    for iid, w, h, a, c, e, f in _RAMP_SPECS:
        arr = np.arange(h * w, dtype=np.float32).reshape(1, h, w)
        rows.append({
            "image_id": iid, "bytes": encode_image(arr, "raw"),
            "w": w, "h": h, "fmt": "raw", "caption": f"ramp {iid}",
            "phash": int(average_hash64(arr[0])),
            "affine_a": a, "affine_b": 0.0, "affine_c": c,
            "affine_d": 0.0, "affine_e": e, "affine_f": f,
            "crs": "EPSG:4326", "nodata": None, "bands": 1,
            "band_names": None,
        })
    return spark.createDataFrame(pd.DataFrame(rows), IMAGE_SCHEMA)


# --------------------------------------------------------------------------
# relational operator family (oracle-checked)
# --------------------------------------------------------------------------

def q_assoc_rules(spark, sf_dir):
    """Pairwise association rules (aggregates.py association_rules —
    the market-basket staple): orders as baskets, part-class (%50) as
    items, support/confidence/lift over the within-basket pair join.
    All quantities are integer counts over exact division — parity is
    exact; oracle is the direct relational replay."""
    from raster2dggs_spark.operators.aggregates import association_rules

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 50).cast("long").alias("item"))
    out = association_rules(li, "basket", "item", min_support=0.005)
    return out.select(
        F.col("antecedent").cast("long").alias("antecedent"),
        F.col("consequent").cast("long").alias("consequent"),
        "n_joint", "support", "confidence", "lift")


def q_skyline(spark, sf_dir):
    """Pareto frontier (aggregates.py skyline — the SKYLINE operator,
    Borzsonyi 2001): per-brand parts minimizing (retailprice, size),
    two-phase distributed plan (partition-local frontier prune, one
    candidate shuffle, per-group finalize).  Oracle is the canonical
    NOT EXISTS dominance query; ties survive on both sides."""
    from raster2dggs_spark.operators.aggregates import skyline

    p = _t(spark, sf_dir, "part")
    out = skyline(p, ["p_retailprice", "p_size"],
                  group_cols=["p_brand"], keep_cols=["p_partkey"])
    return out.select(
        "p_brand", F.col("p_partkey").cast("long").alias("p_partkey"),
        _r4("p_retailprice").alias("p_retailprice"),
        F.col("p_size").cast("long").alias("p_size"))


def q_agg_mean_sum_count(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_multi

    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("count_order"),
        _r4(F.sum("l_quantity")).alias("sum_qty"),
        _r4(F.avg("l_extendedprice")).alias("avg_price"),
    )
    return g


def q_agg_minmax_range(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_multi

    li = _t(spark, sf_dir, "lineitem")
    out = agg_multi(li, ["l_linestatus"], ["l_extendedprice"], ["min", "max", "range"])
    return out.select(
        "l_linestatus",
        _r4("l_extendedprice_min").alias("price_min"),
        _r4("l_extendedprice_max").alias("price_max"),
        _r4("l_extendedprice_range").alias("price_range"),
    )


def q_agg_stats(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_multi

    li = _t(spark, sf_dir, "lineitem")
    out = agg_multi(li, ["l_returnflag"], ["l_quantity"], ["std", "var", "median"])
    return out.select(
        "l_returnflag",
        _r4("l_quantity_std").alias("qty_std"),
        _r4("l_quantity_var").alias("qty_var"),
        _r4("l_quantity_median").alias("qty_median"),
    )


def q_agg_percentiles(spark, sf_dir):
    """Exact linearly-interpolated percentiles per key (A2 extension:
    percentile_cont / numpy type-7 — Spark F.percentile and DuckDB
    quantile_cont share the definition).  Integer quantities make the
    interpolated values small rationals — no rounding-boundary risk."""
    from raster2dggs_spark.operators.aggregates import agg_multi

    li = _t(spark, sf_dir, "lineitem")
    out = agg_multi(li, ["l_returnflag"], ["l_quantity"],
                    ["p25", "p75", "p90", "count"])
    return out.select(
        "l_returnflag",
        _r4("l_quantity_p25").alias("qty_p25"),
        _r4("l_quantity_p75").alias("qty_p75"),
        _r4("l_quantity_p90").alias("qty_p90"),
        F.col("l_quantity_count").cast("long").alias("n"),
    )


def q_agg_mode(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_mode

    li = _t(spark, sf_dir, "lineitem")
    out = agg_mode(li, ["l_returnflag"], "l_quantity", out="qty_mode")
    return out.select("l_returnflag", F.col("qty_mode").cast("double"))


def q_agg_majority(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_majority

    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("long")
    )
    return agg_majority(ev, ["user_bucket"], "event_type", out="majority_type")


def q_agg_multi(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_multi

    li = _t(spark, sf_dir, "lineitem")
    out = agg_multi(
        li, ["l_returnflag"], ["l_quantity", "l_discount"], ["min", "max", "mean"]
    )
    return out.select(
        "l_returnflag",
        _r4("l_quantity_min").alias("qty_min"),
        _r4("l_quantity_max").alias("qty_max"),
        _r4("l_quantity_mean").alias("qty_mean"),
        _r4("l_discount_min").alias("disc_min"),
        _r4("l_discount_max").alias("disc_max"),
        _r4("l_discount_mean").alias("disc_mean"),
    )


def q_agg_list(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import agg_list

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ln", F.col("l_linenumber").cast("long")
    )
    out = agg_list(li, ["l_orderkey"], "ln", out="linenumbers")
    # the driver canonicalizes by sorting every output column — arrays are
    # unhashable in pandas, so emit the sorted list as a joined string
    return out.select(
        "l_orderkey",
        F.array_join(
            F.transform("linenumbers", lambda x: x.cast("string")), ","
        ).alias("linenumbers"),
    )


def q_hist_categorical(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import hist_categorical

    li = _t(spark, sf_dir, "lineitem")
    out = hist_categorical(li, ["l_returnflag"], "l_quantity", decimals=0)
    return out.select(
        "l_returnflag", F.col("value").cast("double"), _r4("weight").alias("weight")
    )


def q_hist_binned(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import hist_binned

    li = _t(spark, sf_dir, "lineitem")
    out = hist_binned(li, ["l_returnflag"], "l_extendedprice", origin=0.0, width=5000.0)
    return out.select(
        "l_returnflag", _r4("left").alias("left"), _r4("right").alias("right"),
        _r4("weight").alias("weight"),
    )


def q_hist_binned_edges(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import hist_binned_edges

    li = _t(spark, sf_dir, "lineitem")
    out = hist_binned_edges(
        li, ["l_linestatus"], "l_extendedprice", [1000.0, 10000.0, 20000.0, 40000.0]
    )
    return out.select(
        "l_linestatus", _r4("left").alias("left"), _r4("right").alias("right"),
        _r4("weight").alias("weight"),
    )


def q_hist_normalized(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import hist_categorical, hist_normalize

    ev = _t(spark, sf_dir, "events")
    h = hist_categorical(ev, ["event_type"], "value", decimals=-1)
    out = hist_normalize(h, ["event_type"])
    return out.select(
        "event_type", F.col("value").cast("double"),
        _r4("weight").alias("weight"), F.round("weight_frac", 6).alias("weight_frac"),
    )


def q_weighted_mean(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import weighted_mean

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_mean(li, ["l_returnflag"], "l_extendedprice", "l_quantity",
                        out="wmean_price")
    return out.select("l_returnflag", _r4("wmean_price").alias("wmean_price"))


def q_mass_preserve_sum(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import weighted_sum

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_sum(li, ["l_returnflag"], "l_extendedprice", "l_discount",
                       out="mass_sum")
    return out.select("l_returnflag", _r4("mass_sum").alias("mass_sum"))


def q_majority_by_weight(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import majority_by_weight

    o = _t(spark, sf_dir, "orders")
    return majority_by_weight(o, ["o_orderstatus"], "o_orderpriority",
                              "o_totalprice", out="top_priority")


def q_class_fractions(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import class_fractions

    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 5).cast("long")
    )
    out = class_fractions(ev, ["user_bucket"], "event_type")
    return out.select(
        "user_bucket", "class", F.round("fraction", 6).alias("fraction")
    )


def q_layer_corr(spark, sf_dir):
    """Cross-layer correlation (aggregates.py layer_correlation —
    r.covar / Band Collection Statistics): two md5 value layers with
    correlated construction over the 16x16 lattice (one is the other
    plus independent noise), holes disjointly placed so the inner join
    drops cells each side; one join + one aggregate.  4-6dp rounding
    absorbs the engines' different streaming-moment algorithms."""
    from raster2dggs_spark.operators.aggregates import layer_correlation

    n = 16
    base = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), F.expr(f"id DIV {n}").alias("y"))

    def h(salt):
        hh = F.md5(F.concat_ws(":", F.lit(salt),
                               F.col("x").cast("string"),
                               F.col("y").cast("string")))
        return F.conv(F.substring(hh, 1, 8), 16, 10).cast("long")

    cell = (F.col("y") * n + F.col("x")).cast("long")
    va = (h("la") % 100).cast("double")
    vb = (va * 2.0 + (h("lb") % 40).cast("double"))
    a = (base.where(h("ha") % 11 != 0)
         .select(cell.alias("cell"), va.alias("va")))
    b = (base.where(h("hb") % 13 != 0)
         .select(cell.alias("cell"), vb.alias("vb")))
    return layer_correlation(a, b)


def q_gini(spark, sf_dir):
    """Spatial concentration (aggregates.py gini_index — the Lorenz/
    Gini measure per region): customer-count-per-quadkey-cell
    inequality within each res-3 parent region.  One window over the
    group key + one aggregate; the rank-coefficient sum is
    permutation-invariant under ties, so no tie-break is needed and
    parity is exact."""
    from raster2dggs_spark.operators.joins import index_points
    from raster2dggs_spark.operators.aggregates import gini_index

    cells = (index_points(_customer_points(spark, sf_dir), res=6,
                          dggs="quadkey")
             .groupBy("cell").agg(F.count(F.lit(1)).alias("pop")))
    from raster2dggs_spark.operators.joins import parent_expr

    z = cells.select(
        parent_expr("cell", 3, "quadkey", from_res=6).alias("region"),
        F.col("pop").cast("double").alias("pop"))
    out = gini_index(z, "region", "pop")
    import pandas as pd

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(qk_str("region").alias("qk_3"), "n", "total",
                      "gini")


def q_crosstab(spark, sf_dir):
    """Categorical cross-tabulation (GRASS r.coin / ArcGIS Combine):
    two md5-classified layers on the 4x16x16 lattice — layer a with
    nulls (excluded) and integer-valued area weights, layer b with
    holes (inner join drops them) — tallied per (class_a, class_b)
    with joint area and share.  Oracle replays the same md5 arithmetic
    over generate_series."""
    from raster2dggs_spark.operators.aggregates import crosstab_cells

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"),
        F.col("id").alias("pid"))

    def _h(salt):
        return F.md5(F.concat_ws(
            ":", F.lit(salt), F.col("img").cast("string"),
            F.col("x").cast("string"), F.col("y").cast("string")))

    def _hex(h, off):
        return F.conv(F.substring(h, off, 8), 16, 10).cast("long")

    ha, hb = _h("xa"), _h("xb")
    la = base.select(
        F.col("pid").alias("cell"),
        F.when(_hex(ha, 9) % 19 != 0, _hex(ha, 1) % 5).alias("class_a"),
        (1 + _hex(ha, 9) % 1000).cast("double").alias("area"))
    lb = (base.where(_hex(hb, 9) % 23 != 0)
          .select(F.col("pid").alias("cell"),
                  (_hex(hb, 1) % 4).alias("class_b")))
    return crosstab_cells(la, lb, "cell", weight="area")


def q_simplify_lines(spark, sf_dir):
    """Ramer-Douglas-Peucker polyline simplification on an 80-line
    integer fixture (zigzag + gentle-ramp + closed-ring families,
    eps=3): every keep/drop decision is exact int64 arithmetic
    (cross^2 vs eps^2*len2), so the DuckDB twin replays the identical
    split tree as 16 unrolled CTE levels (max_by argmax, smallest-seq
    ties) and must agree bit-for-bit."""
    from raster2dggs_spark.operators.vector import simplify_lines

    base = spark.range(80).selectExpr("id AS l").crossJoin(
        spark.range(17).selectExpr("id AS i"))
    pts = (base
           .selectExpr("l", "i",
                       "CASE WHEN l % 10 = 0 AND i = 16 THEN 0 ELSE i END"
                       " AS j")
           .selectExpr(
               "l AS line_id", "i AS seq",
               "j * 8 + (l * 7 + j * 3) % 5 AS x",
               "CASE WHEN l % 3 = 1 THEN (j * (l % 7)) DIV 4 - 9 "
               "ELSE (j * j * 11 + l * 13) % 37 - 18 END AS y"))
    return simplify_lines(pts, 3.0)


def q_vct(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import valid_coverage_threshold

    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_suppkey").agg(
        _r4(F.avg("l_extendedprice")).alias("mean_price"),
        (F.count("l_quantity") / 60.0).alias("valid_frac"),
    )
    out = valid_coverage_threshold(g, ["mean_price"], "valid_frac", 0.5)
    return out.select(
        "l_suppkey", "mean_price", F.round("valid_frac", 6).alias("valid_frac")
    )


def q_decimals(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import round_decimals

    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(F.avg("l_extendedprice").alias("price_r"))
    return round_decimals(g, ["price_r"], -1)


def q_dedupe_first(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import dedupe_first

    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data —
    # the ordering must be total for a deterministic "first"
    out = dedupe_first(li, ["l_orderkey"], ["l_linenumber", "l_extendedprice"])
    return out.select("l_orderkey", "l_linenumber", _r4("l_extendedprice").alias("price"))


def q_topk_window(spark, sf_dir):
    from raster2dggs_spark.operators.aggregates import top_k

    o = _t(spark, sf_dir, "orders")
    out = top_k(o, ["o_orderpriority"], "o_totalprice", 3, ascending=False,
                tiebreak=["o_orderkey"])
    return out.select(
        "o_orderpriority", "o_orderkey", _r4("o_totalprice").alias("total"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# spatial joins (J5-J7) — oracle-checked via SQL-expressible geometry
# --------------------------------------------------------------------------
# Deterministic point/zone derivations shared between Spark and DuckDB:
# customers → points, nations → rectangular zones (integer arithmetic only,
# so both engines compute identical coordinates).

def _customer_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 37) % 344) - 172 + 0.3).cast("double").alias("lon"),
        (((F.col("c_custkey") * 53) % 160) - 80 + 0.3).cast("double").alias("lat"),
    )


_CUSTOMER_POINTS_SQL = """
    SELECT c_custkey AS point_id,
           CAST(((c_custkey * 37) % 344) - 172 + 0.3 AS DOUBLE) AS lon,
           CAST(((c_custkey * 53) % 160) - 80 + 0.3 AS DOUBLE) AS lat
    FROM customer
"""


def _supplier_points(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("t_id"),
        (((F.col("s_suppkey") * 41) % 340) - 170 + 0.7).cast("double").alias("lon"),
        (((F.col("s_suppkey") * 23) % 150) - 75 + 0.7).cast("double").alias("lat"),
    )


_SUPPLIER_POINTS_SQL = """
    SELECT s_suppkey AS t_id,
           CAST(((s_suppkey * 41) % 340) - 170 + 0.7 AS DOUBLE) AS lon,
           CAST(((s_suppkey * 23) % 150) - 75 + 0.7 AS DOUBLE) AS lat
    FROM supplier
"""


def _nation_rects(spark, sf_dir):
    """Rect zones as 4-vertex polygons — the Spark side runs the *real*
    PIP machinery (cover cells + ray-cast refinement); the oracle reduces
    to BETWEEN because the polygons are rectangles."""
    n = _t(spark, sf_dir, "nation")
    lon0 = ((F.col("n_nationkey") * 29) % 330) - 165.0
    lat0 = ((F.col("n_nationkey") * 17) % 130) - 65.0
    return n.select(
        F.col("n_nationkey").cast("long").alias("poly_id"),
        F.array(lon0, lon0 + 12.0, lon0 + 12.0, lon0).cast("array<double>").alias("xs"),
        F.array(lat0, lat0, lat0 + 9.0, lat0 + 9.0).cast("array<double>").alias("ys"),
    )


_NATION_RECTS_SQL = """
    SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
           CAST(((n_nationkey * 29) % 330) - 165.0 AS DOUBLE) AS lon0,
           CAST(((n_nationkey * 17) % 130) - 65.0 AS DOUBLE) AS lat0
    FROM nation
"""


def q_pip_join(spark, sf_dir):
    from raster2dggs_spark.operators.joins import point_in_polygon_join

    pts = _customer_points(spark, sf_dir)
    zones = _nation_rects(spark, sf_dir)
    out = point_in_polygon_join(pts, zones, res=4)
    return out.select("point_id", "poly_id")


def q_knn_join(spark, sf_dir):
    from raster2dggs_spark.operators.joins import knn_join

    q = _customer_points(spark, sf_dir).withColumnRenamed("point_id", "q_id")
    t = _supplier_points(spark, sf_dir)
    out = knn_join(q, t, k=3, radius_m=1_500_000.0, res=9)
    return out.select("q_id", "t_id", F.col("rank").cast("long").alias("rank"))


def q_zonal_join(spark, sf_dir):
    """Exact zonal statistics: PIP join (cover cells + ray-cast
    refinement) then per-zone aggregation — J7 with point-exact
    membership so the BETWEEN oracle applies.  The cell-granularity
    fast path (zonal_join over the index) is pytest-verified."""
    from raster2dggs_spark.operators.joins import point_in_polygon_join

    pts = _customer_points(spark, sf_dir)
    zones = _nation_rects(spark, sf_dir)
    hits = point_in_polygon_join(pts, zones, res=4)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("point_id").cast("long").alias("sum_ids"),
    )


def q_pip_join_geohash(spark, sf_dir):
    """J5 on a second grid: the same PIP machinery (cover cells +
    ray-cast refinement) routed through geohash cells — the result is
    grid-independent (exact point membership), so the identical BETWEEN
    oracle applies.  Guards the grid-generic claim for the flat grids'
    children/parent arithmetic in the hierarchical descent."""
    from raster2dggs_spark.operators.joins import point_in_polygon_join

    pts = _customer_points(spark, sf_dir)
    zones = _nation_rects(spark, sf_dir)
    out = point_in_polygon_join(pts, zones, res=3, dggs="geohash")
    return out.select("point_id", "poly_id")


def q_knn_join_geohash(spark, sf_dir):
    """J6 on a second grid: ring-cover candidate generation and bitwise
    parents on geohash cells; exact haversine top-k is grid-independent,
    so the hex7 query's oracle applies verbatim."""
    from raster2dggs_spark.operators.joins import knn_join

    q = _customer_points(spark, sf_dir).withColumnRenamed("point_id", "q_id")
    t = _supplier_points(spark, sf_dir)
    out = knn_join(q, t, k=3, radius_m=1_500_000.0, res=8, dggs="geohash")
    return out.select("q_id", "t_id", F.col("rank").cast("long").alias("rank"))


def q_pip_join_a5(spark, sf_dir):
    """J5 on the round-5 pentagonal grid: cover cells + ray-cast
    refinement routed through a5 triangles; exact point membership is
    grid-independent, so the hex7 BETWEEN oracle applies verbatim —
    this guards the a5 children/cover arithmetic inside the
    hierarchical polygon descent end-to-end against DuckDB geometry."""
    from raster2dggs_spark.operators.joins import point_in_polygon_join

    pts = _customer_points(spark, sf_dir)
    zones = _nation_rects(spark, sf_dir)
    out = point_in_polygon_join(pts, zones, res=5, dggs="a5")
    return out.select("point_id", "poly_id")


def q_knn_join_i4r(spark, sf_dir):
    """J6 on the round-5 rhombus grid: disk covers and native per-axis
    bitwise parents on i4r cells; exact haversine top-k is
    grid-independent, so the hex7 oracle applies verbatim."""
    from raster2dggs_spark.operators.joins import knn_join

    q = _customer_points(spark, sf_dir).withColumnRenamed("point_id", "q_id")
    t = _supplier_points(spark, sf_dir)
    out = knn_join(q, t, k=3, radius_m=1_500_000.0, res=10, dggs="i4r")
    return out.select("q_id", "t_id", F.col("rank").cast("long").alias("rank"))


def q_within_distance(spark, sf_dir):
    """Geodesic distance-band join (the kNN family's range-join shape):
    disk-cover candidate cells at a radius-adaptive coarse res, native
    bitwise parent equi-join, exact haversine filter.  Oracle is the
    brute-force cross-join haversine filter."""
    from raster2dggs_spark.operators.joins import within_distance_join

    q = _customer_points(spark, sf_dir).withColumnRenamed("point_id", "q_id")
    t = _supplier_points(spark, sf_dir)
    out = within_distance_join(q, t, radius_m=1_200_000.0, res=9)
    return out.select("q_id", "t_id", _r4("dist_m").alias("dist_m"))


def _event_points(spark, sf_dir):
    """Events with deterministic synthetic positions (the event stream
    carries no geometry; both engines derive identical lon/lat by
    integer arithmetic)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", "user_id", "ts",
        (((F.col("event_id") * 7 + F.col("user_id") * 13) % 3400)
         .cast("double") / 10.0 - 170.0).alias("lon"),
        (((F.col("event_id") * 11 + F.col("user_id") * 3) % 1600)
         .cast("double") / 10.0 - 80.0).alias("lat"))


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix (mobility.py
    event_transitions — the clickstream page-path staple): per-user
    consecutive event-type pairs ordered by (ts, event_id) — a TOTAL
    order — counted and row-normalized.  Integer counts over exact
    division; the oracle replays the lead() window relationally."""
    from raster2dggs_spark.operators.mobility import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"),
                             tiebreak="event_id")


def q_od_matrix(spark, sf_dir):
    """Origin-destination matrix (round 7, operators/mobility.py
    od_matrix — the mobility-analytics staple): per-user event streams
    with synthetic deterministic positions, indexed at geohash
    precision 3; consecutive-point transitions between DIFFERENT
    cells, counted per (from, to) pair.  Ordering is the total
    (ts, event_id) key so lag() is engine-independent; cells decode to
    the encoder's own integer lattice indices for the oracle (the
    focal_mean_geohash quantization replay)."""
    from raster2dggs_spark.operators.focal import lattice_indices
    from raster2dggs_spark.operators.mobility import od_matrix

    pts = _event_points(spark, sf_dir)
    od = od_matrix(pts, "user_id", "ts", res=3, dggs="geohash",
                   tiebreak_col="event_id")
    a = (lattice_indices(od, "from_cell", "geohash")
         .withColumnRenamed("gx", "fgx").withColumnRenamed("gy", "fgy")
         .drop("gprec"))
    b = (lattice_indices(a, "to_cell", "geohash")
         .withColumnRenamed("gx", "tgx").withColumnRenamed("gy", "tgy")
         .drop("gprec"))
    return b.select("fgx", "fgy", "tgx", "tgy",
                    F.col("n_trips").cast("long").alias("n_trips"))


def q_cell_dwell(spark, sf_dir):
    """Dwell-time map (round 7, operators/mobility.py cell_dwell):
    per (user, cell), total seconds attributed to the cell — each
    point owns the interval to the user's next point (timestamp
    deltas via the exact microseconds/1e6 double both engines
    compute: Spark CAST(ts AS DOUBLE) == DuckDB epoch_us(ts)/1e6,
    bit-identical)."""
    from raster2dggs_spark.operators.focal import lattice_indices
    from raster2dggs_spark.operators.mobility import cell_dwell

    pts = _event_points(spark, sf_dir)
    dw = cell_dwell(pts, "user_id", "ts", res=3, dggs="geohash",
                    tiebreak_col="event_id")
    g = lattice_indices(dw, "cell", "geohash")
    return g.select(
        F.col("entity").cast("long").alias("entity"),
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        F.col("dwell_s"),
        F.col("n_points").cast("long").alias("n_points"))


def q_dbscan(spark, sf_dir):
    """DBSCAN density clustering (round 7, operators/clustering.py
    dbscan_points — Ester et al. 1996; ArcGIS Density-based
    Clustering / PostGIS ST_ClusterDBSCAN): eps-neighborhoods via the
    geodesic range join (self-pair counts, textbook |N| >= minPts),
    clusters = min-id connected components of the core-core graph
    (pointer jumping), border points adopt the MIN cluster among core
    neighbours (deterministic, schedule-independent — the total-order
    rule where sequential DBSCANs are order-dependent), noise NULL.
    Customer subset point_id % 3 = 1 (stride coprime to the
    generator's 8-scenario rotation); the oracle is the brute-force
    cross-join haversine + recursive-CTE closure."""
    from raster2dggs_spark.operators.clustering import dbscan_points

    pts = _customer_points(spark, sf_dir).where(
        F.col("point_id") % 3 == 1)
    out = dbscan_points(pts, eps_m=600_000.0, min_pts=4)
    return out.select(
        "point_id",
        F.col("is_core").cast("long").alias("is_core"),
        F.col("cluster").cast("long").alias("cluster"))


def q_hilbert_key(spark, sf_dir):
    """Hilbert clustering keys (round 7, functions/hilbert.py — the
    Delta ZORDER-class data-layout feature, Hilbert variant): the
    xy2d walk unrolled as one narrow select per bit level (naive
    expression nesting would blow up 4^order-fold — same reason the
    oracle twin is a generated CTE CHAIN).  Customer cells at geohash
    precision 3 (lattice 256x128, order 8); keys are bijective and
    rook-continuous (pytest) and hash-match the SQL chain exactly."""
    from raster2dggs_spark.functions.hilbert import with_hilbert_key
    from raster2dggs_spark.operators.focal import lattice_indices
    from raster2dggs_spark.operators.joins import index_points

    pts = _customer_points(spark, sf_dir)
    cells = (index_points(pts, res=3, dggs="geohash")
             .select("cell").distinct())
    g = lattice_indices(cells, "cell", "geohash")
    out = with_hilbert_key(g, "gx", "gy", 8)
    return out.select(F.col("gx").cast("long").alias("gx"),
                      F.col("gy").cast("long").alias("gy"),
                      F.col("hkey").cast("long").alias("hkey"))


def q_focal_mean_geohash(spark, sf_dir):
    """Focal (3x3 Chebyshev window) mean on the geohash lattice
    (round 7, operators/focal.py:focal_lattice) — raster map algebra's
    neighborhood statistic over a sparse cell index.  Customer points
    are encoded at precision 3, reduced to one value per cell, then
    each cell aggregates over the cells PRESENT in its window (lon
    wraps, lat clips).  FULLY RELATIONAL oracle: the integer lattice
    coordinates are the encoder's own quantization
    (floor((lon+180)/360 * 2^8), floor((lat+90)/180 * 2^7) — exact
    integer arithmetic in both engines), the window join replays with
    modular dx and the means re-aggregate in SQL."""
    from raster2dggs_spark.operators.focal import focal_lattice
    from raster2dggs_spark.operators.joins import index_points

    pts = _customer_points(spark, sf_dir).withColumn(
        "v", ((F.col("point_id") * 11) % 97).cast("double"))
    cells = (index_points(pts, res=3, dggs="geohash")
             .groupBy("cell").agg(F.avg("v").alias("v")))
    out = focal_lattice(cells, ["v"], k=1, keep_indices=True)
    return out.select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        _r4("v").alias("v"),
        _r4("focal_v").alias("focal_v"),
        F.col("n_window").cast("long").alias("n_window"),
    )


def q_focal_mean_quadkey(spark, sf_dir):
    """Focal (3x3 Chebyshev window) mean on the QUADKEY lattice (late
    round 7: focal_lattice generalized over the power-of-2 rectangle
    grids).  Same shape as focal_mean_geohash, but the y quantizer is
    Mercator — the oracle replays the slippy fy expression (the
    quadkey_pixel_index float tree) then the identical modular window
    join."""
    from raster2dggs_spark.operators.focal import focal_lattice
    from raster2dggs_spark.operators.joins import index_points

    pts = _customer_points(spark, sf_dir).withColumn(
        "v", ((F.col("point_id") * 11) % 97).cast("double"))
    cells = (index_points(pts, res=5, dggs="quadkey")
             .groupBy("cell").agg(F.avg("v").alias("v")))
    out = focal_lattice(cells, ["v"], k=1, keep_indices=True,
                        dggs="quadkey")
    return out.select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        _r4("v").alias("v"),
        _r4("focal_v").alias("focal_v"),
        F.col("n_window").cast("long").alias("n_window"),
    )


def q_morphology(spark, sf_dir):
    """Binary lattice morphology (GRASS r.grow class, focal.py
    morphology_cells): dilate / erode / open of the customer-point
    quadkey-res-5 cell set with the 3x3 Chebyshev element — scatter +
    one groupBy per stage (dilation's distinct and erosion's |SE|
    support count are the same aggregate), vectorized index->id encode,
    indices decoded back for the compare.  Oracle replays the Mercator
    quantizer + offset cross-join relationally (y clips, lon wraps)."""
    from raster2dggs_spark.operators.focal import morphology_cells

    cells = _quadkey5_density(spark, sf_dir).select("cell")
    parts = []
    for op in ("dilate", "erode", "open"):
        m = morphology_cells(cells, op=op, k=1, dggs="quadkey",
                             keep_indices=True)
        parts.append(m.select(
            F.lit(op).alias("op"),
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _quadkey5_density(spark, sf_dir):
    """Shared deterministic quadkey-res-5 cell layer (customer points,
    v = avg of an integer-derived value) — input of the focal and
    spatial-statistics gate queries."""
    from raster2dggs_spark.operators.joins import index_points

    pts = _customer_points(spark, sf_dir).withColumn(
        "v", ((F.col("point_id") * 11) % 97).cast("double"))
    return (index_points(pts, res=5, dggs="quadkey")
            .groupBy("cell").agg(F.avg("v").alias("v")))


def q_variogram(spark, sf_dir):
    """Empirical semivariogram (Matheron) of the supplier station field
    in 8 x 250 km distance bins — pair enumeration runs the real
    disk-cover within-distance plan; the oracle is the brute-force
    cross-join twin with identical binning and 0.5*diff^2 estimator."""
    from raster2dggs_spark.operators.joins import empirical_variogram

    pts = _supplier_points(spark, sf_dir).withColumn(
        "v", ((F.col("t_id") * 13) % 101).cast("double"))
    out = empirical_variogram(pts, "v", max_dist_m=2_000_000.0,
                              n_bins=8, res=9, dggs="hex7")
    return out.select("bin", _r4("bin_lo").alias("bin_lo"),
                      _r4("bin_hi").alias("bin_hi"),
                      F.round("gamma", 6).alias("gamma"), "n_pairs")


def q_emerging_hotspots(spark, sf_dir):
    """Space-time emerging hot spots (ESRI space-time-cube workflow)
    over the events stream: 5-day bins x quadkey res-4 cells of event
    counts, Gi* per bin against that bin's own layer stats, then a
    Mann-Kendall sign trend per cell over its Gi* series.  The oracle
    replays bins, per-bin Gi* window joins and the MK pair join."""
    from raster2dggs_spark.operators.focal import emerging_hotspots
    from raster2dggs_spark.operators.joins import index_points

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts",
        (((F.col("event_id") * 37) % 344) - 172 + 0.3)
        .cast("double").alias("lon"),
        (((F.col("event_id") * 53) % 160) - 80 + 0.3)
        .cast("double").alias("lat"),
    )
    pts = index_points(ev, res=4, dggs="quadkey")
    binned = pts.withColumn(
        "tbin",
        F.floor(F.datediff(F.col("ts").cast("date"),
                           F.lit("2024-01-01").cast("date")) / 5)
        .cast("long"))
    layer = binned.groupBy("cell", "tbin").agg(
        F.count(F.lit(1)).cast("double").alias("v"))
    out = emerging_hotspots(layer, "v", dggs="quadkey", k=1)
    return out.select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        "n_bins", "mk_s",
        (F.col("gi_last") + F.lit(0.0)).alias("gi_last"),
        "trend",
    )


def q_idw_grid(spark, sf_dir):
    """IDW gridding (Shepard p=2): supplier station values interpolated
    onto the quadkey-res-6 cells occupied by customers, contributors
    within 500 km of each cell center.  Runs the real disk-cover +
    parent-join + haversine plan; the oracle is the brute-force
    cross-join twin with the identical center math (inverse Mercator)
    and weight expression."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import idw_to_cells, index_points

    pts = _supplier_points(spark, sf_dir).withColumn(
        "v", ((F.col("t_id") * 13) % 101).cast("double"))
    cells = (index_points(_customer_points(spark, sf_dir), res=6,
                          dggs="quadkey")
             .select("cell").distinct())
    out = idw_to_cells(pts, cells, radius_m=500_000.0, res=9,
                       dggs="quadkey", value_col="v")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(qk_str("cell").alias("qk_6"),
                      F.round("idw", 6).alias("idw"), "n_contrib")


def q_buffer_cells(spark, sf_dir):
    """Distance buffer rasterized to the grid (joins.py buffer_cells —
    v.buffer + v.to.rast class): quadkey-res-11 cells whose centers
    fall within 120 km of any supplier station, with nearest distance
    and contributor count.  This is the first DIRECT oracle check of
    the disk-cover enumeration itself: the DuckDB twin enumerates a
    superset by integer tile ranges (Mercator fy bands, latitude-
    inflated lon half-width) and applies the identical center-in
    haversine filter — both supersets reduce to the same exact set."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import buffer_cells

    pts = _supplier_points(spark, sf_dir).withColumnRenamed(
        "t_id", "point_id")
    out = buffer_cells(pts, radius_m=120_000.0, res=11, dggs="quadkey")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    # floor to INTEGER metres for the hash: NumPy and DuckDB libm
    # differ in the last ulp of the haversine, and at 330k rows the
    # 1e-4 rounding boundary gets hit (measured: 2 rows at sf0.1);
    # integer-metre boundaries are 10^4 x sparser
    return out.select(qk_str("cell").alias("qk_11"),
                      F.floor("dist_m").cast("long").alias("dist_floor_m"),
                      "n_contrib")


def q_kde_grid(spark, sf_dir):
    """Kernel density heatmap (GRASS v.kernel / QGIS Heatmap,
    joins.py kde_to_cells): supplier stations (value-weighted, quartic
    kernel, 800 km bandwidth) rendered onto the customer-occupied
    quadkey-res-6 cells, density in events/km² — the real disk-cover +
    parent-join + haversine plan; oracle is the brute cross-join twin
    with the identical center math and kernel expression."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import index_points, kde_to_cells

    pts = _supplier_points(spark, sf_dir).withColumn(
        "v", ((F.col("t_id") * 13) % 101).cast("double"))
    cells = (index_points(_customer_points(spark, sf_dir), res=6,
                          dggs="quadkey")
             .select("cell").distinct())
    out = kde_to_cells(pts, cells, bandwidth_m=800_000.0, res=9,
                       dggs="quadkey", kernel="quartic", value_col="v")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(
        qk_str("cell").alias("qk_6"),
        F.round(F.col("density") * 1.0e6, 6).alias("density_km2"),
        "n_contrib")


def q_getis_gi_star(spark, sf_dir):
    """Getis-Ord Gi* hot-spot z-statistic (3x3 binary weights incl.
    self) on the quadkey density layer — the significance-scored
    sibling of the Moran LISA.  Oracle replays the focal sum join and
    the Gi* formula term-for-term."""
    from raster2dggs_spark.operators.focal import getis_ord_gi_star

    out = getis_ord_gi_star(_quadkey5_density(spark, sf_dir), "v",
                            dggs="quadkey", k=1)
    return out.select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        _r4("v").alias("v"),
        _r4("window_sum").alias("window_sum"),
        F.col("n_window").cast("long").alias("n_window"),
        F.round("gi_star", 6).alias("gi_star"),
    )


def q_pyramid_rollup(spark, sf_dir):
    """Multi-resolution pyramid (res 10 -> 6) of a quadkey point-density
    layer — every level aggregated from the previous level's partials
    via native bitwise parents (tree reduction).  Exact integer-valued
    doubles make every engine's sums bit-equal; the oracle aggregates
    each level directly from the base cells (associativity is the
    invariant under test) grouped by base-4 prefix."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import index_points
    from raster2dggs_spark.operators.regrid import pyramid_rollup

    pts = _customer_points(spark, sf_dir).withColumn(
        "v", ((F.col("point_id") * 11) % 97).cast("double"))
    cells = index_points(pts, res=10, dggs="quadkey").select("cell", "v")
    out = pyramid_rollup(cells, "v", from_res=10, to_res=6,
                         dggs="quadkey")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(
        "res", qk_str("cell").alias("qk"),
        _r4("v_sum").alias("v_sum"),
        "v_count",
        _r4("v_min").alias("v_min"),
        _r4("v_max").alias("v_max"),
        F.round("v_mean", 6).alias("v_mean"),
    )


def q_pansharpen(spark, sf_dir):
    """Brovey pan-sharpening through the lattice (regrid.py
    pansharpen_cells): a 16x16 quadkey-res-7 multispectral block fused
    with its 64x64 res-9 panchromatic children — ONE native bitwise
    parent equi-join + pure column math, no kernel, no UDF.  Bands are
    md5 integers (strictly positive), the unweighted intensity is an
    EXACT integer sum / k, and the oracle replays tile arithmetic,
    join and ratio with matching association."""
    import pandas as pd

    from raster2dggs_spark.operators.regrid import pansharpen_cells

    def h(salt, tx, ty):
        s = F.md5(F.concat_ws(":", F.lit(salt), tx.cast("string"),
                              ty.cast("string")))
        return F.conv(F.substring(s, 1, 8), 16, 10).cast("long")

    @F.pandas_udf("long")
    def enc(tx, ty, res):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(
            tx.values, ty.values, int(res.iloc[0])))

    msb = spark.range(256).select(
        (F.lit(100) + F.col("id") % 16).alias("tx"),
        (F.lit(200) + F.expr("id DIV 16")).alias("ty"))
    ms = msb.select(
        enc("tx", "ty", F.lit(7)).alias("cell"),
        (h("ms1", F.col("tx"), F.col("ty")) % 50 + 1)
        .cast("double").alias("b1"),
        (h("ms2", F.col("tx"), F.col("ty")) % 60 + 1)
        .cast("double").alias("b2"),
        (h("ms3", F.col("tx"), F.col("ty")) % 70 + 1)
        .cast("double").alias("b3"))
    panb = spark.range(4096).select(
        (F.lit(400) + F.col("id") % 64).alias("tx"),
        (F.lit(800) + F.expr("id DIV 64")).alias("ty"))
    pan = panb.select(
        enc("tx", "ty", F.lit(9)).alias("cell"),
        (h("pan", F.col("tx"), F.col("ty")) % 90 + 1)
        .cast("double").alias("pan"))
    out = pansharpen_cells(ms, pan, ms_res=7, pan_res=9)

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(
        qk_str("cell").alias("qk_9"), "pan",
        F.round("sharp_b1", 6).alias("sharp_b1"),
        F.round("sharp_b2", 6).alias("sharp_b2"),
        F.round("sharp_b3", 6).alias("sharp_b3"))


def q_morans_i_local(spark, sf_dir):
    """Local Moran's I (Anselin LISA) on the quadkey lattice: z-scores
    vs the layer mean, row-standardized queen-neighbor spatial lag,
    local_i = z*lag/m2 — hot/cold-spot detection over the cell index.
    The oracle replays the z-transform and the modular 3x3 window join
    (minus self) relationally."""
    from raster2dggs_spark.operators.focal import morans_i_local

    out = morans_i_local(_quadkey5_density(spark, sf_dir), "v",
                         dggs="quadkey")
    return out.select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        _r4("v").alias("v"),
        _r4("z").alias("z"),
        _r4("lag").alias("lag"),
        F.round("local_i", 6).alias("local_i"),
        F.col("n_neighbors").cast("long").alias("n_neighbors"),
    )


def q_morans_i_global(spark, sf_dir):
    """Global Moran's I with row-standardized queen weights over the
    same layer — one scalar row (I, n, S0); the oracle reduces the LISA
    twin with the identical I = sum(z*lag)/(S0*m2) formula."""
    from raster2dggs_spark.operators.focal import morans_i_global

    out = morans_i_global(_quadkey5_density(spark, sf_dir), "v",
                          dggs="quadkey")
    return out.select(F.round("moran_i", 6).alias("moran_i"),
                      "n_cells", "s0")


def q_geary_c(spark, sf_dir):
    """Global Geary's C (binary queen weights over present neighbors) on
    the quadkey density layer — the distance-based sibling of Moran's I
    computed WITHOUT pair materialization (per-cell algebraic expansion
    over the same one-exchange focal scatter/gather); the oracle
    recomputes the statistic from the LITERAL pair join
    sum((a.v - b.v)^2)."""
    from raster2dggs_spark.operators.focal import geary_c

    out = geary_c(_quadkey5_density(spark, sf_dir), "v", dggs="quadkey")
    return out.select(F.round("geary_c", 6).alias("geary_c"),
                      "n_cells", "w_sum")


def q_focal_metric_points(spark, sf_dir):
    """Metric focal mean (radius 750 km) over keyed points (round 7,
    operators/focal.py:focal_metric): the grid-blocked radius self-join
    — contributors replicate to every lat band x lon block their disk
    intersects (exact asin(sin a / cos q) lon reach, pole caps), one
    equi-join, exact rounded-haversine filter, one gather.  The oracle
    is the BRUTE-FORCE all-pairs haversine in SQL (op-for-op mirror of
    the Column expression), so the blocked plan's candidate set is
    proven complete — the latitude-distortion regression class, gated
    relationally."""
    from raster2dggs_spark.operators.focal import focal_metric

    pts = (_customer_points(spark, sf_dir)
           .withColumnRenamed("point_id", "key")
           .withColumn("v", ((F.col("key") * 11) % 97).cast("double")))
    out = focal_metric(pts, ["v"], radius_m=750_000.0)
    return out.select(
        F.col("key").cast("long").alias("key"),
        _r4("v").alias("v"),
        _r4("focal_v").alias("focal_v"),
        F.col("n_window").cast("long").alias("n_window"),
    )


def q_terrain_derivatives(spark, sf_dir):
    """Horn slope/aspect/hillshade on the decode path (round 7,
    operators/terrain.py) — gdaldem-parity raster map algebra indexed
    through the normal cell machinery.  Planar-ramp EPSG:3857 tiles
    whose geometry is pure integer arithmetic in the tile index, so the
    oracle recomputes the CLOSED-FORM derivatives (Horn is exact on a
    plane: slope = atan(s*sqrt(1+w^2)/px), aspect = atan2(-1, w),
    Lambertian hillshade) from range(16) alone — fully relational, no
    fixture.  Per-image means over (w-2)(h-2) interior pixels."""
    from raster2dggs_spark.operators.terrain import terrain_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_terrain_images_pdf,
    )

    imgs = spark.createDataFrame(generate_terrain_images_pdf(16), IMAGE_SCHEMA)
    px = terrain_cells(imgs, res=7, keep_image_id=True)
    return (px.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.avg("slope_deg").alias("s"),
        F.avg("aspect_deg").alias("a"),
        F.avg("hillshade").alias("h"))
        .select(
            "image_id",
            F.col("n_px").cast("long").alias("n_px"),
            _r4("s").alias("slope_deg"),
            _r4("a").alias("aspect_deg"),
            _r4("h").alias("hillshade"),
        ))


def q_d8_flow(spark, sf_dir):
    """D8 steepest-descent flow direction (round 7,
    operators/terrain.py:d8_flow) — drainage-direction map algebra on
    the decode path.  Tilted-plane EPSG:3857 tiles with per-tile
    integer gradients (gx, gy), so every interior pixel's D8 argmax has
    a closed form the oracle replays from range(16): 8 drops
    -s*(gy*dr + gx*dc)/dist (cardinal dist = px, diagonal
    sqrt(px^2+px^2) — the exact expression the kernel evaluates, so
    float equality in the argmax tie-break is bit-identical), first
    max in ESRI scan order E,SE,S,SW,W,NW,N,NE wins; tile 15 is flat
    and pins the code-0 path.  Per-image mode(d8) + mean max-drop."""
    from raster2dggs_spark.operators.terrain import d8_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_d8_images_pdf,
    )

    imgs = spark.createDataFrame(generate_d8_images_pdf(16), IMAGE_SCHEMA)
    px = d8_cells(imgs, res=7, keep_image_id=True)
    return (px.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.mode("d8").alias("d8"),
        F.avg("drop").alias("dr"))
        .select(
            "image_id",
            F.col("n_px").cast("long").alias("n_px"),
            F.col("d8").cast("long").alias("d8"),
            _r4("dr").alias("drop"),
        ))


def q_flow_accumulation(spark, sf_dir):
    """Tile-local D8 flow ACCUMULATION (round 7,
    operators/terrain.py:flow_accumulation) — the hydrology step after
    d8_flow: per-pixel upstream drainage counts by single-pass
    topological propagation in descending-z order.  V-valley fixture
    tiles (z = s*(2|c-cm| + h - r) + i, integer-exact) make flow
    CONVERGE into the trough; the oracle replays the generic 8-drop
    argmax closed-form (drop = s*(2|u| - 2|u+dc| + dr)/dist, bit-equal
    floats) and accumulates by recursive-CTE transitive closure —
    every (source, node-on-path) visit counted once.  Per-image
    integer aggregates: n_px, max/sum accumulation, stream-network
    pixel count (acc >= 10)."""
    from raster2dggs_spark.operators.terrain import accumulation_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_valley_images_pdf,
    )

    imgs = spark.createDataFrame(generate_valley_images_pdf(16),
                                 IMAGE_SCHEMA)
    px = accumulation_cells(imgs, res=7, keep_image_id=True)
    return (px.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("acc").alias("am"),
        F.sum("acc").alias("asum"),
        F.sum((F.col("acc") >= 10).cast("long")).alias("sp"))
        .select(
            "image_id",
            F.col("n").cast("long").alias("n_px"),
            F.col("am").cast("long").alias("acc_max"),
            F.col("asum").cast("long").alias("acc_sum"),
            F.col("sp").cast("long").alias("stream_px"),
        ))


def q_cost_distance(spark, sf_dir):
    """Cost distance / accumulated-cost surface (round 7,
    operators/costdist.py) — the canonical GLOBAL lattice operation
    (GRASS r.cost / ArcGIS CostDistance) the reference's per-cell
    aggregation stops short of: minimum chamfer-(10,14) path cost from
    any source cell, 8-connected, w(u,v) = (cost_u + cost_v) * (5|7).
    Block-synchronous Dijkstra — exact in-memory solve per 2^b x 2^b
    lattice block per superstep, changed rim cells scattered as the
    next round's boundary conditions, quiescent blocks never re-run —
    so supersteps scale with BLOCK-graph diameter, not cell count.
    Fixture: four 16x16 cost grids (md5-derived integer costs 1..9,
    ~1-in-53 cells + the (0,0) corner as sources) placed on disjoint
    level-7 quadkey tiles; integer chamfer sums are bit-exact across
    engines, and the oracle replays the exact fixpoint as a DuckDB
    recursive-CTE Bellman-Ford with a cost cap above the true maximum
    (positive weights => pruning partial sums >= 600 is lossless;
    settled max is 517)."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import cost_distance

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    fix = base.select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 9 + 1)
        .cast("double").alias("cost"),
        ((F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 53 == 0)
         | ((F.col("x") == 0) & (F.col("y") == 0))).alias("is_src"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = cost_distance(cells, cost_col="cost", source_col="is_src",
                        dggs="quadkey", block_bits=3)
    return out.select("img", "x", "y",
                      F.col("dist").cast("long").alias("dist"))


def q_cost_allocation(spark, sf_dir):
    """Cost allocation / weighted Voronoi (round 7,
    operators/costdist.py cost_distance(id_col=...)) — ArcGIS
    CostAllocation: every cell labelled with the SOURCE whose
    least-cost path wins, ties broken by minimum source id via the
    exact lexicographic (path cost, id) order (integer chamfer costs
    make equal-cost ties common, so the tie-break is load-bearing —
    CLAUDE.md total-order rule).  Same md5 fixture as cost_distance
    with deterministic zone ids; the oracle carries the id through the
    recursive CTE and takes MIN(id) over rows at the minimal cost."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import cost_distance

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    fix = base.select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 9 + 1)
        .cast("double").alias("cost"),
        ((F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 53 == 0)
         | ((F.col("x") == 0) & (F.col("y") == 0))).alias("is_src"),
        ((F.col("x") * 31 + F.col("y") * 17 + F.col("img")) % 100)
        .alias("zone"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = cost_distance(cells, cost_col="cost", source_col="is_src",
                        dggs="quadkey", block_bits=3, id_col="zone")
    return out.select("img", "x", "y",
                      F.col("dist").cast("long").alias("dist"),
                      F.col("alloc").cast("long").alias("alloc"))


def q_horizon_angles(spark, sf_dir):
    """Horizon tangents (round 7, operators/terrain.py horizon_cells —
    the GRASS r.horizon family): per pixel and compass ray, the max
    elevation tangent (z_obstacle - z_pixel) / ground_distance within
    the tile.  Egg-carton fixture; the oracle replays every ray as a
    per-row/column/diagonal self-join with the identical IEEE division
    ((c2-c)*px ground distance).  Aggregates are order-independent
    EXACT statistics per image and direction — min, max (same float
    multiset => same float), and the count of positive tangents —
    so no float-summation ambiguity enters the hash."""
    from raster2dggs_spark.operators.terrain import horizon_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(16),
                                 IMAGE_SCHEMA)
    dirs = ("e", "w", "n", "s", "se")
    px = horizon_cells(imgs, res=7, keep_image_id=True, directions=dirs)
    img = F.substring("image_id", 11, 8).cast("long").alias("img")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_px")]
    for d in dirs:
        # empty-ray pixels carry NaN — Spark sorts NaN ABOVE all reals
        # (and NaN > 0 is true), so NULL them out to match SQL NULL
        # aggregate semantics
        c = F.when(~F.isnan(f"tan_{d}"), F.col(f"tan_{d}"))
        aggs += [
            _r4(F.min(c)).alias(f"min_{d}"),
            _r4(F.max(c)).alias(f"max_{d}"),
            F.sum((c > 0).cast("long")).cast("long").alias(f"pos_{d}"),
        ]
    return (px.select(img, *[f"tan_{d}" for d in dirs])
            .groupBy("img").agg(*aggs))


def q_least_cost_path(spark, sf_dir):
    """Least-cost path backtrace (GRASS r.drain / ArcGIS CostPath,
    operators/costdist.py least_cost_path): same md5 cost fixture as
    cost_distance, target = the (15,15) corner of each image, traced
    back to the nearest source by exact predecessor equality
    (dist(p) + w(p,c) == dist(c), ties to min pid) with pointer
    doubling.  Oracle: the cost_distance reach CTE -> relational
    predecessor table -> recursive walk."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import least_cost_path

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    fix = base.select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 9 + 1)
        .cast("double").alias("cost"),
        ((F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 53 == 0)
         | ((F.col("x") == 0) & (F.col("y") == 0))).alias("is_src"),
        ((F.col("x") == 15) & (F.col("y") == 15)).alias("is_tgt"),
        (F.col("img") * 256 + F.col("y") * 16 + F.col("x")).alias("pid"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = least_cost_path(cells, cost_col="cost", source_col="is_src",
                          target_col="is_tgt", id_col="pid",
                          dggs="quadkey", block_bits=3)
    return out.selectExpr(
        "CAST(tgt AS BIGINT) AS tgt", "pid DIV 256 AS img",
        "pid % 16 AS x", "(pid % 256) DIV 16 AS y",
        "CAST(dist AS BIGINT) AS dist", "CAST(step AS BIGINT) AS step")


def q_cost_corridor(spark, sf_dir):
    """Least-cost corridor (round 7, operators/costdist.py
    cost_corridor) — ArcGIS Corridor: sum of the cost-distance
    surfaces from source set A and source set B; per cell, the exact
    cost of the cheapest A->B path constrained through that cell (the
    two legs use disjoint edges, so the sum is exact).  The corridor
    membership flag thresholds at the per-image least-cost A->B
    distance + 60 (6 cost units in chamfer scale).  Same md5 fixture;
    the oracle runs TWO capped recursive-CTE Bellman-Fords and joins
    them (caps validated: leg maxima 273/326 < 700)."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import cost_corridor

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    fix = base.select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 9 + 1)
        .cast("double").alias("cost"),
        (((F.col("x") == 0) & (F.col("y") == 0)) | (h2 % 29 == 0))
        .alias("is_a"),
        (((F.col("x") == 15) & (F.col("y") == 15)) | (h2 % 31 == 0))
        .alias("is_b"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = cost_corridor(cells, cost_col="cost", source_a_col="is_a",
                        source_b_col="is_b", dggs="quadkey", block_bits=3)
    # per-image best via groupBy + broadcast join back (not a window —
    # the repo's hot-key discipline, even though 4x256 would be fine)
    best = out.groupBy("img").agg(F.min("corridor").alias("img_best"))
    return (out.join(F.broadcast(best), "img")
            .select("img", "x", "y",
                    F.col("corridor").cast("long").alias("corridor"),
                    (F.col("corridor") <= F.col("img_best") + 60)
                    .cast("long").alias("in_corridor")))


def q_euclid_distance(spark, sf_dir):
    """Exact Euclidean distance transform (round 7,
    operators/proximity.py euclidean_distance — gdal_proximity /
    ArcGIS EuclideanDistance): squared planar lattice distance from
    every cell to its nearest SOURCE cell, exact separable FH lower
    envelope (column pass collapses sources to per-column summaries,
    row pass evaluates the 1D parabola envelope with exact Python-int
    integer breakpoints — no float in any decision).  Same md5 fixture
    family as cost_distance (~1-in-29 sources + the (0,0) corner), but
    distance is GEOMETRIC: the four image tiles sit on ONE global
    lattice 32 columns apart, so cross-image distances are real and
    the oracle minimizes over ALL sources globally.  collect strategy
    (sources broadcast; zero shuffles)."""
    import pandas as pd

    from raster2dggs_spark.operators.proximity import euclidean_distance

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    fix = base.select(
        "img", "x", "y",
        ((F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 29 == 0)
         | ((F.col("x") == 0) & (F.col("y") == 0))).alias("is_src"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = euclidean_distance(cells, source_col="is_src", dggs="quadkey",
                             strategy="collect")
    return out.select("img", "x", "y",
                      F.col("d2").cast("long").alias("d2"))


def q_euclid_allocation(spark, sf_dir):
    """Euclidean allocation (round 7, operators/proximity.py
    euclidean_distance(id_col=) — ArcGIS EuclideanAllocation / GRASS
    r.grow.distance value=): every cell labelled with the source whose
    exact squared distance wins, ties to the MINIMUM source id via the
    exact lex (d2, id) order folded into the integer envelope
    breakpoints (CLAUDE.md total-order rule; deterministic zone ids
    mod 100 make ties common).  Runs the distributed JOIN strategy —
    per-column summaries stay on executors, one cogroup-by-row shuffle
    — so the gate exercises the 100-TB path, not just the broadcast
    fast path; the oracle takes MIN(zone) over global all-pairs rows
    at the minimal distance."""
    import pandas as pd

    from raster2dggs_spark.operators.proximity import euclidean_distance

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    fix = base.select(
        "img", "x", "y",
        ((F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 29 == 0)
         | ((F.col("x") == 0) & (F.col("y") == 0))).alias("is_src"),
        ((F.col("x") * 31 + F.col("y") * 17 + F.col("img")) % 100)
        .alias("zone"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = euclidean_distance(cells, source_col="is_src", dggs="quadkey",
                             id_col="zone", strategy="join")
    return out.select("img", "x", "y",
                      F.col("d2").cast("long").alias("d2"),
                      F.col("alloc").cast("long").alias("alloc"))


def q_contour(spark, sf_dir):
    """Iso-contour extraction (gdal_contour / r.contour,
    operators/vector.py contour_segments): marching-squares segment
    soup of the md5 surface (z = hex1 % 97, ~1-in-13 holes) at three
    levels, per image — one applyInPandas over the image key, dense
    vectorized kernel inside.  The oracle replays the 2x2-corner
    self-join, the case index, the edge interpolation t = (L - za) /
    (zb - za) and the center-mean saddle rule term-by-term; the
    GEOMETRY conventions themselves are pinned independently by the
    tests/test_contour.py closed-form battery (ramp / pyramid ring /
    saddles / closure property)."""
    from raster2dggs_spark.operators.vector import contour_segments

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 13 == 0
    fix = base.where(~hole).select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 97)
        .cast("double").alias("z"))
    out = contour_segments(fix, levels=[24.5, 48.5, 72.5],
                           group_cols=["img"])
    return out.select(
        F.col("img").cast("long").alias("img"),
        F.col("level"),
        F.round("x0", 6).alias("x0"), F.round("y0", 6).alias("y0"),
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"))


def q_polygonize(spark, sf_dir):
    """Raster->vector polygonize (vector.py polygonize_boundaries —
    gdal_polygonize / r.to.vect): boundary rings of the md5 class
    lattice (4 classes, 1-in-13 holes) per image; unit boundary edges
    from one 4-neighbour left join, stitched into rings by the
    pointer-jump CC.  Oracle replays the neighbour join and the
    recursive min-label closure (the contour_stitch pattern); all
    coordinates and lengths are exact integers in doubles."""
    from raster2dggs_spark.operators.vector import polygonize_boundaries

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 13 == 0
    fix = base.where(~hole).select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 4)
        .alias("cls"))
    out = polygonize_boundaries(fix, label_col="cls",
                                group_cols=["img"])
    return out.select(
        F.col("img").cast("long").alias("img"),
        F.col("cls").cast("long").alias("cls"),
        F.round("anchor_x", 6).alias("anchor_x"),
        F.round("anchor_y", 6).alias("anchor_y"),
        "n_segs", "n_vertices",
        F.round("length", 4).alias("length"), "closed")


def q_zonal_diversity(spark, sf_dir):
    """Landscape diversity indices (aggregates.py zonal_diversity —
    r.diversity / r.li class): Shannon, Gini-Simpson, richness and
    evenness of the md5 class layer per quadkey-ish 4x4 zone; two
    chained groupBys, entropy via the single-pass c*ln(c) fold.
    Integer counts make everything exact except ln (1-ulp libm,
    absorbed at 6dp)."""
    from raster2dggs_spark.operators.aggregates import zonal_diversity

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 13 == 0
    fix = base.select(
        "img",
        (F.col("img") * 16 + F.expr("x DIV 4") * 4
         + F.expr("y DIV 4")).alias("zone"),
        F.when(~hole, (F.conv(F.substring(h, 1, 8), 16, 10)
                       .cast("long") % 6)).alias("cls"))
    out = zonal_diversity(fix, "zone", "cls")
    return out.select(F.col("zone").cast("long").alias("zone"),
                      "n_cells", "richness", "shannon_h", "simpson_d",
                      "evenness")


def q_glcm(spark, sf_dir):
    """Haralick GLCM texture (aggregates.py glcm_texture — GRASS
    r.texture / skimage graycoprops): six features per (image, offset)
    over the symmetric 8-level GLCM of the md5 surface; quantize is a
    column expression, pairing one shifted self-join, the matrix a
    two-level aggregate — NO UDF.  Sums folded per (gi, gj) are
    integer-valued doubles, so partial-agg order cannot drift; the
    oracle replays every expression with matching association."""
    from raster2dggs_spark.operators.aggregates import glcm_texture

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 13 == 0
    fix = base.where(~hole).select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 97)
        .cast("double").alias("z"))
    out = glcm_texture(fix, "z", levels=8, lo=0.0, hi=97.0,
                       offsets=[(1, 0), (0, 1)], group_cols=["img"])
    return out.select(
        F.col("img").cast("long").alias("img"),
        F.col("dx").cast("long").alias("dx"),
        F.col("dy").cast("long").alias("dy"),
        "n_pairs",
        F.round("contrast", 6).alias("contrast"),
        F.round("dissimilarity", 6).alias("dissimilarity"),
        F.round("homogeneity", 6).alias("homogeneity"),
        F.round("energy", 6).alias("energy"),
        F.round("entropy", 6).alias("entropy"),
        F.round("correlation", 6).alias("correlation"))


def q_contour_stitch(spark, sf_dir):
    """Contour polylines end-to-end (vector.py stitch_segments over
    contour_segments): the marching-squares soup assembled into
    polylines by the engine's own pointer-jumping connected components
    — per polyline its lex-min endpoint anchor, segment/vertex counts,
    Euclidean length and ring-closure flag.  The oracle closes the
    same endpoint graph with a recursive min-label CTE (every level
    MATERIALIZED per the DuckDB-inlining landmine)."""
    from raster2dggs_spark.operators.vector import (
        contour_segments, stitch_segments,
    )

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 13 == 0
    fix = base.where(~hole).select(
        "img", "x", "y",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 97)
        .cast("double").alias("z"))
    segs = contour_segments(fix, levels=[24.5, 48.5, 72.5],
                            group_cols=["img"])
    out = stitch_segments(segs, group_cols=["img", "level"])
    return out.select(
        F.col("img").cast("long").alias("img"), "level",
        F.round("anchor_x", 6).alias("anchor_x"),
        F.round("anchor_y", 6).alias("anchor_y"),
        "n_segs", "n_vertices",
        F.round("length", 4).alias("length"), "closed")


def q_region_group(spark, sf_dir):
    """Region grouping / raster clump (round 7, operators/costdist.py
    clump_cells — GRASS r.clump, ArcGIS RegionGroup): every cell
    labelled with the MINIMUM id of its rook-connected equal-class
    component, via the block-synchronous superstep machinery with
    zero-weight class-gated edges (min-label propagation; an entire
    block settles per superstep).  Same md5 fixture: class = hex1 % 4,
    ~1-in-17 cells are NULL-class holes that break connectivity; the
    oracle computes the same min-id per component by recursive-CTE
    transitive closure over the same-class rook edges."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import clump_cells

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 17 == 0
    fix = base.select(
        "img", "x", "y",
        F.when(~hole, F.conv(F.substring(h, 1, 8), 16, 10)
               .cast("long") % 4).alias("cls"),
        (F.col("img") * 256 + F.col("y") * 16 + F.col("x")).alias("pid"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = clump_cells(cells, "cls", "pid", dggs="quadkey", block_bits=3)
    return out.select("img", "x", "y",
                      F.col("clump").cast("long").alias("clump"))


def q_watershed_basins(spark, sf_dir):
    """D8 watershed labelling (round 7, operators/terrain.py
    basin_cells) — the hydrology step after flow accumulation: every
    interior pixel labelled with the TERMINAL its D8 path drains to
    (pit/flat or edge outlet), by pointer-jumping on the drainage
    forest.  Egg-carton fixture tiles (z = ((3r²+5c²+7rc+i) mod 31)·s,
    integer-exact, many pits per tile); the oracle recomputes z and
    the 8 generic drops (z_c - z_n)/dist in SQL (same IEEE arithmetic,
    same scan-order argmax tie-break) and follows the drainage paths
    by recursive CTE to the same terminals.  Output: one row per
    BASIN — image, terminal full-tile (r, c), pixel count, pit flag —
    so terminal positions AND basin sizes hash-match exactly."""
    from raster2dggs_spark.operators.terrain import basin_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(16),
                                 IMAGE_SCHEMA)
    px = basin_cells(imgs, res=7, keep_image_id=True)
    img = F.substring("image_id", 11, 8).cast("long")
    wi = F.lit(10) + (img * 5) % 7   # interior width = w - 2
    lab = px.select(
        img.alias("img"),
        (F.col("basin") / wi).cast("long").alias("tr0"),
        (F.col("basin") % wi).alias("tc0"),
        F.col("is_pit").cast("long").alias("is_pit"))
    return (lab.groupBy("img", "tr0", "tc0", "is_pit")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("img",
                    (F.col("tr0") + 1).alias("tr"),
                    (F.col("tc0") + 1).alias("tc"),
                    F.col("n").cast("long").alias("basin_px"),
                    "is_pit"))


def q_flow_length(spark, sf_dir):
    """D8 downstream flow length (round 7, operators/terrain.py
    flow_length_cells — ArcGIS FlowLength / GRASS r.stream.distance):
    per interior pixel, the INTEGER counts of east-west, north-south
    and diagonal steps along the drainage path to its terminal
    (pointer doubling with additive counters — bit-exact in any
    doubling order), plus the metric length as one final dot product
    with the pitches.  Egg-carton fixture; the oracle follows the same
    D8 paths by recursive CTE accumulating the same three counters."""
    from raster2dggs_spark.operators.terrain import flow_length_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(16),
                                 IMAGE_SCHEMA)
    px = flow_length_cells(imgs, res=7, keep_image_id=True,
                           keep_pixel=True)
    return px.select(
        F.substring("image_id", 11, 8).cast("long").alias("img"),
        "pr", "pc", "n_ew", "n_ns", "n_diag",
        _r4(F.col("flow_len_m")).alias("flow_len"))


def q_sieve(spark, sf_dir):
    """Sieve filter (round 7, operators/costdist.py sieve_cells — the
    gdal_sieve workflow, single-pass documented semantics): regions
    below 6 cells take the class of the adjacent LARGE region with the
    longest shared rook boundary, ties to the minimum region label;
    small regions with no large neighbour keep their class.  Same md5
    class fixture as region_group (pid = img*256+y*16+x so the oracle
    CTE labels identically); the oracle extends the transitive-closure
    labelling with relational size / boundary-count / max-then-min
    argmax steps."""
    import pandas as pd

    from raster2dggs_spark.operators.costdist import sieve_cells

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 17 == 0
    fix = base.select(
        "img", "x", "y",
        F.when(~hole, F.conv(F.substring(h, 1, 8), 16, 10)
               .cast("long") % 4).alias("cls"),
        (F.col("img") * 256 + F.col("y") * 16 + F.col("x")).alias("pid"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = sieve_cells(cells, "cls", "pid", min_size=6, dggs="quadkey",
                      block_bits=3)
    return out.select(
        "img", "x", "y",
        F.col("clump").cast("long").alias("clump"),
        F.col("clump_size").cast("long").alias("clump_size"),
        F.col("sieved").cast("long").alias("sieved"),
        F.col("reassigned").cast("long").alias("reassigned"))


def q_terrain_indices(spark, sf_dir):
    """gdaldem TPI / TRI / roughness (round 7, operators/terrain.py
    terrain_index_cells): centre-minus-neighbour-mean, Wilson mean
    absolute difference, and 3x3 max-min, per interior pixel on the
    egg-carton integer fixture.  All three are multiples of 1/8 of an
    integer, so sums are EXACT doubles in any order — the per-image
    (count, sum, min, max) aggregates hash-match the oracle's 8-way
    neighbour join bit-for-bit (rounded 4dp per repo rule)."""
    from raster2dggs_spark.operators.terrain import terrain_index_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(12),
                                 IMAGE_SCHEMA)
    px = terrain_index_cells(imgs, res=7, keep_image_id=True)
    img = F.substring("image_id", 11, 8).cast("long").alias("img")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_px")]
    for c in ("tpi", "tri", "roughness"):
        aggs += [_r4(F.sum(c)).alias(f"sum_{c}"),
                 _r4(F.min(c)).alias(f"min_{c}"),
                 _r4(F.max(c)).alias(f"max_{c}")]
    return px.select(img, "tpi", "tri", "roughness").groupBy("img") \
             .agg(*aggs)


def q_solar(spark, sf_dir):
    """Instantaneous clear-sky direct irradiance (round 7,
    operators/terrain.py solar_cells — the r.sun beam component at one
    sun position): Lambert incidence on the Horn slope/aspect, zeroed
    where the west horizon rises above a 40-degree sun.  Egg-carton
    fixture; the oracle recomputes Horn via the 8-way weighted
    neighbour join (integer weighted sums are exact, so /8 and /pitch
    associate identically), the sun-ray horizon via the same-row
    self-join, and the identical trig composition; per-image
    aggregates rounded 4dp."""
    from raster2dggs_spark.operators.terrain import solar_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(12),
                                 IMAGE_SCHEMA)
    px = solar_cells(imgs, sun_dir="w", altitude_deg=40.0, s0=1000.0,
                     res=7, keep_image_id=True)
    img = F.substring("image_id", 11, 8).cast("long").alias("img")
    return (px.select(img, "cos_inc", "shadowed", "direct")
            .groupBy("img")
            .agg(F.count(F.lit(1)).cast("long").alias("n_px"),
                 F.sum(F.col("shadowed").cast("long")).cast("long")
                 .alias("n_shadowed"),
                 _r4(F.sum("cos_inc")).alias("sum_cos_inc"),
                 _r4(F.min("cos_inc")).alias("min_cos_inc"),
                 _r4(F.max("cos_inc")).alias("max_cos_inc"),
                 _r4(F.sum("direct")).alias("sum_direct")))


def q_zonal_geometry(spark, sf_dir):
    """Zonal geometry (round 7, operators/focal.py zonal_geometry —
    ArcGIS ZonalGeometry): per zone, cell-count area, rook-edge
    perimeter (4 per cell minus same-zone rook neighbours; NULL holes
    expose edges), lattice bbox, centroid, and the isoperimetric
    quotient 16A/P^2.  Physical plan is scatter -> one equi-join ->
    one groupBy (no windows — hot-zone safe).  Same md5 class fixture
    as region_group, zones composed img*10+cls so the oracle's
    Manhattan-distance-1 self-join replays adjacency exactly."""
    import pandas as pd

    from raster2dggs_spark.operators.focal import zonal_geometry

    n = 16
    base = spark.range(4 * n * n).select(
        F.expr(f"id DIV {n * n}").alias("img"),
        F.expr(f"(id % {n * n}) % {n}").alias("x"),
        F.expr(f"(id % {n * n}) DIV {n}").alias("y"))
    h = F.md5(F.concat_ws(
        ":", F.col("img").cast("string"), F.col("x").cast("string"),
        F.col("y").cast("string")))
    hole = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 17 == 0
    fix = base.select(
        "img", "x", "y",
        F.when(~hole, F.col("img") * 10
               + F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 4)
        .alias("zone"))

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = fix.withColumn(
        "cell", qk_cell(F.lit(8) + F.col("img") * 32 + F.col("x"),
                        F.lit(40) + F.col("y")))
    out = zonal_geometry(cells, "zone", dggs="quadkey")
    return out.select(
        F.col("zone").cast("long").alias("zone"),
        F.col("area").cast("long").alias("area"),
        F.col("perimeter").cast("long").alias("perimeter"),
        F.col("min_gx").cast("long").alias("min_gx"),
        F.col("max_gx").cast("long").alias("max_gx"),
        F.col("min_gy").cast("long").alias("min_gy"),
        F.col("max_gy").cast("long").alias("max_gy"),
        _r4(F.col("centroid_gx")).alias("cx"),
        _r4(F.col("centroid_gy")).alias("cy"),
        _r4(F.col("iq")).alias("iq"))


def q_viewshed(spark, sf_dir):
    """Line-of-sight viewshed (round 7, operators/terrain.py
    viewshed_cells — GRASS r.viewshed / ArcGIS Viewshed, R3 form):
    per pixel, visible from the per-tile observer (2,3)+2m iff no
    bilinear sightline sample subtends an elevation tangent strictly
    above the target's (grazing ties are visible).  Along one ray the constant step length
    cancels, so the decision is the exact integer cross product
    (z_k - z_o)*D > (z_t - z_o)*k with bilinear z_k carrying
    denominator D^2 — no float in any comparison.  Egg-carton fixture
    (integer closed-form z); the oracle replays every (target, step)
    pair relationally: integer floor/mod sightline positions, 4-way
    z join for the bilinear numerator, and the same cross-multiplied
    blocking predicate."""
    from raster2dggs_spark.operators.terrain import viewshed_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_basin_images_pdf,
    )

    imgs = spark.createDataFrame(generate_basin_images_pdf(8),
                                 IMAGE_SCHEMA)
    px = viewshed_cells(imgs, observer=(2, 3), obs_height=2, res=7,
                        keep_image_id=True, keep_pixel=True)
    return px.select(
        F.substring("image_id", 11, 8).cast("long").alias("img"),
        "pr", "pc", F.col("visible").cast("long").alias("visible"))


def q_regrid_geohash_maidenhead(spark, sf_dir):
    """Cross-grid regrid (round 7, operators/regrid.py): convert a
    geohash-precision-3-indexed layer onto the maidenhead grid at
    precision 2 by first-order conservative centroid regridding (source
    cell centroid encoded into the destination grid, exact spherical
    rectangle areas as weights).  The reference would re-run the raster
    through a different indexer; this converts the cell table directly
    — one narrow mapInPandas + ONE exchange, ~cells not ~pixels.
    FULLY RELATIONAL oracle: geohash quantization, bbox-center
    centroids, closed-form band areas, and the maidenhead mixed-radix
    peel are all the same float arithmetic in DuckDB."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import index_points
    from raster2dggs_spark.operators.regrid import regrid_cells

    pts = _customer_points(spark, sf_dir).withColumn(
        "v", ((F.col("point_id") * 11) % 97).cast("double"))
    src = (index_points(pts, res=3, dggs="geohash")
           .groupBy("cell").agg(F.avg("v").alias("v")))
    out = regrid_cells(src, ["v"], "geohash", "maidenhead", dst_res=2)

    @F.pandas_udf("string")
    def mh_str(c):
        from raster2dggs_spark.dggs import maidenheadlib

        return pd.Series(maidenheadlib.cells_to_string(c.values))

    return out.select(
        mh_str("cell").alias("mh_02"),
        F.col("n_src").cast("long").alias("n_src"),
        _r4(F.col("w_sum") / F.lit(1e6)).alias("w_km2"),
        _r4("v").alias("v"),
    )


def q_composite_best_quality(spark, sf_dir):
    """Multi-scene best-quality composite (round 7) — the EO cloud-free
    mosaic workload the reference (single-raster CLI) has no analogue
    for.  A deterministic 6-footprint x 3-epoch scene stack is indexed
    per scene (hex7 res 6), pre-aggregated per (scene, cell) and reduced
    per cell by argmax over (rounded per-cell QA mean, timestamp, scene
    id) — all native (max_by over a struct comparator; one exchange per
    stage, no window functions).  The non-relational encode stage is
    pinned by the single-node replay fixture
    (.fixtures/composite_stack_6x3.parquet, integer-exact band means);
    the oracle replays the composite reduction itself RELATIONALLY on
    that fixture."""
    from raster2dggs_spark.operators.composite import composite_scenes
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    m = spark.createDataFrame(meta[["image_id", "scene_ts"]])
    out = composite_scenes(imgs, m, res=6, strategy="best_quality",
                           quality_band="band_4")
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.col("scene"),
        F.col("scene_ts").cast("long").alias("scene_ts"),
        _r4("quality").alias("qa"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 4)],
        F.col("n_scenes").cast("long").alias("n_scenes"),
    )


def q_composite_median(spark, sf_dir):
    """Per-cell exact median across the same 6x3 scene stack (robust
    temporal composite).  Exactly 3 scenes cover every cell (identical
    epoch geometry), so the median is the middle observation in both
    engines — no even-count interpolation ambiguity.  Same fixture
    trust shape as composite_best_quality."""
    from raster2dggs_spark.operators.composite import composite_scenes
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    m = spark.createDataFrame(meta[["image_id", "scene_ts"]])
    out = composite_scenes(imgs, m, res=6, strategy="median",
                           quality_band="band_4")
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 4)],
        F.col("n_scenes").cast("long").alias("n_scenes"),
    )


def q_change_detection(spark, sf_dir):
    """Per-cell temporal change detection over the 6x3 scene stack
    (round 7, operators/composite.py:change_cells) — the EO change-map
    workload.  Epoch 0 is "before", epochs 1-2 "after" (t_break
    1_700_086_400); ONE conditional-aggregate groupBy(cell), never a
    self-join of two composites.  band_1 drifts +13/epoch (gain),
    band_2 +1/epoch on a ~125 base (stable), band_3 is f*10+t so
    footprint 0 exercises the zero-before sign path and footprint 1 the
    rel-threshold gain edge.  Each cell has exactly 1 before + 2 after
    scenes (overlap-free stack), so the side means are order-exact; the
    oracle replays the split + classification RELATIONALLY on the
    pinned per-(scene, cell) fixture."""
    from raster2dggs_spark.operators.composite import (
        change_cells, scene_cell_means,
    )
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    m = spark.createDataFrame(meta[["image_id", "scene_ts"]])
    px = pixel_cells(imgs, res=6, dggs="hex7", n_bands=4,
                     keep_image_id=True)
    sc = scene_cell_means(px, [f"band_{i}" for i in range(1, 5)])
    sc = sc.join(F.broadcast(m), "image_id")
    out = change_cells(sc, ["band_1", "band_2", "band_3"],
                       t_break=1_700_086_400, rel_threshold=0.1)
    cols = [F.lower(F.hex("cell")).alias("hex7_06"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_after").cast("long").alias("n_after")]
    for c in ("band_1", "band_2", "band_3"):
        cols += [_r4(f"{c}_before").alias(f"{c}_before"),
                 _r4(f"{c}_after").alias(f"{c}_after"),
                 _r4(f"{c}_delta").alias(f"{c}_delta"),
                 F.col(f"{c}_class")]
    return out.select(*cols)


def q_line_cells_quadkey(spark, sf_dir):
    """Polyline -> cell EXACT supercover on the quadkey grid (round 7,
    operators/joins.py:line_cells) — the vector2dggs linestring
    workload.  200 synthetic zigzag polylines with exact-binary vertex
    coordinates; each segment is mapped into continuous tile-index
    space (lon linear, N-S through Mercator fy), every grid-line
    crossing t is enumerated analytically, and consecutive-crossing
    midpoints name the traversed cells — no sampling.  The oracle
    replays the identical construction relationally: generate_series
    for the crossings, lead() midpoints, floor/clip, base-4 digit
    render.  Only libm tan/ln may differ by 1 ulp (same accepted risk
    as quadkey_pixel_index); a flip needs a crossing within ~1e-12 of
    a tile corner."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import line_cells

    ln = spark.range(200).select(
        F.col("id").alias("line_id"),
        (F.lit(3) + F.col("id") % 4).cast("int").alias("m"),
        (F.lit(-170.0) + (F.col("id") * 7 % 340).cast("double")).alias("a"),
        (F.lit(-55.0) + (F.col("id") * 11 % 110).cast("double")).alias("b"),
    )
    ks = F.sequence(F.lit(0), F.col("m"))
    df = ln.select(
        "line_id",
        F.transform(ks, lambda k: F.col("a")
                    + F.lit(0.25) * k.cast("double")).alias("xs"),
        F.transform(ks, lambda k: F.col("b")
                    + F.lit(0.125) * (k % 2).cast("double")
                    + F.lit(0.0625) * k.cast("double")).alias("ys"),
    )
    out = line_cells(df, res=12, dggs="quadkey")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select("line_id", qk_str("cell").alias("qk_12"))


def q_line_intersect(spark, sf_dir):
    """Line-line crossing join through the lattice (vector.py
    line_intersections — v.overlay / ST_Intersection on linestrings):
    the 200 zigzag polylines crossed with 200 tilted diagonals;
    candidates from one supercover cell equi-join, then the planar
    2x2 closed form.  The oracle is the brute segment cross-join twin
    with identical expressions — the lattice blocking must find
    exactly the same crossing set."""
    from raster2dggs_spark.operators.vector import line_intersections

    ln = spark.range(200).select(
        F.col("id").alias("a_id"),
        (F.lit(3) + F.col("id") % 4).cast("int").alias("m"),
        (F.lit(-170.0) + (F.col("id") * 7 % 340).cast("double")).alias("a"),
        (F.lit(-55.0) + (F.col("id") * 11 % 110).cast("double")).alias("b"),
    )
    ks = F.sequence(F.lit(0), F.col("m"))
    la = ln.select(
        "a_id",
        F.transform(ks, lambda k: F.col("a")
                    + F.lit(0.25) * k.cast("double")).alias("xs"),
        F.transform(ks, lambda k: F.col("b")
                    + F.lit(0.125) * (k % 2).cast("double")
                    + F.lit(0.0625) * k.cast("double")).alias("ys"),
    )
    lb = spark.range(200).select(
        F.col("id").alias("b_id"),
        (F.lit(-170.0) + (F.col("id") * 7 % 340).cast("double")
         + 0.15).alias("p"),
        (F.lit(-55.0) + (F.col("id") * 11 % 110).cast("double")
         + 0.05).alias("q")).select(
        "b_id",
        F.array(F.col("p"), F.col("p") + 2.6).alias("xs"),
        F.array(F.col("q") - 1.0, F.col("q") + 2.4).alias("ys"))
    out = line_intersections(la, lb, res=12, dggs="quadkey")
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("a_seg").cast("long").alias("a_seg"),
        F.col("b_id").cast("long").alias("b_id"),
        F.col("b_seg").cast("long").alias("b_seg"),
        F.round("ix", 6).alias("ix"), F.round("iy", 6).alias("iy"))


def q_snap_points(spark, sf_dir):
    """Map matching (joins.py snap_to_segments): customers snap to
    their nearest zigzag-polyline segment within 500 km — GRASS
    v.distance / ST_ClosestPoint semantics, lattice-blocked (segment
    supercover cells x padded point disk covers, ONE cell equi-join,
    one groupBy-min; no all-pairs).  Metric is the pinned local
    equirectangular clamped-projection distance; the oracle is the
    brute cross-join twin with the identical expressions and the
    identical total tie-break (round(dist,4), line_id, seg_idx)."""
    from raster2dggs_spark.operators.joins import snap_to_segments

    ln = spark.range(200).select(
        F.col("id").alias("line_id"),
        (F.lit(3) + F.col("id") % 4).cast("int").alias("m"),
        (F.lit(-170.0) + (F.col("id") * 7 % 340).cast("double")).alias("a"),
        (F.lit(-55.0) + (F.col("id") * 11 % 110).cast("double")).alias("b"),
    )
    ks = F.sequence(F.lit(0), F.col("m"))
    lines = ln.select(
        "line_id",
        F.transform(ks, lambda k: F.col("a")
                    + F.lit(0.25) * k.cast("double")).alias("xs"),
        F.transform(ks, lambda k: F.col("b")
                    + F.lit(0.125) * (k % 2).cast("double")
                    + F.lit(0.0625) * k.cast("double")).alias("ys"),
    )
    out = snap_to_segments(_customer_points(spark, sf_dir), lines,
                           radius_m=500_000.0, dggs="quadkey")
    return out.select(
        F.col("point_id").cast("long").alias("point_id"),
        "dist_m",
        F.col("line_id").cast("long").alias("line_id"),
        F.col("seg_idx").cast("long").alias("seg_idx"),
        "t_frac", "snap_lon", "snap_lat")


def q_polyfill_quadkey(spark, sf_dir):
    """Polygon -> cells EXACT center-in fill on the quadkey grid
    (operators/joins.py:polygon_fill_cells) — the vector2dggs polygon
    workload (h3 polyfill semantics).  Concave L-shaped hexagon rings
    derived from supplier keys by integer arithmetic; the scanline
    enumerates each tile-row center's edge crossings analytically in
    continuous (lon, Mercator-fy) tile space and pairs them into spans.
    The oracle replays the identical construction relationally:
    half-open crossing join, row_number/lead pairing, ceil span
    expansion, base-4 digit render."""
    import pandas as pd

    from raster2dggs_spark.operators.joins import polygon_fill_cells

    s = _t(spark, sf_dir, "supplier")
    lon0 = (((F.col("s_suppkey") * 41) % 330) - 165).cast("double")
    lat0 = (((F.col("s_suppkey") * 23) % 130) - 65).cast("double")
    dx = [0.0, 12.0, 12.0, 5.0, 5.0, 0.0]
    dy = [0.0, 0.0, 4.0, 4.0, 9.0, 9.0]
    polys = s.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        F.array(*[lon0 + F.lit(d) for d in dx]).cast(
            "array<double>").alias("xs"),
        F.array(*[lat0 + F.lit(d) for d in dy]).cast(
            "array<double>").alias("ys"),
    )
    out = polygon_fill_cells(polys, res=8, dggs="quadkey")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select("poly_id", qk_str("cell").alias("qk_8"))


def q_polygon_overlay(spark, sf_dir):
    """Vector-vector overlay through the lattice (round 7,
    operators/joins.py polygon_overlay_area): layer A = the
    polyfill_quadkey L-hexagons, layer B = 10x6-degree rectangles
    offset from the same supplier seeds (guaranteed self-overlap plus
    cross-pair collisions); both layers exactly center-in rasterized
    at quadkey res 8, one cell equi-join, per-pair n_shared / frac_a /
    frac_b / jaccard.  The oracle replays BOTH fills relationally (the
    proven scanline construction for the hexes; the same (lon,
    Mercator-fy) half-open span arithmetic for the rectangles) and the
    same count/fraction algebra."""
    from raster2dggs_spark.operators.joins import polygon_overlay_area

    s = _t(spark, sf_dir, "supplier")
    lon0 = (((F.col("s_suppkey") * 41) % 330) - 165).cast("double")
    lat0 = (((F.col("s_suppkey") * 23) % 130) - 65).cast("double")
    dx = [0.0, 12.0, 12.0, 5.0, 5.0, 0.0]
    dy = [0.0, 0.0, 4.0, 4.0, 9.0, 9.0]
    polys_a = s.select(
        F.col("s_suppkey").cast("long").alias("a_id"),
        F.array(*[lon0 + F.lit(d) for d in dx]).cast(
            "array<double>").alias("xs"),
        F.array(*[lat0 + F.lit(d) for d in dy]).cast(
            "array<double>").alias("ys"))
    lon0b = lon0 + (F.col("s_suppkey") % 7).cast("double") - 3.0
    lat0b = lat0 + (F.col("s_suppkey") % 5).cast("double") - 2.0
    polys_b = s.select(
        F.col("s_suppkey").cast("long").alias("b_id"),
        F.array(lon0b, lon0b + 10.0, lon0b + 10.0, lon0b).cast(
            "array<double>").alias("xs"),
        F.array(lat0b, lat0b, lat0b + 6.0, lat0b + 6.0).cast(
            "array<double>").alias("ys"))
    return polygon_overlay_area(polys_a, polys_b, res=8, dggs="quadkey")


def _warp_bbox():
    import math

    R = 6378137.0
    x0, x1 = math.radians(10.1) * R, math.radians(10.7) * R

    def merc_y(lat):
        return R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))

    return x0, merc_y(49.45), x1, merc_y(49.95)


def q_warp(spark, sf_dir):
    """gdalwarp / WarpedVRT analogue (operators/sample.py warp_grid,
    ref common.py:803-813): the ramp_00 tile resampled bilinearly onto
    a 40x30 EPSG:3857 grid strictly interior to the tile — bilinear of
    a linear ramp reproduces the field, so the oracle inverts the same
    Web-Mercator + affine chain in closed form."""
    from raster2dggs_spark.operators.sample import warp_grid

    imgs = _ramp_images(spark).where("image_id = 'ramp_00'")
    out = warp_grid(imgs, _warp_bbox(), 40, 30, "EPSG:3857")
    return out.select("px", "py", _r4("band_1").alias("v"))


def q_rasterize(spark, sf_dir):
    """DGGS -> raster export (operators/regrid.py rasterize_cells, the
    r.out.gdal inverse of stage-1 indexing): an md5-valued quadkey
    level-7 layer over the 16x16 tile block (40..55, 40..55) is sampled
    onto a 32x32 EPSG:3857 grid whose pixel centres sit at tile quarter
    points (0.25 tiles from every edge — no floor-boundary float risk).
    The oracle reduces the Web-Mercator affine + encode chain to exact
    integer tile arithmetic: tile = 40 + p DIV 2."""
    from raster2dggs_spark.operators.regrid import rasterize_cells

    base = spark.range(256).select(
        (40 + F.col("id") % 16).alias("tx"),
        (40 + F.expr("id DIV 16")).alias("ty"))
    h = F.md5(F.concat_ws(":", F.col("tx").cast("string"),
                          F.col("ty").cast("string")))
    vals = base.select(
        "tx", "ty",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 100)
        .alias("v"))

    import pandas as pd

    @F.pandas_udf("long")
    def qk_cell(tx, ty):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.tile_to_cell(tx.values, ty.values, 7))

    cells = vals.withColumn("cell", qk_cell("tx", "ty"))
    L = 20037508.342789244
    ts = 2.0 * L / 128.0
    bbox = (40 * ts - L, L - 56 * ts, 56 * ts - L, L - 40 * ts)
    out = rasterize_cells(cells, ["v"], bbox, 32, 32, 7,
                          dggs="quadkey", crs="EPSG:3857")
    return out.select("px", "py", F.col("v").cast("long").alias("v"))


def q_harmonic_fit(spark, sf_dir):
    """Per-cell first-order harmonic (seasonal) regression (CCDC/HANTS
    shape, operators/composite.py harmonic_fit_cells): 200 cells x 24
    monthly epochs of integer-valued observations with a built-in
    semiannual square pulse; fits a0 + a1 cos(wt) + b1 sin(wt) via
    Cramer's rule on nine moment sums in one groupBy.  The oracle
    mirrors every sum and the exact Cramer parenthesization."""
    from raster2dggs_spark.operators.composite import harmonic_fit_cells

    base = spark.range(200 * 24).selectExpr(
        "id DIV 24 AS cell", "id % 24 AS ts",
        "CAST(((id DIV 24) * 7 + (id % 24) * 13) % 23"
        " + CASE WHEN (id % 24) % 12 < 6 THEN (id DIV 24) % 5"
        " ELSE 0 END AS DOUBLE) AS v")
    return harmonic_fit_cells(base, ["v"], t_col="ts", period=12.0)


def q_robust_trend(spark, sf_dir):
    """Theil-Sen + Mann-Kendall robust trend (composite.py
    robust_trend_cells): 200 cells x 8 epochs of md5 values plus a
    per-cell deterministic drift; within-key pair self-join, exact
    interpolated median (Spark percentile == DuckDB quantile_cont),
    tie-corrected MK variance.  All pair quantities are small
    rationals / integers, so parity is exact."""
    from raster2dggs_spark.operators.composite import robust_trend_cells

    base = spark.range(1600).select(
        (F.col("id") % 200).alias("cell"),
        F.expr("id DIV 200").alias("ep"))
    h = F.md5(F.concat_ws(":", F.col("cell").cast("string"),
                          F.col("ep").cast("string")))
    d = base.select(
        "cell", F.col("ep").cast("double").alias("ep"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 50
         + F.col("ep") * (F.col("cell") % 7)).cast("double").alias("v"))
    out = robust_trend_cells(d, "v", "ep", ("cell",))
    return out.select(
        F.col("cell").cast("long").alias("cell"), "n_obs", "n_pairs",
        F.round("sen_slope", 6).alias("sen_slope"), "mk_s",
        F.round("mk_z", 6).alias("mk_z"))


def q_trend(spark, sf_dir):
    """Per-cell OLS time-series trend over the 6x3 scene stack (round
    7, operators/composite.py:trend_cells) — the decades-of-scenes
    NDVI-trend regression, as ONE groupBy(cell) of SQL-standard regr_*
    aggregates (map-side partials; shuffle moves ~cells).  x = epoch
    index 0..2 (exact integers); band_1 drifts exactly +13/epoch and
    band_2 +1/epoch (slope pins), band_4's %101 QA ramp is non-linear
    in t so its r2 is a nontrivial fraction.  The oracle replays the
    identical regr_slope/intercept/r2 on the pinned per-(scene, cell)
    fixture (epoch parsed from the scene id both sides)."""
    from raster2dggs_spark.operators.composite import (
        scene_cell_means, trend_cells,
    )
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    m = spark.createDataFrame(meta[["image_id", "epoch"]])
    bands = [f"band_{i}" for i in range(1, 5)]
    px = pixel_cells(imgs, res=6, dggs="hex7", n_bands=4,
                     keep_image_id=True)
    sc = scene_cell_means(px, bands).join(F.broadcast(m), "image_id")
    out = trend_cells(sc, bands, x_col="epoch")
    cols = [F.lower(F.hex("cell")).alias("hex7_06"),
            F.col("n_obs").cast("long").alias("n_obs")]
    for c in bands:
        cols += [_r4(f"{c}_slope").alias(f"{c}_slope"),
                 _r4(f"{c}_intercept").alias(f"{c}_intercept"),
                 _r4(f"{c}_r2").alias(f"{c}_r2")]
    return out.select(*cols)


def q_rolling_smooth(spark, sf_dir):
    """Per-cell centered rolling mean over the epoch axis (late round
    7, operators/composite.py:rolling_cells) — RANGE-frame window
    |x'-x| <= 1, partitioned by cell (partition size = stack depth, so
    the banned hot-key Window hazard does not arise on the time axis).
    The oracle is the identical RANGE window in DuckDB."""
    from raster2dggs_spark.operators.composite import (
        rolling_cells, scene_cell_means,
    )
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, _meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    bands = [f"band_{i}" for i in range(1, 4)]
    px = pixel_cells(imgs, res=6, dggs="hex7", n_bands=4,
                     keep_image_id=True)
    sc = (scene_cell_means(px, bands)
          .withColumn("epoch",
                      F.col("image_id").substr(17, 1).cast("int")))
    out = rolling_cells(sc, bands, window=1.0)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.col("epoch").cast("long").alias("epoch"),
        *[_r4(f"{c}_smooth").alias(f"{c}_smooth") for c in bands],
        F.col("n_in_window").cast("long").alias("n_in_window"),
    )


def q_interpolate_gaps(spark, sf_dir):
    """Per-cell temporal gap-filling (late round 7,
    operators/composite.py:interpolate_gaps): even-footprint cells
    lose their epoch-1 observation, then every cell re-emits the full
    epoch grid {0,1,2} with linear interior interpolation and constant
    edges (np.interp semantics).  One groupBy(cell) applyInPandas —
    group size is the stack depth, no hot-key hazard.  The oracle
    replays the drop + prev/next-neighbor interpolation relationally
    on the pinned fixture (exact 0.5 ratios — no float ambiguity)."""
    from raster2dggs_spark.operators.composite import (
        interpolate_gaps, scene_cell_means,
    )
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, _meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    bands = [f"band_{i}" for i in range(1, 4)]
    px = pixel_cells(imgs, res=6, dggs="hex7", n_bands=4,
                     keep_image_id=True)
    sc = (scene_cell_means(px, bands)
          .withColumn("epoch",
                      F.col("image_id").substr(17, 1).cast("int"))
          .withColumn("fp",
                      F.col("image_id").substr(11, 4).cast("int")))
    gappy = sc.where(~((F.col("epoch") == 1) & (F.col("fp") % 2 == 0)))
    out = interpolate_gaps(gappy, bands, xs=[0, 1, 2], x_col="epoch")
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.col("epoch").cast("long").alias("epoch"),
        *[_r4(c).alias(c) for c in bands],
    )


def q_anomaly(spark, sf_dir):
    """Per-cell climatology anomalies (late round 7,
    operators/composite.py:anomaly_cells): each scene observation's
    z-score against its OWN cell's stack mean/std — one groupBy(cell)
    + one equi-join, never Window.partitionBy (the hot-cell landmine).
    band_3 is constant per footprint except the +t drift, so its std
    exercises the near-zero guard; the oracle replays avg/stddev_samp
    and the division relationally on the pinned per-(scene, cell)
    fixture."""
    from raster2dggs_spark.operators.composite import (
        anomaly_cells, scene_cell_means,
    )
    from raster2dggs_spark.operators.indexing import pixel_cells
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )

    images, _meta = generate_scene_stack_pdf(6, epochs=3, seed=7)
    imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    bands = [f"band_{i}" for i in range(1, 4)]
    px = pixel_cells(imgs, res=6, dggs="hex7", n_bands=4,
                     keep_image_id=True)
    sc = scene_cell_means(px, bands)
    out = anomaly_cells(sc, bands)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        "image_id",
        *[_r4(f"{c}_z").alias(f"{c}_z") for c in bands],
    )


# --------------------------------------------------------------------------
# training-data pipeline family (documents / embeddings tables)
# --------------------------------------------------------------------------

def q_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup edges (round 7): a deterministic 60-bit
    phash table built from supplier keys via the md5 shared with DuckDB
    (groups of 4: base, base±1 bit — identical for every third group —
    ±2 bits, ±8 bits), run through the banded pigeonhole join + exact
    popcount filter (operators/dedup.py:phash_near_dup).  The ±8-bit
    member verifies band collisions are FILTERED; the identical member
    exercises the linear canonical→member path.  The oracle replays the
    whole construction and the LSH relationally (shift/mask/xor/
    bit_count are bit-identical across engines on positive int64)."""
    from raster2dggs_spark.operators.dedup import phash_near_dup

    ph = (
        _t(spark, sf_dir, "supplier")
        .selectExpr("s_suppkey AS k")
        .selectExpr(
            "concat('img_', lpad(cast(k AS string), 8, '0')) AS image_id",
            "cast(floor(k / 4) AS bigint) AS g",
            "cast(k % 4 AS int) AS m")
        .selectExpr(
            "image_id", "g", "m",
            "cast(conv(substring(md5(cast(g AS string)), 1, 15), 16, 10) "
            "AS bigint) AS base")
        .selectExpr(
            "image_id",
            """CASE m
               WHEN 0 THEN base
               WHEN 1 THEN CASE WHEN g % 3 = 0 THEN base
                   ELSE base ^ shiftleft(cast(1 AS bigint),
                                         cast(g % 60 AS int)) END
               WHEN 2 THEN base
                   ^ shiftleft(cast(1 AS bigint), cast(g % 60 AS int))
                   ^ shiftleft(cast(1 AS bigint),
                               cast((g * 7 + 13) % 60 AS int))
               ELSE base ^ shiftleft(cast(255 AS bigint),
                                     cast(g % 50 AS int))
               END AS phash""")
    )
    out = phash_near_dup(ph, "image_id", "phash", max_hamming=3, nbits=60)
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


def q_pii_stats(spark, sf_dir):
    """PII detection + redaction (round 7, operators/text.py pii_stats
    — the CCNet/RefinedWeb curation pass): per-pattern regexp counts
    (email / naive IPv4 / E.164-ish phone) and the md5 of the text
    with every match replaced by <KIND>.  The synthetic corpus carries
    no PII, so the gate INJECTS it deterministically (doc_id mod 3
    picks the kind, lpad'd digits from doc_id) with the identical
    string expression on both engines; patterns live in the RE2 ∩
    Java-regex subset so counts and replacements match byte-for-byte
    (md5 is the shared hash)."""
    from raster2dggs_spark.operators.text import pii_stats

    d = _t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"),
                            (F.col("doc_id") % 97).cast("string"),
                            F.lit("@mail-example.org for details")))
            .when(F.col("doc_id") % 3 == 1,
                  F.concat(F.lit(" node at 10.0."),
                           (F.col("doc_id") % 256).cast("string"),
                           F.lit("."),
                           ((F.col("doc_id") * 7) % 256).cast("string"),
                           F.lit(" responded")))
            .otherwise(
                F.concat(F.lit(" call +64 555 "),
                         F.lpad((F.col("doc_id") % 10000).cast("string"),
                                4, "0")))))
    return pii_stats(aug, "doc_id", "text")


def q_dup_span_coverage(spark, sf_dir):
    """Cross-document duplicated-span coverage (round 7,
    operators/text.py dup_span_coverage — the exact-substring dedup
    signal of Lee et al. 2022 at word-8-gram granularity): per doc,
    the fraction of token positions covered by an 8-gram appearing in
    >= 2 documents.  Fully relational (posexplode grams, exact df,
    x8 position fan-out of duplicated grams, distinct-position count);
    the oracle replays it with correlated unnest(range()) slicing and
    the same round-6dp coverage."""
    from raster2dggs_spark.operators.text import dup_span_coverage

    d = _t(spark, sf_dir, "documents")
    return dup_span_coverage(d, "doc_id", "text", n=8)


def _supplier_graph(spark, sf_dir):
    """Deterministic 3-out directed graph over supplier keys (both
    engines construct it by identical integer arithmetic)."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("k"))
    edges = None
    for a, b in ((7, 3), (13, 5), (29, 11)):
        e = s.select(F.col("k").alias("src"),
                     ((F.col("k") * a + b) % 100 + 1).alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    return edges


def q_pagerank(spark, sf_dir):
    """PageRank (round 7, operators/graph.py pagerank — the canonical
    iterative graph workload, no GraphX dependency): 8 damped power
    iterations with dangling-mass redistribution over the 3-out
    supplier graph; one shuffle per round, eager localCheckpoint every
    3 rounds.  The oracle unrolls the SAME 8 iterations as chained
    CTEs with matching float association; ranks are mean-normalized
    (x N) before the 4dp rounding so the hash has resolution."""
    from raster2dggs_spark.operators.graph import pagerank

    edges = _supplier_graph(spark, sf_dir)
    n = (edges.selectExpr("src AS v").unionByName(
         edges.selectExpr("dst AS v")).distinct().count())
    pr = pagerank(edges, iters=8, damping=0.85)
    return pr.select(F.col("vertex").cast("long").alias("vertex"),
                     F.round(F.col("rank") * n, 4).alias("rank_norm"))


def q_triangle_count(spark, sf_dir):
    """Triangle count (round 7, operators/graph.py triangle_count):
    the a<b<c wedge-close three-way self-join on the undirected simple
    graph folded from the supplier edges; identical construction and
    join in the oracle."""
    from raster2dggs_spark.operators.graph import triangle_count

    return triangle_count(_supplier_graph(spark, sf_dir))


def q_sssp(spark, sf_dir):
    """Network shortest paths (graph.py sssp — v.net.path / pgRouting
    class, the edge-list twin of cost_distance): frontier Bellman-Ford
    supersteps from node 1 over an undirected 3-chord expander on
    supplier keys (ring, doubling, long-range; integer weights by
    identical arithmetic in both engines; converges in <=15 rounds at
    sf0.1).  The oracle unrolls 18 min-fold levels, every level
    MATERIALIZED (the repo's DuckDB chained-CTE rule); extra levels
    past convergence are idempotent, so fixpoints agree exactly."""
    from raster2dggs_spark.operators.graph import sssp

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("u"))
    nf = s.agg(F.max("u").alias("n"))
    su = s.crossJoin(F.broadcast(nf))
    parts = []
    for mult, wa, wm, wo in ((1, 7, 19, 1), (2, 13, 23, 1),
                             (37, 11, 29, 3)):
        parts.append(su.select(
            F.col("u").alias("src"),
            ((F.col("u") * mult) % F.col("n") + 1).alias("dst"),
            ((F.col("u") * wa) % wm + wo).cast("double").alias("w")))
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
    out = sssp(edges, [1], directed=False)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("dist").cast("long").alias("dist_w"))


def q_label_prop(spark, sf_dir):
    """Community detection by synchronous label propagation (graph.py
    label_propagation — the GraphX/GraphFrames labelPropagation
    contract): 4 fixed rounds over the undirected supplier multigraph,
    most-frequent neighbour label with smallest-label tie-break.
    Synchronous LPA's round count is part of the semantics, so the
    oracle unrolls the SAME 4 rounds as MATERIALIZED count/argmax/merge
    levels — integer counts and a total tie order make every round
    exactly reproducible."""
    from raster2dggs_spark.operators.graph import label_propagation

    out = label_propagation(_supplier_graph(spark, sf_dir), rounds=4)
    return out.select(F.col("vertex").cast("long").alias("vertex"),
                      F.col("community").cast("long").alias("community"))


def q_sssp_multi(spark, sf_dir):
    """K-source shortest-path matrix (graph.py sssp_multi — the
    travel-time / accessibility matrix): sources {1, 2, 3} advance
    simultaneously through shared relaxation joins, state keyed by
    (source, node); oracle unrolls the same 18 MATERIALIZED min-fold
    levels with the source in every group key."""
    from raster2dggs_spark.operators.graph import sssp_multi

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("u"))
    nf = s.agg(F.max("u").alias("n"))
    su = s.crossJoin(F.broadcast(nf))
    parts = []
    for mult, wa, wm, wo in ((1, 7, 19, 1), (2, 13, 23, 1),
                             (37, 11, 29, 3)):
        parts.append(su.select(
            F.col("u").alias("src"),
            ((F.col("u") * mult) % F.col("n") + 1).alias("dst"),
            ((F.col("u") * wa) % wm + wo).cast("double").alias("w")))
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
    out = sssp_multi(edges, [1, 2, 3], directed=False)
    return out.select(F.col("source").cast("long").alias("source"),
                      F.col("node").cast("long").alias("node"),
                      F.col("dist").cast("long").alias("dist_w"))


def q_sketch_distinct(spark, sf_dir):
    """Mergeable distinct-count sketches (round 7,
    operators/sketches.py — KMV bottom-k and HyperLogLog): built from
    md5, the one hash both engines share, so the SKETCH ITSELF is
    cross-engine reproducible — the oracle recomputes the same minima
    and registers relationally and the estimates match to 4dp (native
    approx_count_distinct could never be compared across engines).
    Distinct users per event_type: KMV k=64 two-stage bottom-k (no
    unbounded collect on a hot group), HLL p=8 with the linear-
    counting small-range correction."""
    from raster2dggs_spark.operators.sketches import (
        hll_distinct, kmv_distinct,
    )

    e = _t(spark, sf_dir, "events")
    kmv = kmv_distinct(e, ["event_type"], "user_id", k=64) \
        .withColumnRenamed("est_distinct", "est_kmv")
    hll = hll_distinct(e, ["event_type"], "user_id", p=8) \
        .withColumnRenamed("est_distinct", "est_hll")
    return kmv.join(hll, "event_type").select(
        "event_type", F.col("n_hashes").cast("long").alias("n_hashes"),
        "est_kmv", "est_hll")


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min frequency sketch (round 7, operators/sketches.py
    cms_frequencies): token-frequency estimates for a fixed candidate
    list over the documents token stream — 3x512 salted-md5 registers,
    estimate = min over rows, absent tokens 0.  The oracle rebuilds
    the identical registers relationally (same salts, same 60-bit md5
    parse, same modulus)."""
    from raster2dggs_spark.operators.dedup import tokens_expr
    from raster2dggs_spark.operators.sketches import cms_frequencies

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_expr("text")).alias("t"))
    cands = spark.createDataFrame(
        [(w,) for w in ("the", "table", "merge", "spark", "window",
                        "data", "batch", "zzz_absent")], ["value"])
    return cms_frequencies(toks, "t", cands, width=512, depth=3)


def q_rrf_fuse(spark, sf_dir):
    """Reciprocal rank fusion (text.py rrf_fuse — the hybrid-retrieval
    combiner): two md5-scored rankers over (20 queries x documents),
    ranks by (score DESC, doc ASC), fused 1/(60+rank), top-5 per
    query.  Two-term IEEE sums are commutative so fusion cannot drift;
    oracle replays ranks and fusion relationally."""
    from raster2dggs_spark.operators.text import rrf_fuse

    d = _t(spark, sf_dir, "documents").select("doc_id")
    q = spark.range(20).select(F.col("id").alias("query_id"))
    pairs = q.crossJoin(d)

    def sc(salt):
        h = F.md5(F.concat_ws(":", F.lit(salt),
                              F.col("query_id").cast("string"),
                              F.col("doc_id").cast("string")))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
                % 100003).cast("double")

    r1 = pairs.select("query_id", "doc_id", sc("r1").alias("score"))
    r2 = pairs.select("query_id", "doc_id", sc("r2").alias("score"))
    out = rrf_fuse([r1, r2], top_n=5)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      "doc_id", "rrf_score", "n_rankers", "fused_rank")


def q_doc_similarity(spark, sf_dir):
    """Sparse lexical "more like this" (text.py tfidf_doc_similarity):
    top-3 tf-idf cosine neighbours per document over the inverted-
    index join (df-cap 15%: the template corpus's vocabulary is
    either df=1 or boilerplate above 15%, so the cap keeps the token
    join to the rare shared tokens and the fan-out bounded at every
    sf — probed 625/62.5k candidate pairs).  Ranking by
    (round(cos,6) DESC, id ASC); the oracle replays tf/idf/norm/dot
    relationally."""
    from raster2dggs_spark.operators.text import tfidf_doc_similarity

    d = _t(spark, sf_dir, "documents")
    return tfidf_doc_similarity(d, "doc_id", "text", k=3,
                                max_df_frac=0.15)


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (round 7, operators/text.py bm25_topk —
    Okapi Robertson weighting, the lexical-search / hard-negative-
    mining pass): top-10 docs per query with scores rounded to 4dp
    BEFORE ranking and doc-id tie-breaks (total order — raw float
    ordering would let last-ulp ln differences reorder near-ties
    across engines).  Spark ranks WITHOUT windows (per-(query,
    64-bucket) local top-k then a 64-way merge — the hot-key rule);
    the oracle uses the relational row_number twin over the identical
    score expression."""
    from raster2dggs_spark.operators.text import bm25_topk

    d = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, "fast table scan and merge"),
         (2, "slow window query batch"),
         (3, "customer group data stream"),
         (4, "spark join filter key")],
        ["q_id", "q_text"])
    return bm25_topk(d, qs, k=10)


def q_dedup_exact(spark, sf_dir):
    from raster2dggs_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


def q_minhash_lsh(spark, sf_dir):
    from raster2dggs_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n_hashes=8, bands=4,
                             max_bucket=1000)


def q_ngram_jaccard(spark, sf_dir):
    from raster2dggs_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    # max_df=200 actually triggers at sf0.01 (500 docs: stopword shingles
    # exceed it) so the DF-capped semantics are exercised by the oracle
    out = ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.8,
                              max_df=200)
    return out.select(
        "id_a", "id_b", F.col("inter").cast("long").alias("inter"),
        F.col("sz_a").cast("long").alias("sz_a"),
        F.col("sz_b").cast("long").alias("sz_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_simhash(spark, sf_dir):
    from raster2dggs_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text")


def q_lang_id(spark, sf_dir):
    from raster2dggs_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return lang_id(d, "doc_id", "text")


def q_quality_score(spark, sf_dir):
    from raster2dggs_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return quality_score(d, "doc_id", "text")


def q_token_stats(spark, sf_dir):
    from raster2dggs_spark.operators.text import token_stats

    d = _t(spark, sf_dir, "documents")
    return token_stats(d, "doc_id", "text")


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (text.py chunk_documents — the
    retrieval / context-window splitter): 16-token windows every 12
    tokens over the documents table; pure column expressions + one
    posexplode.  Oracle replays split/trim, the start progression via
    a range join, and DuckDB's 1-based inclusive list_slice."""
    from raster2dggs_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=16, overlap=4)


def q_doc_fingerprint(spark, sf_dir):
    from raster2dggs_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return fingerprint(d, "doc_id", "text")


def q_pack_sequences(spark, sf_dir):
    """LM-pretraining sequence packing: concat-and-chunk layout of the
    document token stream into fixed 512-token sequences over 16
    md5-sharded streams — per-doc (shard, offsets, spanned sequences).
    Pure window prefix-sum arithmetic; DuckDB twin is the same window."""
    from raster2dggs_spark.operators.text import pack_token_stream

    d = _t(spark, sf_dir, "documents")
    return pack_token_stream(d, "doc_id", "text", seq_len=512, shards=16)


def q_dedup_components(spark, sf_dir):
    """End-to-end fuzzy dedup: LSH candidate pairs → transitive closure
    (hash-to-min label propagation, driver-synced convergence) → per-doc
    (component, size, is_canonical).  Oracle: DuckDB replays the minhash
    pipeline and computes the same closure with a recursive CTE — the
    iterative Spark loop must converge to the exact fixpoint.

    Gate scoping: a deterministic 1-in-5 doc subset and 8-row bands
    (bands=2) — the synthetic corpus is template-generated and therefore
    near-dup-DENSE, so 4-row bands over the full table produce a pair
    set that grows ~quadratically with sf (the recursive-CTE oracle
    enumerates |V|·|component| rows and stalls at sf0.1).  Subsetting
    keeps the oracle O(minutes) at every driver scale while exercising
    the identical operators."""
    from raster2dggs_spark.operators.dedup import dedup_clusters

    d = _t(spark, sf_dir, "documents").where("doc_id % 5 = 0")
    out = dedup_clusters(d, "doc_id", "text", n_hashes=16, bands=2)
    return out.select(
        "doc_id", "component",
        F.col("component_size").cast("long").alias("component_size"),
        "is_canonical",
    )


def q_dedup_keep_best(spark, sf_dir):
    """Cluster-representative selection (dedup.py dedup_keep_best):
    same LSH->CC clusters as dedup_components, but keep the HIGHEST
    md5-derived quality score per cluster (ties -> smallest id) — the
    curation step after near-dup detection.  Oracle reuses the
    recursive-closure pipeline plus a per-component argmax."""
    from raster2dggs_spark.operators.dedup import dedup_keep_best

    d = (_t(spark, sf_dir, "documents").where("doc_id % 5 = 0")
         .withColumn("score",
                     ((F.col("doc_id") * 17) % 101).cast("double")))
    out = dedup_keep_best(d, "doc_id", "text", "score",
                          n_hashes=16, bands=2)
    return out.select("doc_id", "component", "score", "is_kept")


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (dedup.py leakage_safe_split):
    near-dup clusters assign as WHOLE units via the md5-bucket split of
    the component id — paraphrase twins can never straddle train/test.
    Oracle composes the recursive-closure pipeline with the bucket
    arithmetic."""
    from raster2dggs_spark.operators.dedup import leakage_safe_split

    d = _t(spark, sf_dir, "documents").where("doc_id % 5 = 0")
    out = leakage_safe_split(d, "doc_id", "text", n_hashes=16, bands=2)
    return out.select("doc_id", "component",
                      F.col("bucket").cast("long").alias("bucket"),
                      "split")


def q_curate_docs(spark, sf_dir):
    """The END-TO-END curation pipeline (quality gate → exact-dedup
    canonical filter → deterministic split) as one plan — the DuckDB
    twin composes the same three already-oracled stages with identical
    ordering semantics (dedup over quality survivors; split on
    canonicals only, so duplicates cannot straddle train/test)."""
    from raster2dggs_spark.operators.pipeline import curate_documents

    d = _t(spark, sf_dir, "documents")
    return curate_documents(d, "doc_id", "text", min_quality=0.5)


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-5 TF-IDF terms (tf · ln(N/df), rounded before
    ranking so the rank tie-break is engine-stable)."""
    from raster2dggs_spark.operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=5)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (dominant token/bigram
    mass fractions + duplicate-bigram fraction) — the boilerplate/spam
    filter of the curation pipeline.  The argmax is TOTAL-ordered
    (count DESC, gram ASC) via max-count + min-gram-at-max, so the
    DuckDB twin replays it with plain grouped aggregates."""
    from raster2dggs_spark.operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text")


def q_edit_dist_join(spark, sf_dir):
    """Fuzzy self-join within Levenshtein distance 1 (text.py
    edit_distance_join): customer-number strings (zero-prefix trimmed,
    1-in-7 subset) paired by the complete PassJoin pigeonhole blocking
    — one chunk-key equi-join, exact JVM levenshtein verify.  The
    oracle is GENUINELY independent: DuckDB's native levenshtein over
    the id-ordered cross join."""
    from raster2dggs_spark.operators.text import edit_distance_join

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0)
    strs = c.select(
        F.col("c_custkey").alias("id"),
        F.regexp_replace(F.substring("c_name", 10, 9), "^0+", "")
        .alias("s"))
    out = edit_distance_join(strs, "s", "id", max_d=1)
    return out.select(F.col("id_a").cast("long").alias("id_a"),
                      F.col("id_b").cast("long").alias("id_b"),
                      "dist")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 §C style): training docs sharing
    any word 4-gram with the held-out eval split (the md5-bucket 'test'
    partition), with match counts.  Composes hash_split +
    ngram_decontaminate so the whole pipeline — split assignment,
    shingling, overlap join — is one relational twin in DuckDB."""
    from raster2dggs_spark.operators.text import (hash_split,
                                                  ngram_decontaminate)

    d = _t(spark, sf_dir, "documents")
    sp = hash_split(d, "doc_id").select("doc_id", "split")
    labeled = d.select("doc_id", "text").join(sp, "doc_id")
    train = labeled.where(F.col("split") != "test")
    ev = labeled.where(F.col("split") == "test")
    return ngram_decontaminate(train, ev, "doc_id", "text", n=4)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (text.py weighted_sample —
    Efraimidis-Spirakis A-Res with md5 in place of the RNG): top-100
    documents by u^(1/w) keys with an integer weight ramp; one global
    TakeOrdered, no RNG state.  The oracle replays the key formula and
    the (key DESC, id ASC) selection."""
    from raster2dggs_spark.operators.text import weighted_sample

    d = (_t(spark, sf_dir, "documents")
         .withColumn("wt", ((F.col("doc_id") * 13) % 7 + 1)
                     .cast("double")))
    out = weighted_sample(d, "doc_id", "wt", k=100)
    return out.select("doc_id", F.col("wt").alias("weight"),
                      "sample_key")


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 bucket — stable
    across engines/partitionings/table growth (the property random()
    splits lack); identical md5-hex arithmetic in the DuckDB twin."""
    from raster2dggs_spark.operators.text import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"), "split"
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling composed with language-ID
    (the corpus-balancing primitive: cap 'en' at 25%, 'fr' at 50%, keep
    everything else) — membership is a pure md5 function of
    (doc_id, detected language, rates), so the DuckDB twin replays
    language detection AND the bucket threshold exactly."""
    from raster2dggs_spark.operators.text import lang_id, stratified_sample

    d = _t(spark, sf_dir, "documents")
    lang = lang_id(d, "doc_id", "text")
    joined = d.select("doc_id").join(lang, "doc_id")
    kept = stratified_sample(joined, "doc_id", "lang_guess",
                             rates={"en": 0.25, "fr": 0.5})
    return kept.select("doc_id", "lang_guess")


def q_embedding_knn(spark, sf_dir):
    from raster2dggs_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t = e.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_vec"))
    out = cosine_topk(q, t, k=5)
    return out.select("q_id", "t_id", F.col("rank").cast("long").alias("rank"))


def q_embedding_knn_ivf(spark, sf_dir):
    """Approximate ANN: IVF with TRAINED centroids — k-means via
    distributed Lloyd iterations (train_centroids, md5-seeded so the
    draw is engine-reproducible; per-iteration round_dp=6 stops
    summation-order ulps from compounding across engines).  Fully
    oracle-checked: the DuckDB twin replays seeding, every Lloyd
    iteration (assign → per-dimension mean → empty-cluster coalesce) and
    the probe/top-k stages relationally; recall vs exact is additionally
    pytest-gated (test_similarity.py)."""
    from raster2dggs_spark.operators.similarity import ivf_topk, train_centroids

    e = _t(spark, sf_dir, "embeddings")
    cents = train_centroids(e, k=12, iters=3, round_dp=6)
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t = e.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_vec"))
    out = ivf_topk(q, t, cents, k=5, n_probe=4)
    return out.select("q_id", "t_id", F.col("rank").cast("long").alias("rank"))


def q_knn_recall(spark, sf_dir):
    """ANN recall evaluation (similarity.py knn_recall): per-query set
    recall of the trained-IVF top-5 against the exact cosine top-5 —
    the recall@k harness composed from the engine's own exact and
    approximate retrieval operators.  Oracle nests both existing SQL
    replays as subqueries and intersects them."""
    from raster2dggs_spark.operators.similarity import (
        cosine_topk, ivf_topk, knn_recall, train_centroids)

    e = _t(spark, sf_dir, "embeddings")
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("t_vec"))
    exact = cosine_topk(q, t, k=5)
    cents = train_centroids(e, k=12, iters=3, round_dp=6)
    approx = ivf_topk(q, t, cents, k=5, n_probe=4)
    out = knn_recall(exact, approx)
    return out.select(F.col("q_id").cast("long").alias("q_id"),
                      "n_ref", "n_hit", "recall")


def q_embedding_knn_pq(spark, sf_dir):
    """Product-quantization ANN, fully oracle-checked INCLUDING the
    quantizer: md5-derived codebooks (deterministic in any engine),
    per-subspace argmin encode, ADC top-5 over the 32×-compressed
    codes.  6dp rounding before every argmin/top-k makes assignments
    and rankings bit-stable across engines; the DuckDB twin replays the
    codebook derivation, the encode and the ADC scan relationally."""
    from raster2dggs_spark.operators.similarity import pq_encode, pq_topk

    e = _t(spark, sf_dir, "embeddings")
    codes = pq_encode(e, dim=64, m=8, k=16)
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = pq_topk(q, codes, dim=64, m=8, k=16, topn=5)
    return out.select("q_id", F.col("vec_id").alias("t_id"),
                      F.col("rank").cast("long").alias("rank"))


def q_embedding_knn_ivfpq(spark, sf_dir):
    """The COMPOSED web-scale ANN (IVF routing + PQ/ADC ranking), fully
    oracle-checked: centroids are the 8 md5-smallest vectors (the
    train_centroids seeding rule — deterministic in any engine, no
    Lloyd here so the twin stays tractable), codebooks are the md5
    derivation; array-fold dot products are order-deterministic in both
    engines and every argmin/top-k rounds to 6dp first."""
    from pyspark.sql import Window

    from raster2dggs_spark.operators.similarity import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = (
        e.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id").limit(8)
        .select(
            (F.row_number().over(Window.orderBy("__h", "vec_id")) - 1)
            .alias("c_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivfpq_topk(q, e, cents, dim=64, m=8, k=16, topn=5, n_probe=3)
    return out.select("q_id", F.col("vec_id").alias("t_id"),
                      F.col("rank").cast("long").alias("rank"))


def q_embedding_knn_ivfpq_rerank(spark, sf_dir):
    """IVF-PQ + EXACT re-rank (late round 7,
    operators/similarity.py:ivfpq_rerank_topk) — the production ANN
    recipe: ADC top-12 from compressed codes, then raw vectors join
    back for those 12 only and an exact round(cos, 6) re-ranks to
    top-5.  Same md5-deterministic construction as
    embedding_knn_ivfpq, so the oracle replays coarse + re-rank
    end-to-end (identical fold order both engines)."""
    from pyspark.sql import Window

    from raster2dggs_spark.operators.similarity import ivfpq_rerank_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = (
        e.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id").limit(8)
        .select(
            (F.row_number().over(Window.orderBy("__h", "vec_id")) - 1)
            .alias("c_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    q = e.where("vec_id < 30").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivfpq_rerank_topk(q, e, cents, dim=64, m=8, k=16, topn=5,
                            n_probe=3, topn_coarse=12)
    return out.select("q_id", F.col("vec_id").alias("t_id"),
                      F.col("cosine"),
                      F.col("rank").cast("long").alias("rank"))


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup, fully oracle-checked INCLUDING the
    probabilistic LSH candidate stage (md5-derived hyperplanes are
    deterministic in both engines).  Near-dups are synthesized: each
    vector gets a twin with +0.1 on dimension 0 (unit vectors -> cosine
    ~0.995); the operator must recover the twin pairs through bucketing
    + exact verification."""
    from raster2dggs_spark.operators.similarity import hyperplane_near_dup

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    twin = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + 0.1),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    out = hyperplane_near_dup(base.unionByName(twin), threshold=0.9)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_image_stats(spark, sf_dir):
    """Oracle-checked against pinned per-image ground truth
    (.fixtures/image_stats_64.parquet, built by scripts/make_fixtures.py
    from the same seeded generator): the full scan→Arrow-decode→feature
    UDF pipeline must reproduce it."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.multimodal import image_stats

    out = image_stats(images_spark_df(spark, 64, seed=42))
    return out.select(
        "image_id",
        F.col("bands_decoded").cast("long").alias("bands_decoded"),
        "px",
        F.round("b1_mean", 6).alias("b1_mean"),
        F.round("b1_std", 6).alias("b1_std"),
        F.round("nan_frac", 6).alias("nan_frac"),
        "phash_recomputed",
    )


# --------------------------------------------------------------------------
# geospatial family
# --------------------------------------------------------------------------

def q_sample_bilinear(spark, sf_dir):
    """Sample transfer on hex7, oracle-checked against an independent
    single-node scalar-tap replay (.fixtures/sample_bilinear_hex7_24.
    parquet — explicit 4-tap bilinear, no Spark, no _stencil_sample):
    cells_in_bbox → nearest-pixel ownership → kernel → first-wins
    cross-tile dedupe must reproduce it cell for cell.  Ref semantics:
    interpolation.py:113-277."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.sample import sample_cells
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(16, 24))
    return to_reference_output(sample_cells(imgs, res=6, kernel="bilinear"),
                               "hex7", 6, 0)


def q_overlay_weighted_mean(spark, sf_dir):
    """Oracle-checked: the live supersample→partials→agg pipeline must
    match a SQL re-aggregation of the pinned per-tile partials
    (.fixtures/overlay_partials_24.parquet)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_agg
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(12, 20))
    out = to_reference_output(overlay_agg(imgs, res=6, op="weighted_mean"),
                              "hex7", 6, 0)
    return out.select(
        "hex7_06", "hex7_00",
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_overlay_vct(spark, sf_dir):
    """P6 on the overlay path: weighted mean nulled where the valid
    coverage fraction < 0.9 — same pinned partials fixture, the oracle
    re-derives the threshold from cov_valid/cov_total."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_agg
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(12, 20))
    out = to_reference_output(
        overlay_agg(imgs, res=6, op="weighted_mean", vct=0.9), "hex7", 6, 0
    )
    return out.select(
        "hex7_06", "hex7_00",
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_overlay_majority(spark, sf_dir):
    """A14 majority class by covered area (deterministic tie-break) —
    oracle re-derives argmax from the pinned class partials."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_classes
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 16, seed=42, scenarios=("landcover",),
                           size_range=(12, 20))
    out = overlay_classes(imgs, res=6, op="mode")
    return to_reference_output(out, "hex7", 6, 0)


def q_overlay_fractions(spark, sf_dir):
    """Oracle-checked against pinned class partials
    (.fixtures/overlay_class_partials_16.parquet) re-aggregated in SQL."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_classes
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 16, seed=42, scenarios=("landcover",),
                           size_range=(12, 20))
    out = overlay_classes(imgs, res=6, op="fractions")
    return to_reference_output(
        out.select("parent", "cell", "class", F.round("fraction", 6).alias("fraction")),
        "hex7", 6, 0,
    )


def q_point_list(spark, sf_dir):
    """--point list with one sorted list PER BAND (ref common.py:
    495-502; per-band nodata holes → differing list lengths).  Oracle:
    single-node replay of the exploded pixel rows
    (.fixtures/point_list_8.parquet) re-aggregated in SQL with the
    per-band NaN filter; integral ×10000 string transport as in
    overlay_list_b2."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point

    imgs = images_spark_df(spark, 8, seed=42,
                           scenarios=("multiband_nodata",),
                           size_range=(10, 14))
    out = index_point(imgs, res=6, parent_res=0, agg="list")

    def s(b):
        return F.array_join(
            F.transform(
                f"band_{b}",
                lambda x: F.round(x * 10000, 0).cast("long").cast("string"),
            ),
            ",",
        ).alias(f"values_str_b{b}")

    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.lower(F.hex("parent")).alias("hex7_00"),
        *[s(b) for b in (1, 2, 3, 4)],
        F.size("band_1").cast("long").alias("n_b1"),
        F.size("band_4").cast("long").alias("n_b4"),
    )


def q_overlay_list_multi(spark, sf_dir):
    """Multi-band --overlay list (ref OVERLAY_COLLECT emits every
    selected band in ONE decode pass, overlay.py:519-589; round-3
    VERDICT #4): per-cell sorted value lists for bands 1 AND 2 of the
    multiband_nodata scenario, whose nodata holes differ per band — so
    the two lists have genuinely different lengths and the per-band NaN
    filter is exercised.  Oracle: single-node replay of the exploded
    multi-band stage (.fixtures/overlay_values_multi_16.parquet)
    re-aggregated in SQL; values cross engines as round(v*10000)::BIGINT
    joined strings (float32-derived doubles — integral transport avoids
    engine float-formatting drift)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_list_multi

    imgs = images_spark_df(spark, 16, seed=42,
                           scenarios=("multiband_nodata",),
                           size_range=(12, 20))
    out = overlay_list_multi(imgs, res=6, parent_res=0, bands=(1, 2))

    def s(b):
        return F.array_join(
            F.transform(
                f"values_b{b}",
                lambda x: F.round(x * 10000, 0).cast("long").cast("string"),
            ),
            ",",
        ).alias(f"values_str_b{b}")

    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.lower(F.hex("parent")).alias("hex7_00"),
        s(1), s(2),
        F.size("values_b1").cast("long").alias("n_b1"),
        F.size("values_b2").cast("long").alias("n_b2"),
    )


def q_overlay_list(spark, sf_dir):
    """--overlay list (OVERLAY_COLLECT → LIST, ref common.py:221-230,
    overlay.py:519-549): per-cell ascending value lists under overlay
    coverage semantics.  Oracle-checked against a single-node replay of
    the exploded (cell, pixel, value) stage
    (.fixtures/overlay_values_16.parquet) re-packed into sorted lists in
    SQL; lists cross engines as joined-int strings (landcover values are
    integral) because the driver canon cannot sort array columns."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.overlay import overlay_list

    imgs = images_spark_df(spark, 16, seed=42, scenarios=("landcover",),
                           size_range=(12, 20))
    out = overlay_list(imgs, res=6, parent_res=0)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_06"),
        F.lower(F.hex("parent")).alias("hex7_00"),
        F.array_join(
            F.transform("values", lambda x: x.cast("long").cast("string")),
            ",",
        ).alias("values_str"),
        F.size("values").cast("long").alias("n_values"),
    )


def q_compact_cells(spark, sf_dir):
    """Oracle-checked compaction round-trip: hex7 res-8 cell ids are
    CONSTRUCTED by pure integer arithmetic from lineitem keys (identical
    expressions in DuckDB), compacted bottom-up and uncompacted back —
    the output must equal the constructed set exactly.  Even okeys emit
    all 7 digit-8 siblings with a uniform value, so real merging happens
    (and must round-trip); odd okeys emit 3 siblings (must pass through
    unmerged).  Multi-level compaction is pytest-covered."""
    from raster2dggs_spark.operators.compaction import compact_cells, uncompact_cells

    li = _t(spark, sf_dir, "lineitem")
    o = li.select((F.col("l_orderkey") % 997).alias("okey")).distinct()
    k = o.withColumn(
        "d8",
        F.explode(
            F.when(F.col("okey") % 2 == 0, F.sequence(F.lit(0), F.lit(6)))
            .otherwise(F.sequence(F.lit(0), F.lit(2)))
        ),
    ).withColumn("d8", F.col("d8").cast("long"))
    base = (1 << 59) | (8 << 52) | ((1 << 21) - 1)  # mode=cell, res=8, 7-fill
    cell = (
        F.lit(base)
        + (F.col("okey") % 122) * F.lit(1 << 45)          # base cell
        + F.expr("okey div 343 % 7") * F.lit(1 << 42)     # digit 1
        + F.expr("okey div 49 % 7") * F.lit(1 << 39)      # digit 2
        + F.expr("okey div 7 % 7") * F.lit(1 << 36)       # digit 3
        + (F.col("okey") % 7) * F.lit(1 << 33)            # digit 4
        + F.col("d8") * F.lit(1 << 21)                    # digit 8
    )
    df = k.select(cell.alias("cell"), (F.col("okey") % 5).cast("double").alias("v"))
    out = uncompact_cells(compact_cells(df, ["v"], res=8, min_res=2), res=8)
    return out.select(F.lower(F.hex("cell")).alias("cell_hex"), "v")


def q_compact_cells_3h(spark, sf_dir):
    """A17 — MULTI-PARENT compaction on the aperture-3 ``i3h`` grid
    (the one reference operator previously scoped out; ref
    dggalrasterindexer.py:236-372): vertex children have 3 parents, a
    parent needs all 7 children uniform, a child is removed only when
    every parent compacts.  Oracle: a single-node replay using the
    REFERENCE'S algorithm shape (dict fixpoint over child→parents
    edges, .fixtures/compact_3h.parquet — built by
    scripts/make_fixtures.compact_3h_fixture) — independent of the
    distributed level-loop; the Spark operator must reproduce the
    mixed-resolution set exactly."""
    import pandas as pd

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scripts.make_fixtures import compact_3h_input
    from raster2dggs_spark.operators.compaction import compact_cells_3h

    c, v = compact_3h_input()
    df = spark.createDataFrame(pd.DataFrame({"cell": c, "v": v}),
                               "cell long, v double")
    out = compact_cells_3h(df, ["v"], res=7, min_res=5)
    return out.select("cell", "v")


def q_compact_cells_geohash(spark, sf_dir):
    """A16 on the geohash 32-ary prefix tree (compaction extended
    beyond hex7/s2 in round 4): precision-6 ids constructed by pure
    integer arithmetic from lineitem keys (id = (bits<<4)|precision,
    child bits = parent<<5|digit); even okeys emit all 32 siblings
    with a uniform value (must merge and round-trip back), odd okeys
    emit 7 (must pass through).  compact→uncompact must return exactly
    the constructed set — same round-trip-identity oracle as
    compact_cells."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = li.select((F.col("l_orderkey") % 997).alias("okey")).distinct()
    k = o.withColumn(
        "d",
        F.explode(
            F.when(F.col("okey") % 2 == 0, F.sequence(F.lit(0), F.lit(31)))
            .otherwise(F.sequence(F.lit(0), F.lit(6)))
        ),
    ).withColumn("d", F.col("d").cast("long"))
    cell = (F.col("okey") * 32 + F.col("d")) * 16 + 6
    df = k.select(cell.alias("cell"),
                  (F.col("okey") % 5).cast("double").alias("v"))
    out = uncompact_cells(
        compact_cells(df, ["v"], res=6, min_res=4, dggs="geohash"),
        res=6, dggs="geohash",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")


def q_compact_cells_quadkey(spark, sf_dir):
    """A16 on the quadkey 4-ary quadtree (round 7's 12th grid):
    level-5 ids constructed by pure integer arithmetic from lineitem
    keys (id = (bits<<5)|level, child bits = parent<<2|digit); even
    okeys emit all 4 siblings with a uniform value (must merge and
    round-trip back), odd okeys emit 3 (must pass through).
    compact→uncompact must return exactly the constructed set — the
    compact_cells round-trip-identity oracle."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = (li.select((F.col("l_orderkey") % 997).alias("okey")).distinct()
         .filter(F.col("okey") < 256))
    k = o.withColumn(
        "d",
        F.explode(
            F.when(F.col("okey") % 2 == 0, F.sequence(F.lit(0), F.lit(3)))
            .otherwise(F.sequence(F.lit(0), F.lit(2)))
        ),
    ).withColumn("d", F.col("d").cast("long"))
    cell = (F.col("okey") * 4 + F.col("d")) * 32 + 5
    df = k.select(cell.alias("cell"),
                  (F.col("okey") % 5).cast("double").alias("v"))
    out = uncompact_cells(
        compact_cells(df, ["v"], res=5, min_res=3, dggs="quadkey"),
        res=5, dggs="quadkey",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")


def q_compact_cells_a5(spark, sf_dir):
    """A16 on the a5 grid ACROSS the aperture-5→4 boundary (the
    reference's A5 subdivision-schedule special case, ref tests/
    regression/test_a5_cell_to_children_size.py): res-2 ids constructed
    by pure integer arithmetic (face<<60 | 2<<55 | q<<52 | d<<50) with a
    data-derived per-face value; faces 0-7 emit all 20 res-2
    descendants (must merge 4-ary to the quintants, then 5-ary to the
    pentagon), faces 8-11 — the negative-id bit-63 range — drop one
    child (quintant 4 stays partial, blocking the pentagon merge).
    compact→uncompact must return exactly the constructed set — the
    round-trip-identity oracle."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    fv = li.groupBy((F.col("l_orderkey") % 12).alias("face")).agg(
        F.round(F.sum("l_quantity"), 4).alias("v"))
    k = (
        fv.withColumn("q", F.explode(F.sequence(F.lit(0), F.lit(4))))
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .where(~((F.col("face") >= 8) & (F.col("q") == 4)
                 & (F.col("d") == 3)))
    )
    cell = (
        F.shiftleft(F.col("face").cast("long"), 60)
        .bitwiseOR(F.lit(2 << 55))
        .bitwiseOR(F.shiftleft(F.col("q").cast("long"), 52))
        .bitwiseOR(F.shiftleft(F.col("d").cast("long"), 50))
    )
    df = k.select(cell.alias("cell"), "v")
    out = uncompact_cells(
        compact_cells(df, ["v"], res=2, min_res=0, dggs="a5"),
        res=2, dggs="a5",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")


def q_compact_cells_i4r(spark, sf_dir):
    """A16 on the i4r rhombus quad-tree: res-2 ids constructed by pure
    integer arithmetic (diamond<<57 | 2<<52 | row<<26 | col) with a
    data-derived per-diamond value; diamonds 0-7 emit all 16 res-2
    cells (must merge 4-ary twice to the diamond), diamonds 8-9 drop
    cell (3,3) (one res-1 quad stays partial).  compact→uncompact must
    return exactly the constructed set."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    dv = li.groupBy((F.col("l_orderkey") % 10).alias("d")).agg(
        F.round(F.sum("l_extendedprice"), 4).alias("v"))
    k = (
        dv.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("c2", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .where(~((F.col("d") >= 8) & (F.col("r") == 3)
                 & (F.col("c2") == 3)))
    )
    cell = (
        F.shiftleft(F.col("d").cast("long"), 57)
        .bitwiseOR(F.lit(2 << 52))
        .bitwiseOR(F.shiftleft(F.col("r").cast("long"), 26))
        .bitwiseOR(F.col("c2").cast("long"))
    )
    df = k.select(cell.alias("cell"), "v")
    out = uncompact_cells(
        compact_cells(df, ["v"], res=2, min_res=0, dggs="i4r"),
        res=2, dggs="i4r",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")


def q_image_thumbnails(spark, sf_dir):
    """Multimodal resize stage, oracle-checked: 8x8 NN thumbnails of
    band 1, floor-quantized to 1/16 and emitted as a joined-int string
    (float formatting never crosses engines); the oracle reads the
    pinned per-image ground truth."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.multimodal import thumbnails

    out = thumbnails(images_spark_df(spark, 64, seed=42), size=8)
    return out.select(
        "image_id",
        F.array_join(
            F.transform("thumb",
                        lambda x: F.floor(x * 16.0).cast("long").cast("string")),
            ",",
        ).alias("thumb_i16"),
    )


def q_video_frame_stats(spark, sf_dir):
    """Video frame sampling + per-frame stats, fully oracle-checked: the
    synthetic rvid payloads carry an integer-arithmetic pixel field
    (px = (t·7919 + r·104729 + c·1299709 + v·31) mod 251), so DuckDB
    recomputes every sampled frame's mean/min/max bit-exactly from
    generate_series — decode → uniform frame indices (⌊j·T/n⌋) →
    feature extraction all verified end to end."""
    from raster2dggs_spark.operators.multimodal import frame_sample
    from raster2dggs_spark.sources.media import videos_spark_df

    v = videos_spark_df(spark, 24, seed=42)
    out = frame_sample(v, n_samples=4)
    return out.select(
        "video_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("h").cast("long").alias("h"), F.col("w").cast("long").alias("w"),
        _r4("f_mean").alias("f_mean"),
        F.col("f_min").cast("long").alias("f_min"),
        F.col("f_max").cast("long").alias("f_max"),
    )


def q_audio_features(spark, sf_dir):
    """Windowed audio features over rpcm payloads (pcm = (i·7919 +
    v·104729 + 12345) mod 65536 − 32768), fully oracle-checked: integer
    sums are exact in doubles, so RMS/zero-crossings/peak reproduce
    bit-for-bit from a generate_series replay."""
    from raster2dggs_spark.operators.multimodal import audio_features
    from raster2dggs_spark.sources.media import audio_spark_df

    a = audio_spark_df(spark, 16, seed=42)
    out = audio_features(a, window=1024)
    return out.select(
        "audio_id", F.col("win_idx").cast("long").alias("win_idx"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings", "peak",
    )


def q_windowed_events(spark, sf_dir):
    """Event stats per tumbling 1h window; date_trunc on the NTZ
    timestamp keeps it timezone-free so the DuckDB twin is exact."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _r4(F.sum("value")).alias("sum_value"),
    )


def q_zonal_windowed_events(spark, sf_dir):
    """Geo × time composite: events carry deterministic coordinates
    (integer arithmetic on event_id), are spatially joined to zones via
    the full PIP machinery (cover cells + ray-cast refinement), then
    aggregated per (hour window, zone).  The oracle reduces the geometry
    to BETWEEN (rect zones) and the window to date_trunc — both exact."""
    from raster2dggs_spark.operators.joins import point_in_polygon_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "value",
        (((F.col("event_id") * 37) % 344) - 172 + 0.3)
        .cast("double").alias("lon"),
        (((F.col("event_id") * 53) % 160) - 80 + 0.3)
        .cast("double").alias("lat"),
    )
    zones = _nation_rects(spark, sf_dir)
    hits = point_in_polygon_join(
        ev.select(F.col("event_id").alias("point_id"), "lon", "lat"),
        zones, res=4,
    )
    j = hits.join(ev.select(F.col("event_id").alias("point_id"),
                            "ts", "value"), "point_id")
    return j.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
        "poly_id",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _r4(F.sum("value")).alias("sum_value"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (temporal.sessionize_batch).  Timestamps
    emitted as wall-clock strings (tz-safe: NTZ→LTZ→string round-trips
    in any session timezone)."""
    from raster2dggs_spark.operators.temporal import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_seconds=900)
    return out.select(
        "user_id", "session_idx",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("start_ts").cast("string").alias("start_ts"),
        F.col("end_ts").cast("string").alias("end_ts"),
    )


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (temporal.py cohort_retention):
    cohort = ISO week of each user's first event; per (cohort, week
    offset) distinct active users and the retention fraction.  Offsets
    are date arithmetic (days/7 between Mondays), so both engines agree
    exactly; the oracle is the direct relational replay."""
    from raster2dggs_spark.operators.temporal import cohort_retention

    out = cohort_retention(_t(spark, sf_dir, "events"))
    return out.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset", "n_active", "cohort_size", "retention")


def q_funnel(spark, sf_dir):
    """Ordered funnel conversion (temporal.py funnel — the
    product-analytics staple): signup -> view -> click -> purchase
    with first-touch strictly-after chaining and a 7-day window
    anchored at the first step; K-1 entity equi-joins over pushed-down
    single-type slices, lazy single-row aggregates, no collect.  The
    oracle replays each step as a min-reach CTE."""
    from raster2dggs_spark.operators.temporal import funnel

    e = _t(spark, sf_dir, "events")
    return funnel(e, ["signup", "view", "click", "purchase"],
                  within_s=7 * 86400)


def q_asof_join(spark, sf_dir):
    """Point-in-time as-of join (backward, inclusive): every click joins
    the user's most recent purchase at-or-before the click instant —
    union + single-exchange windowed carry-forward, no join node
    (operators/temporal.py).  Oracle: DuckDB's native ASOF LEFT JOIN."""
    from raster2dggs_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    l = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    r = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pvalue"), "event_id")
    out = asof_join(l, r, on="ts", by=["user_id"], value_cols=["pvalue"],
                    tiebreak="event_id")
    return out.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("string").alias("ts"),
        F.col("matched_ts").cast("string").alias("matched_ts"),
        _r4("pvalue").alias("pvalue"),
    )


def q_asof_join_tol(spark, sf_dir):
    """Forward as-of with a 1-hour tolerance: every signup joins the
    user's NEXT error within the hour (nulls beyond tolerance, rows kept
    — left-join semantics)."""
    from raster2dggs_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    l = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id")
    r = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("evalue"), "event_id")
    out = asof_join(l, r, on="ts", by=["user_id"], value_cols=["evalue"],
                    tiebreak="event_id", direction="forward",
                    tolerance_s=3600.0)
    return out.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("string").alias("ts"),
        F.col("matched_ts").cast("string").alias("matched_ts"),
        _r4("evalue").alias("evalue"),
    )


def q_range_join(spark, sf_dir):
    """Bucketized interval-containment join (operators/temporal.py
    range_join): every click left-joins the same user's 2-hour purchase
    attribution windows [purchase_ts, purchase_ts + 2h) that cover it,
    aggregated per click.  The plan is a duplicate-free equi-join on
    (user_id, time bucket) — a bucket-exploded interval side — never a
    BroadcastNestedLoopJoin.  Oracle: the plain DuckDB inequality
    join."""
    from raster2dggs_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    pts = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    iv = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("pvalue"),
    )
    out = range_join(pts, iv, on="ts", start="start_ts", end="end_ts",
                     by=["user_id"], bucket_s=3600.0, how="left")
    return out.groupBy("user_id", "event_id").agg(
        F.count("purchase_id").cast("long").alias("n_windows"),
        F.min(F.col("start_ts").cast("string")).alias("first_start"),
        _r4(F.sum("pvalue")).alias("sum_pvalue"),
    ).select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        "n_windows", "first_start", "sum_pvalue",
    )


def q_hex7_pixel_index(spark, sf_dir):
    """FLAGSHIP, oracle-checked against an independent single-node NumPy
    replay (.fixtures/hex7_pixel_index_64.parquet, a straight per-pixel
    loop with no Spark/batching/shuffle): the distributed plan — Arrow
    flush budgets, in-UDF map-side combine, one exchange, post-shuffle
    bitwise parents — must reproduce it cell for cell."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 64, seed=42)
    out = index_point_agg(imgs, res=9, agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_09"),
        F.lower(F.hex("parent")).alias("hex7_03"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_i3h_pixel_index(spark, sf_dir):
    """Pixel indexing on the aperture-3 i3h grid (the multi-parent
    ISEA3H-layout grid carrying A17) — oracle-checked against an
    independent single-node NumPy replay
    (.fixtures/i3h_pixel_index_16.parquet): the one-exchange plan
    including the UDF-derived CENTROID-parent column must reproduce it
    cell for cell."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=12, dggs="i3h", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("i3h_12"),
        F.lower(F.hex("parent")).alias("i3h_02"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_a5_pixel_index(spark, sf_dir):
    """Pixel indexing on the a5 grid (A5-layout pentagonal dodecahedron,
    aperture 5 then 4 — ref indexers/a5rasterindexer.py semantics) —
    oracle-checked against an independent single-node NumPy replay
    (.fixtures/a5_pixel_index_16.parquet): the one-exchange plan with
    the NATIVE bit-arithmetic parent column must reproduce it cell for
    cell."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=10, dggs="a5", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("a5_10"),
        F.lower(F.hex("parent")).alias("a5_02"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_i4r_pixel_index(spark, sf_dir):
    """Pixel indexing on the i4r grid (ISEA4R-layout icosahedral
    aperture-4 rhombus — the reference's *4R DGGAL family semantics,
    ref indexers/dggalrasterindexer.py:375-401) — oracle-checked
    against an independent single-node NumPy replay
    (.fixtures/i4r_pixel_index_16.parquet); parents are the native
    per-axis bit-shift expression."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=11, dggs="i4r", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("i4r_11"),
        F.lower(F.hex("parent")).alias("i4r_03"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_s2_pixel_index(spark, sf_dir):
    """Fully oracle-checked pixel indexing on the S2 grid: the DuckDB
    twin replays the cube-face projection, quadratic ST and the
    level-by-level Hilbert position chain (the lookup table is just the
    batched form of the canonical 4-entry pos/orientation tables, so an
    unrolled per-level CASE reproduces it exactly).  Only cos/sin can
    differ by 1 ulp across libms."""
    from raster2dggs_spark.operators.indexing import index_point_agg, to_reference_output

    imgs = _ramp_images(spark)
    out = to_reference_output(
        index_point_agg(imgs, res=11, dggs="s2", agg="mean"), "s2", 11, 3
    )
    return out.select("s2_11", "s2_03", _r4("band_1").alias("v"))


def q_s2_pixel_index_full(spark, sf_dir):
    """The full 64-tile generator mix (all scenarios incl. EPSG:3857) on
    the S2 grid — oracle-checked against the independent single-node
    replay fixture like the flagship."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 64, seed=42)
    out = index_point_agg(imgs, res=14, dggs="s2", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("s2_14"),
        F.lower(F.hex("parent")).alias("s2_06"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_sample_bilinear_s2(spark, sf_dir):
    """Sample transfer on the S2 grid (cells_in_bbox is grid-generic via
    dggs.cover), oracle-checked against the same independent single-node
    scalar-tap replay pattern as the hex7 sibling
    (.fixtures/sample_bilinear_s2_24.parquet)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.sample import sample_cells
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(16, 24))
    return to_reference_output(
        sample_cells(imgs, res=10, kernel="bilinear", dggs="s2"), "s2", 10, 2
    )


def q_sample_bilinear_a5(spark, sf_dir):
    """Sample transfer on the a5 grid (cells_in_bbox is grid-generic via
    dggs.cover — this exercises the pentagonal cover + ownership +
    first-wins dedupe end-to-end), oracle-checked against the same
    independent single-node scalar-tap replay pattern as the hex7/s2
    siblings (.fixtures/sample_bilinear_a5_24.parquet)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.sample import sample_cells
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(16, 24))
    return to_reference_output(
        sample_cells(imgs, res=9, kernel="bilinear", dggs="a5"), "a5", 9, 1
    )


def q_sample_points_bilinear(spark, sf_dir):
    """Fully oracle-checked bilinear sampling: points derived from
    customer keys are sampled against a linear-ramp tile; bilinear
    interpolation reproduces the linear field exactly, so the DuckDB twin
    computes the expected value in closed form (affine inverse + ramp)."""
    from raster2dggs_spark.operators.sample import sample_points

    imgs = _ramp_images(spark).where("image_id = 'ramp_00'")
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(10.0037) + ((F.col("c_custkey") * 37) % 620 + 10) / 1000.0)
        .cast("double").alias("lon"),
        (F.lit(50.0041) - ((F.col("c_custkey") * 53) % 460 + 10) / 1000.0)
        .cast("double").alias("lat"),
    )
    out = sample_points(imgs, pts, kernel="bilinear")
    return out.select("point_id", _r4("band_1").alias("v"))


def q_sample_points_join(spark, sf_dir):
    """The sample_points SCALE strategy (cell-routed equi-join + cogroup
    kernel, no driver collect of payloads) against the same closed-form
    ramp oracle as the collect path — both strategies must produce
    identical values, and this keeps the 100-TB path itself
    hash-checked, not just its broadcast twin."""
    from raster2dggs_spark.operators.sample import sample_points

    imgs = _ramp_images(spark).where("image_id = 'ramp_00'")
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(10.0037) + ((F.col("c_custkey") * 37) % 620 + 10) / 1000.0)
        .cast("double").alias("lon"),
        (F.lit(50.0041) - ((F.col("c_custkey") * 53) % 460 + 10) / 1000.0)
        .cast("double").alias("lat"),
    )
    out = sample_points(imgs, pts, kernel="bilinear", strategy="join")
    return out.select("point_id", _r4("band_1").alias("v"))


def q_sample_points_bicubic(spark, sf_dir):
    """Bicubic (Keys a=-0.5) point sampling, fully oracle-checked: the
    Keys kernel has exact linear precision, so on a linear-ramp tile the
    interior interpolant equals the same closed form as bilinear.
    Points sit >=2px from edges so all 16 taps are valid."""
    from raster2dggs_spark.operators.sample import sample_points

    imgs = _ramp_images(spark).where("image_id = 'ramp_00'")
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(10.0037) + ((F.col("c_custkey") * 41) % 560 + 40) / 1000.0)
        .cast("double").alias("lon"),
        (F.lit(50.0041) - ((F.col("c_custkey") * 59) % 380 + 40) / 1000.0)
        .cast("double").alias("lat"),
    )
    out = sample_points(imgs, pts, kernel="bicubic")
    return out.select("point_id", _r4("band_1").alias("v"))


def q_sample_cells_maidenhead(spark, sf_dir):
    """Cell-centroid sample transfer, fully oracle-checked on the
    maidenhead grid (centroids are closed-form): cells_in_bbox →
    ownership (nearest pixel in tile) → bilinear at the centroid, all
    replayed in SQL including the valid-tap renormalization."""
    from raster2dggs_spark.operators.sample import sample_cells
    import pandas as pd

    imgs = _ramp_images(spark)
    out = sample_cells(imgs, res=3, kernel="bilinear", dggs="maidenhead")

    @F.pandas_udf("string")
    def mh_str(c):
        from raster2dggs_spark.dggs import maidenheadlib

        return pd.Series(maidenheadlib.cells_to_string(c.values))

    return out.select(
        mh_str("cell").alias("mh_03"), mh_str("parent").alias("mh_01"),
        # kernel NaNs (insufficient valid taps) -> NULL for canon parity
        F.when(~F.isnan("band_1"), _r4("band_1")).alias("v"),
    )


def q_maidenhead_pixel_index(spark, sf_dir):
    """Fully oracle-checked pixel indexing END TO END on the maidenhead
    grid: decode (Arrow UDF) → affine pixel centres → cell encode →
    per-cell mean.  Maidenhead encoding is pure mixed-radix arithmetic,
    so the DuckDB twin replays the exact same float operations on a
    generate_series pixel grid and must match bit-for-bit."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    import pandas as pd

    imgs = _ramp_images(spark)
    out = index_point_agg(imgs, res=3, dggs="maidenhead", agg="mean")

    @F.pandas_udf("string")
    def mh_str(c):
        from raster2dggs_spark.dggs import maidenheadlib

        return pd.Series(maidenheadlib.cells_to_string(c.values))

    return out.select(
        mh_str("cell").alias("mh_03"), mh_str("parent").alias("mh_01"),
        F.col("npx").cast("long").alias("n_px"), _r4("band_1").alias("v"),
    )


def q_rhp_pixel_index(spark, sf_dir):
    """Fully oracle-checked pixel indexing on the rHEALPix grid: the
    DuckDB twin replays the HEALPix equal-area projection, the (0,0) cap
    rearrangement and the base-9 digit peel with the same float
    expressions (only sin() may differ by 1 ulp across libms — boundary
    flips need a pixel center within ~1e-15 of a cell edge).  ramp_00
    exercises the north-cap rotation path, ramp_01 the equatorial belt."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    import pandas as pd

    imgs = _ramp_images(spark)
    out = index_point_agg(imgs, res=6, dggs="rhp", agg="mean")

    @F.pandas_udf("string")
    def rhp_str(c):
        from raster2dggs_spark.dggs import rhplib

        return pd.Series(rhplib.cells_to_string(c.values))

    return out.select(
        rhp_str("cell").alias("rhp_06"), rhp_str("parent").alias("rhp_01"),
        F.col("npx").cast("long").alias("n_px"), _r4("band_1").alias("v"),
    )


def q_hist_area_normalized(spark, sf_dir):
    """A11 CELL_AREA matrix, fully oracle-checked: area-weighted value
    histogram per rhp cell (weight = geodesic pixel area, class =
    floor-bucketed value), normalized by the exact equal-area cell area
    (area_frac = the reference's (area, cell_area) weight field)."""
    from raster2dggs_spark.operators.overlay import overlay_class_partials
    from raster2dggs_spark.operators.aggregates import hist_normalize_cell_area
    import pandas as pd

    imgs = _ramp_images(spark)
    p = overlay_class_partials(imgs, res=5, parent_res=1, dggs="rhp",
                               band=1, supersample=1, bucket_width=256.0)
    g = p.groupBy("cell", "class").agg(F.sum("cov_area").alias("area"))
    out = hist_normalize_cell_area(g, res=5, dggs="rhp", weight_col="area")

    @F.pandas_udf("string")
    def rhp_str(c):
        from raster2dggs_spark.dggs import rhplib

        return pd.Series(rhplib.cells_to_string(c.values))

    return out.select(
        rhp_str("cell").alias("rhp_05"), "class",
        F.round("area_frac", 6).alias("area_frac"),
    )


def q_geohash_pixel_index(spark, sf_dir):
    """Fully oracle-checked pixel indexing on the geohash grid: encoding
    is pure bit arithmetic (quantize + interleave + base-32), so the
    DuckDB twin is BIT-EXACT (no trig in the pipeline after the affine).
    """
    from raster2dggs_spark.operators.indexing import index_point_agg
    import pandas as pd

    imgs = _ramp_images(spark)
    out = index_point_agg(imgs, res=6, dggs="geohash", agg="mean")

    @F.pandas_udf("string")
    def gh_str(c):
        from raster2dggs_spark.dggs import geohashlib

        return pd.Series(geohashlib.cells_to_string(c.values))

    return out.select(
        gh_str("cell").alias("geohash_06"), gh_str("parent").alias("geohash_03"),
        F.col("npx").cast("long").alias("n_px"), _r4("band_1").alias("v"),
    )


def q_quadkey_pixel_index(spark, sf_dir):
    """Pixel indexing on the quadkey (Web-Mercator quadtree / Bing
    tile) grid — round 7's 12th backend (dggs/quadkeylib.py).  The
    encode is (lon quantize, Mercator ln/tan quantize, Morton pack) —
    the DuckDB twin replays the identical float expressions (only
    libm's tan/ln may differ by 1 ulp; a boundary flip needs a pixel
    center within ~1e-15 of a tile edge)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    import pandas as pd

    imgs = _ramp_images(spark)
    out = index_point_agg(imgs, res=12, parent_res=4, dggs="quadkey",
                          agg="mean")

    @F.pandas_udf("string")
    def qk_str(c):
        from raster2dggs_spark.dggs import quadkeylib

        return pd.Series(quadkeylib.cells_to_string(c.values))

    return out.select(
        qk_str("cell").alias("qk_12"), qk_str("parent").alias("qk_04"),
        F.col("npx").cast("long").alias("n_px"), _r4("band_1").alias("v"),
    )


def q_maidenhead_pixel_median(spark, sf_dir):
    """Holistic aggregate through the raw-pixel path (index_point routes
    median via exploded pixel rows, not algebraic partials) — oracle
    replays the maidenhead encode and takes DuckDB's interpolated
    median."""
    from raster2dggs_spark.operators.indexing import index_point
    import pandas as pd

    imgs = _ramp_images(spark)
    out = index_point(imgs, res=3, dggs="maidenhead", agg="median", n_bands=1)

    @F.pandas_udf("string")
    def mh_str(c):
        from raster2dggs_spark.dggs import maidenheadlib

        return pd.Series(maidenheadlib.cells_to_string(c.values))

    return out.select(
        mh_str("cell").alias("mh_03"), mh_str("parent").alias("mh_01"),
        _r4("band_1").alias("v"),
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def q_geotiff_pixel_index(spark, sf_dir):
    """REAL-RASTER fidelity loop (round 6): the reference's own test
    GeoTIFF (/root/reference/tests/data/se-island.tiff — ZSTD 256x256
    tiles, 32-bit horizontal predictor, float32, EPSG:3793 Chatham TM)
    is ingested through the distributed window plan (per-tile byte
    ranges, shifted window affines, executor-side decode) and indexed at
    hex7 res 11.  Oracle: a single-node FULL-FRAME replay pinned in
    .fixtures/geotiff_pixel_index.parquet (whole-raster decode + Krüger
    TM inverse + per-pixel encode — no Spark, no windowing); decode
    itself is pinned bit-exact against GDAL's statistics in
    tests/test_geotiff.py, stage-1 row count 74,888 pinned per the
    reference's README regression (/root/reference/README.md:476-478)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.geotiff import read_geotiff

    imgs = read_geotiff(spark, "/root/reference/tests/data/se-island.tiff")
    out = index_point_agg(imgs, res=11, parent_res=5, agg="mean", n_bands=3)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_11"),
        F.lower(F.hex("parent")).alias("hex7_05"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 4)],
    )


def q_utm_pixel_index(spark, sf_dir):
    """Transverse Mercator CRS gate (round 6): ramp tiles georeferenced
    in four TM grids (UTM 10N, UTM 18S, NZTM 2193, Chatham 3793 —
    reference capability: any-CRS via pyproj, common.py:803-813) run the
    full meters-affine → Krüger inverse → hex7 encode pipeline.  Oracle:
    single-node replay fixture; the TM math itself is pinned
    independently in tests/test_geo.py (round-trip <1e-11°, meridian-arc
    quadrature, Redfearn cross-series <1mm)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_tm_images_pdf,
    )

    imgs = spark.createDataFrame(generate_tm_images_pdf(16, seed=42),
                                 IMAGE_SCHEMA)
    out = index_point_agg(imgs, res=9, parent_res=3, agg="mean", n_bands=1)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_09"),
        F.lower(F.hex("parent")).alias("hex7_03"),
        F.col("npx").cast("long").alias("n_px"),
        _r4("band_1").alias("band_1"),
    )


def q_sinusoidal_pixel_index(spark, sf_dir):
    """Sinusoidal + World-Mercator CRS gate (round 7): ramp tiles
    georeferenced in the MODIS land-grid family (sphere sinusoidal
    ESRI:54008, a custom-parameter SINU variant) and ellipsoidal World
    Mercator EPSG:3395 run the full meters-affine → closed-form inverse
    → hex7 encode pipeline (reference capability: any-CRS via pyproj,
    common.py:803-813).  Oracle: single-node replay fixture; the
    projection math is pinned independently in tests/test_geo.py
    (round-trip <1e-11°, exact equal-area Jacobian, the published
    EPSG:3395 y(60°N)=8362698.5485 value)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_sinu_images_pdf,
    )

    imgs = spark.createDataFrame(generate_sinu_images_pdf(16, seed=42),
                                 IMAGE_SCHEMA)
    out = index_point_agg(imgs, res=7, parent_res=2, agg="mean", n_bands=1)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_07"),
        F.lower(F.hex("parent")).alias("hex7_02"),
        F.col("npx").cast("long").alias("n_px"),
        _r4("band_1").alias("band_1"),
    )


def q_jpeg_pixel_index(spark, sf_dir):
    """JPEG-in-TIFF ingest gate (round 7): a compression-7 GeoTIFF
    (baseline JPEG tiles, separate JPEGTables tag 347, YCbCr 4:2:0 —
    the imagery/basemap tile family the reference reads via rasterio,
    common.py:803-813) decodes through the pure-NumPy JPEG decoder
    inside executors and indexes at hex7 res 7.  Oracle: single-node
    full-frame replay fixture (decode is bit-deterministic); the codec
    is pinned independently in tests/test_jpeg.py against a
    hand-assembled bitstream with a closed-form IDCT oracle."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.geotiff import read_geotiff

    imgs = read_geotiff(spark, os.path.join(_FIXDIR, "jpeg_gate.tif"))
    out = index_point_agg(imgs, res=7, parent_res=2, agg="mean", n_bands=3)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_07"),
        F.lower(F.hex("parent")).alias("hex7_02"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 4)],
    )


def q_sample_points_lanczos(spark, sf_dir):
    """Lanczos-3 point sampling, fully oracle-checked (round 6 — closes
    the last kernel without a relational oracle): on a separable linear
    ramp v = 64r + c with all 36 taps valid, the renormalized windowed
    sinc factorizes into per-axis effective coordinates, which the
    DuckDB twin recomputes from the same sinc formula.  Points sit
    >=3 px from every edge."""
    from raster2dggs_spark.operators.sample import sample_points

    imgs = _ramp_images(spark).where("image_id = 'ramp_00'")
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(10.0037) + ((F.col("c_custkey") * 43) % 500 + 60) / 1000.0)
        .cast("double").alias("lon"),
        (F.lit(50.0041) - ((F.col("c_custkey") * 61) % 340 + 60) / 1000.0)
        .cast("double").alias("lat"),
    )
    out = sample_points(imgs, pts, kernel="lanczos")
    return out.select("point_id", _r4("band_1").alias("v"))



def q_i9r_pixel_index(spark, sf_dir):
    """Pixel indexing on the i9r grid (ISEA9R-layout icosahedral
    aperture-9 rhombus — the reference's *9R DGGAL family, ref
    indexers/dggalrasterindexer.py:375-401 registry, get_num_children
    9) — oracle-checked against an independent single-node NumPy replay
    (.fixtures/i9r_pixel_index_16.parquet); parents are the native
    per-axis double-floor-div Column expression (exact: fields < 2^26).
    Round 6."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=7, dggs="i9r", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("i9r_07"),
        F.lower(F.hex("parent")).alias("i9r_02"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_compact_cells_i9r(spark, sf_dir):
    """A16 on the i9r rhombus 9-ary tree: res-2 ids constructed by pure
    integer arithmetic with a data-derived per-diamond value; diamonds
    0-7 emit all 81 res-2 cells (must merge 9-ary twice to the
    diamond), diamonds 8-9 drop cell (8,8) (one res-1 block stays
    partial).  compact→uncompact must return exactly the constructed
    set."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    dv = li.groupBy((F.col("l_orderkey") % 10).alias("d")).agg(
        F.round(F.sum("l_extendedprice"), 4).alias("v"))
    k = (
        dv.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(8))))
        .withColumn("c2", F.explode(F.sequence(F.lit(0), F.lit(8))))
        .where(~((F.col("d") >= 8) & (F.col("r") == 8)
                 & (F.col("c2") == 8)))
    )
    cell = (
        F.shiftleft(F.col("d").cast("long"), 57)
        .bitwiseOR(F.lit(2 << 52))
        .bitwiseOR(F.shiftleft(F.col("r").cast("long"), 26))
        .bitwiseOR(F.col("c2").cast("long"))
    )
    df = k.select(cell.alias("cell"), "v")
    out = uncompact_cells(
        compact_cells(df, ["v"], res=2, min_res=0, dggs="i9r"),
        res=2, dggs="i9r",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")



def q_z7_roundtrip(spark, sf_dir):
    """Z7-style compact id recoding (round 6, VERDICT #7 — DGGAL's
    isea7h_z7 is the one id-LAYOUT variant family): valid hex7 ids are
    constructed from customer keys by pure integer arithmetic, recoded
    to the compact base-7 positional id (functions.z7.hex7_to_z7 — zero
    Python, one Column expression) and back.  The oracle replays the
    Horner sum and the id construction in exact BIGINT SQL; round-trip
    identity is asserted via the back column equaling the input."""
    from raster2dggs_spark.functions.z7 import hex7_to_z7, z7_to_hex7

    res = 9
    cust = _t(spark, sf_dir, "customer")
    base = (F.col("c_custkey") % 122).cast("long")
    cell = F.lit((1 << 59) | (res << 52) | ((1 << (3 * (15 - res))) - 1))
    cell = cell.bitwiseOR(F.shiftleft(base, 45))
    for i in range(1, res + 1):
        d = ((F.col("c_custkey") * (2 * i + 1)) % 7).cast("long")
        cell = cell.bitwiseOR(F.shiftleft(d, 3 * (15 - i)))
    df = cust.select(F.col("c_custkey").alias("k"), cell.alias("cell"))
    df = df.withColumn("z7", hex7_to_z7("cell", res))
    df = df.withColumn("back", z7_to_hex7("z7", res))
    return df.select("k", F.col("cell").cast("long").alias("cell"),
                     F.col("z7").cast("long").alias("z7"),
                     F.col("back").cast("long").alias("back"))



def q_polar_pixel_index(spark, sf_dir):
    """Polar stereographic CRS gate (round 6): ramp tiles in the four
    polar grids real polar rasters use (NSIDC 3413/3976, Antarctic
    3031, UPS 5041) run the meters-affine → ellipsoidal-PS inverse →
    hex7 encode pipeline.  Oracle: single-node replay fixture; the PS
    math is pinned independently in tests/test_geo.py (round-trip
    <1e-11°, numeric conformality, k=1 at lat_ts, exact spherical
    limit)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_polar_images_pdf,
    )

    imgs = spark.createDataFrame(generate_polar_images_pdf(16, seed=42),
                                 IMAGE_SCHEMA)
    out = index_point_agg(imgs, res=7, parent_res=1, agg="mean", n_bands=1)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_07"),
        F.lower(F.hex("parent")).alias("hex7_01"),
        F.col("npx").cast("long").alias("n_px"),
        _r4("band_1").alias("band_1"),
    )



def q_conic_pixel_index(spark, sf_dir):
    """Conic/azimuthal CRS gate (round 6): ramp tiles in the four
    mid-latitude national-grid projections (Lambert-93 LCC, Canada LCC,
    CONUS Albers equal-area, EU LAEA grid) run the meters-affine →
    conic inverse → hex7 encode pipeline.  Oracle: single-node replay
    fixture; the projection math is pinned independently in
    tests/test_geo.py (round-trips <1e-11°, LCC conformality + unit
    scale at both standard parallels, Albers/LAEA |J| ≡ M·N·cosφ,
    Lambert-93 Paris known point)."""
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_conic_images_pdf,
    )

    imgs = spark.createDataFrame(generate_conic_images_pdf(16, seed=42),
                                 IMAGE_SCHEMA)
    out = index_point_agg(imgs, res=9, parent_res=3, agg="mean", n_bands=1)
    return out.select(
        F.lower(F.hex("cell")).alias("hex7_09"),
        F.lower(F.hex("parent")).alias("hex7_03"),
        F.col("npx").cast("long").alias("n_px"),
        _r4("band_1").alias("band_1"),
    )



def q_e4r_pixel_index(spark, sf_dir):
    """Pixel indexing on the e4r grid (round 6 — the EQUAL-AREA
    IVEA/ISEA-class aperture-4 diamond layout, slice-and-scale
    equal-area map re-derived from first principles in
    dggs/rhombuslib.py;
    the reference's IVEA*/ISEA* DGGAL families are this projection
    class).  Oracle: independent single-node NumPy replay
    (.fixtures/e4r_pixel_index_16.parquet); equal-area itself is pinned
    by the Monte-Carlo uniformity battery in tests/test_dggs_e4r.py
    (640 cells statistically uniform where gnomonic i4r spreads 1.8×)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=11, dggs="e4r", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("e4r_11"),
        F.lower(F.hex("parent")).alias("e4r_03"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )


def q_compact_cells_e4r(spark, sf_dir):
    """A16 on the e4r equal-area diamond tree (id arithmetic shared
    with i4r): diamonds 0-7 emit all 16 res-2 cells, diamonds 8-9 drop
    cell (3,3); compact→uncompact returns the constructed set."""
    from raster2dggs_spark.operators.compaction import (
        compact_cells, uncompact_cells,
    )

    li = _t(spark, sf_dir, "lineitem")
    dv = li.groupBy((F.col("l_orderkey") % 10).alias("d")).agg(
        F.round(F.sum("l_extendedprice"), 4).alias("v"))
    k = (
        dv.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("c2", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .where(~((F.col("d") >= 8) & (F.col("r") == 3)
                 & (F.col("c2") == 3)))
    )
    cell = (
        F.shiftleft(F.col("d").cast("long"), 57)
        .bitwiseOR(F.lit(2 << 52))
        .bitwiseOR(F.shiftleft(F.col("r").cast("long"), 26))
        .bitwiseOR(F.col("c2").cast("long"))
    )
    df = k.select(cell.alias("cell"), "v")
    out = uncompact_cells(
        compact_cells(df, ["v"], res=2, min_res=0, dggs="e4r"),
        res=2, dggs="e4r",
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "v")



def q_e9r_pixel_index(spark, sf_dir):
    """Pixel indexing on e9r (round 6 — equal-area aperture-9 diamonds:
    e4r's slice-and-scale map × i9r's base-3 arithmetic).  Oracle:
    single-node replay fixture (.fixtures/e9r_pixel_index_16.parquet);
    equal-area pinned by the Monte-Carlo battery in
    tests/test_dggs_e9r.py."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 16, seed=42, size_range=(10, 16))
    out = index_point_agg(imgs, res=7, dggs="e9r", agg="mean")
    return out.select(
        F.lower(F.hex("cell")).alias("e9r_07"),
        F.lower(F.hex("parent")).alias("e9r_02"),
        F.col("npx").cast("long").alias("n_px"),
        *[_r4(f"band_{i}").alias(f"band_{i}") for i in range(1, 5)],
    )



def q_sample_bilinear_e4r(spark, sf_dir):
    """Sample transfer on the EQUAL-AREA e4r grid (round 6): exercises
    the equal-area cover + centroid inverse (Newton) + ownership +
    first-wins dedupe end-to-end; oracle-checked against the same
    independent single-node scalar-tap replay pattern as the
    hex7/s2/a5 siblings (.fixtures/sample_bilinear_e4r_24.parquet)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.sample import sample_cells
    from raster2dggs_spark.operators.indexing import to_reference_output

    imgs = images_spark_df(spark, 24, seed=42, size_range=(16, 24))
    return to_reference_output(
        sample_cells(imgs, res=9, kernel="bilinear", dggs="e4r"), "e4r", 9, 1
    )



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "agg_mean_sum_count": q_agg_mean_sum_count,
        "agg_minmax_range": q_agg_minmax_range,
        "agg_stats": q_agg_stats,
        "agg_percentiles": q_agg_percentiles,
        "skyline": q_skyline,
        "assoc_rules": q_assoc_rules,
        "agg_mode": q_agg_mode,
        "agg_majority": q_agg_majority,
        "agg_multi": q_agg_multi,
        "agg_list": q_agg_list,
        "hist_categorical": q_hist_categorical,
        "hist_binned": q_hist_binned,
        "hist_binned_edges": q_hist_binned_edges,
        "hist_normalized": q_hist_normalized,
        "weighted_mean": q_weighted_mean,
        "mass_preserve_sum": q_mass_preserve_sum,
        "majority_by_weight": q_majority_by_weight,
        "class_fractions": q_class_fractions,
        "crosstab": q_crosstab,
        "layer_corr": q_layer_corr,
        "gini": q_gini,
        "simplify_lines": q_simplify_lines,
        "vct": q_vct,
        "decimals": q_decimals,
        "dedupe_first": q_dedupe_first,
        "topk_window": q_topk_window,
        "pip_join": q_pip_join,
        "pip_join_geohash": q_pip_join_geohash,
        "pip_join_a5": q_pip_join_a5,
        "knn_join": q_knn_join,
        "knn_join_geohash": q_knn_join_geohash,
        "knn_join_i4r": q_knn_join_i4r,
        "within_distance": q_within_distance,
        "zonal_join": q_zonal_join,
        "terrain_derivatives": q_terrain_derivatives,
        "d8_flow": q_d8_flow,
        "flow_accumulation": q_flow_accumulation,
        "cost_distance": q_cost_distance,
        "least_cost_path": q_least_cost_path,
        "cost_allocation": q_cost_allocation,
        "cost_corridor": q_cost_corridor,
        "euclid_distance": q_euclid_distance,
        "euclid_allocation": q_euclid_allocation,
        "region_group": q_region_group,
        "contour": q_contour,
        "glcm": q_glcm,
        "zonal_diversity": q_zonal_diversity,
        "polygonize": q_polygonize,
        "contour_stitch": q_contour_stitch,
        "sieve": q_sieve,
        "flow_length": q_flow_length,
        "watershed_basins": q_watershed_basins,
        "horizon_angles": q_horizon_angles,
        "viewshed": q_viewshed,
        "zonal_geometry": q_zonal_geometry,
        "terrain_indices": q_terrain_indices,
        "solar": q_solar,
        "regrid_geohash_maidenhead": q_regrid_geohash_maidenhead,
        "focal_mean_geohash": q_focal_mean_geohash,
        "focal_mean_quadkey": q_focal_mean_quadkey,
        "morphology": q_morphology,
        "morans_i_local": q_morans_i_local,
        "morans_i_global": q_morans_i_global,
        "geary_c": q_geary_c,
        "pyramid_rollup": q_pyramid_rollup,
        "pansharpen": q_pansharpen,
        "getis_gi_star": q_getis_gi_star,
        "idw_grid": q_idw_grid,
        "kde_grid": q_kde_grid,
        "buffer_cells": q_buffer_cells,
        "emerging_hotspots": q_emerging_hotspots,
        "variogram": q_variogram,
        "focal_metric_points": q_focal_metric_points,
        "composite_best_quality": q_composite_best_quality,
        "composite_median": q_composite_median,
        "change_detection": q_change_detection,
        "trend": q_trend,
        "robust_trend": q_robust_trend,
        "harmonic_fit": q_harmonic_fit,
        "rasterize": q_rasterize,
        "warp": q_warp,
        "anomaly": q_anomaly,
        "interpolate_gaps": q_interpolate_gaps,
        "rolling_smooth": q_rolling_smooth,
        "line_cells_quadkey": q_line_cells_quadkey,
        "snap_points": q_snap_points,
        "line_intersect": q_line_intersect,
        "polyfill_quadkey": q_polyfill_quadkey,
        "polygon_overlay": q_polygon_overlay,
        "dbscan": q_dbscan,
        "od_matrix": q_od_matrix,
        "event_transitions": q_event_transitions,
        "cell_dwell": q_cell_dwell,
        "bm25": q_bm25,
        "rrf_fuse": q_rrf_fuse,
        "doc_similarity": q_doc_similarity,
        "sketch_distinct": q_sketch_distinct,
        "pagerank": q_pagerank,
        "sssp": q_sssp,
        "label_prop": q_label_prop,
        "sssp_multi": q_sssp_multi,
        "triangle_count": q_triangle_count,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hilbert_key": q_hilbert_key,
        "pii_stats": q_pii_stats,
        "dup_span_coverage": q_dup_span_coverage,
        "dedup_exact": q_dedup_exact,
        "phash_near_dup": q_phash_near_dup,
        "minhash_lsh": q_minhash_lsh,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_stats": q_token_stats,
        "chunk_documents": q_chunk_documents,
        "doc_fingerprint": q_doc_fingerprint,
        "pack_sequences": q_pack_sequences,
        "dedup_components": q_dedup_components,
        "dedup_keep_best": q_dedup_keep_best,
        "leakage_split": q_leakage_split,
        "tfidf_top_terms": q_tfidf_top_terms,
        "curate_docs": q_curate_docs,
        "hash_split": q_hash_split,
        "weighted_sample": q_weighted_sample,
        "stratified_sample": q_stratified_sample,
        "repetition_stats": q_repetition_stats,
        "decontaminate": q_decontaminate,
        "edit_dist_join": q_edit_dist_join,
        "embedding_knn": q_embedding_knn,
        "embedding_knn_ivf": q_embedding_knn_ivf,
        "knn_recall": q_knn_recall,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_knn_pq": q_embedding_knn_pq,
        "embedding_knn_ivfpq": q_embedding_knn_ivfpq,
        "embedding_knn_ivfpq_rerank": q_embedding_knn_ivfpq_rerank,
        "image_stats": q_image_stats,
        "image_thumbnails": q_image_thumbnails,
        "video_frame_stats": q_video_frame_stats,
        "audio_features": q_audio_features,
        "windowed_events": q_windowed_events,
        "zonal_windowed_events": q_zonal_windowed_events,
        "sessionize": q_sessionize,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "asof_join": q_asof_join,
        "asof_join_tol": q_asof_join_tol,
        "range_join": q_range_join,
        "sample_bilinear": q_sample_bilinear,
        "sample_bilinear_s2": q_sample_bilinear_s2,
        "sample_bilinear_a5": q_sample_bilinear_a5,
        "sample_bilinear_e4r": q_sample_bilinear_e4r,
        "sample_points_bilinear": q_sample_points_bilinear,
        "sample_points_bicubic": q_sample_points_bicubic,
        "sample_points_join": q_sample_points_join,
        "sample_cells_maidenhead": q_sample_cells_maidenhead,
        "maidenhead_pixel_index": q_maidenhead_pixel_index,
        "maidenhead_pixel_median": q_maidenhead_pixel_median,
        "rhp_pixel_index": q_rhp_pixel_index,
        "hist_area_normalized": q_hist_area_normalized,
        "overlay_weighted_mean": q_overlay_weighted_mean,
        "overlay_vct": q_overlay_vct,
        "overlay_majority": q_overlay_majority,
        "overlay_fractions": q_overlay_fractions,
        "overlay_list": q_overlay_list,
        "overlay_list_b2": q_overlay_list_multi,
        "point_list": q_point_list,
        "compact_cells": q_compact_cells,
        "compact_cells_geohash": q_compact_cells_geohash,
        "compact_cells_quadkey": q_compact_cells_quadkey,
        "compact_cells_a5": q_compact_cells_a5,
        "compact_cells_i4r": q_compact_cells_i4r,
        "compact_cells_3h": q_compact_cells_3h,
        "hex7_pixel_index": q_hex7_pixel_index,
        "i3h_pixel_index": q_i3h_pixel_index,
        "a5_pixel_index": q_a5_pixel_index,
        "i4r_pixel_index": q_i4r_pixel_index,
        "s2_pixel_index": q_s2_pixel_index,
        "s2_pixel_index_full": q_s2_pixel_index_full,
        "geohash_pixel_index": q_geohash_pixel_index,
        "quadkey_pixel_index": q_quadkey_pixel_index,
        "geotiff_pixel_index": q_geotiff_pixel_index,
        "i9r_pixel_index": q_i9r_pixel_index,
        "e4r_pixel_index": q_e4r_pixel_index,
        "e9r_pixel_index": q_e9r_pixel_index,
        "compact_cells_e4r": q_compact_cells_e4r,
        "compact_cells_i9r": q_compact_cells_i9r,
        "utm_pixel_index": q_utm_pixel_index,
        "sinusoidal_pixel_index": q_sinusoidal_pixel_index,
        "jpeg_pixel_index": q_jpeg_pixel_index,
        "polar_pixel_index": q_polar_pixel_index,
        "conic_pixel_index": q_conic_pixel_index,
        "sample_points_lanczos": q_sample_points_lanczos,
        "z7_roundtrip": q_z7_roundtrip,
    }


# --- generated oracle SQL helpers (identical arithmetic to the Spark ops) --

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_WORDS_CTE = (
    "w AS (SELECT DISTINCT doc_id, unnest(" + _TOKS + ") AS shingle FROM documents)"
)


def _phash_near_dup_sql(max_hamming: int = 3, nbits: int = 60) -> str:
    """Relational replay of q_phash_near_dup: same deterministic phash
    construction (manual hex decode of the shared md5), same canonical-
    per-identical-hash edges, same pigeonhole band join and popcount
    filter — DuckDB's >>, &, xor() and bit_count() are bit-identical to
    Spark's on positive int64."""
    n_bands = max_hamming + 1
    width = nbits // n_bands
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(g AS VARCHAR)), "
        f"{i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16))
    band_rows = ", ".join(f"({b})" for b in range(n_bands))

    def bkey(col, b):
        take = nbits - width * (n_bands - 1) if b == n_bands - 1 else width
        return f"(({col} >> {b * width}) & {(1 << take) - 1})"

    bkey_case = " ".join(
        f"WHEN {b} THEN {bkey('phash', b)}" for b in range(n_bands))
    return f"""
        WITH s AS (SELECT s_suppkey AS k FROM supplier),
        base0 AS (SELECT k, CAST(floor(k / 4.0) AS BIGINT) AS g,
                         k % 4 AS m FROM s),
        hx AS (SELECT k, g, m, CAST({hexval} AS BIGINT) AS base
               FROM base0),
        ph AS (SELECT concat('img_', lpad(CAST(k AS VARCHAR), 8, '0'))
                        AS image_id,
                      CASE m
                        WHEN 0 THEN base
                        WHEN 1 THEN CASE WHEN g % 3 = 0 THEN base
                            ELSE xor(base, CAST(1 AS BIGINT)
                                           << CAST(g % 60 AS INT)) END
                        WHEN 2 THEN xor(xor(base,
                            CAST(1 AS BIGINT) << CAST(g % 60 AS INT)),
                            CAST(1 AS BIGINT)
                            << CAST((g * 7 + 13) % 60 AS INT))
                        ELSE xor(base, CAST(255 AS BIGINT)
                                       << CAST(g % 50 AS INT))
                      END AS phash
               FROM hx),
        canon AS (SELECT phash, min(image_id) AS canon_id
                  FROM ph GROUP BY phash),
        ident AS (SELECT c.canon_id AS id_a, p.image_id AS id_b,
                         CAST(0 AS BIGINT) AS hamming
                  FROM ph p JOIN canon c USING (phash)
                  WHERE p.image_id != c.canon_id),
        bk AS (SELECT c.phash, c.canon_id, b.b AS band,
                      CASE b.b {bkey_case} END AS bkey
               FROM canon c, (VALUES {band_rows}) b(b)),
        cand AS (SELECT DISTINCT a.phash AS pa, b.phash AS pb
                 FROM bk a JOIN bk b
                   ON a.band = b.band AND a.bkey = b.bkey
                      AND a.phash < b.phash),
        near AS (SELECT ca.canon_id AS id_a, cb.canon_id AS id_b,
                        CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
                 FROM cand
                 JOIN canon ca ON ca.phash = cand.pa
                 JOIN canon cb ON cb.phash = cand.pb
                 WHERE bit_count(xor(pa, pb)) <= {max_hamming})
        SELECT * FROM ident UNION ALL SELECT * FROM near
    """


def _simhash_sql(bits: int = 32) -> str:
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    bit_sums = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
        WITH {_WORDS_CTE},
        h AS (SELECT doc_id, ({hexval}) AS hv FROM w),
        s AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s
    """


def _minhash_sql(n_hashes: int = 8, bands: int = 4,
                 max_bucket: int = 1000) -> str:
    rows = n_hashes // bands
    mins = ", ".join(
        f"min(md5(concat('{i}|', shingle))) AS mh_{i}" for i in range(n_hashes)
    )
    bucket_selects = []
    for b in range(bands):
        parts = ", '#', ".join(f"mh_{b * rows + r}" for r in range(rows))
        bucket_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat({parts})) AS bkey FROM sig"
        )
    buckets = " UNION ALL ".join(bucket_selects)
    return f"""
        WITH {_WORDS_CTE},
        sig AS (SELECT doc_id, {mins} FROM w GROUP BY doc_id),
        buckets0 AS ({buckets}),
        buckets AS (SELECT * FROM buckets0
                    QUALIFY count(*) OVER (PARTITION BY band, bkey)
                            <= {max_bucket})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    """


def _dedup_components_sql(n_hashes: int = 16, bands: int = 2,
                          max_bucket: int = 1000) -> str:
    """DuckDB twin of q_dedup_components: the same minhash→LSH pair
    pipeline (1-in-5 doc subset, 8-row bands — see the query docstring),
    then the transitive closure as a recursive CTE (reach = every label
    reachable from a vertex; component = min) — the exact fixpoint
    Spark's hash-to-min iteration must converge to."""
    rows = n_hashes // bands
    mins = ", ".join(
        f"min(md5(concat('{i}|', shingle))) AS mh_{i}" for i in range(n_hashes)
    )
    bucket_selects = []
    for b in range(bands):
        parts = ", '#', ".join(f"mh_{b * rows + r}" for r in range(rows))
        bucket_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat({parts})) AS bkey FROM sig"
        )
    buckets = " UNION ALL ".join(bucket_selects)
    words = ("w AS (SELECT DISTINCT doc_id, unnest(" + _TOKS
             + ") AS shingle FROM documents WHERE doc_id % 5 = 0)")
    return f"""
        WITH RECURSIVE {words},
        sig AS (SELECT doc_id, {mins} FROM w GROUP BY doc_id),
        buckets0 AS ({buckets}),
        buckets AS (SELECT * FROM buckets0
                    QUALIFY count(*) OVER (PARTITION BY band, bkey)
                            <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(v, l) AS (
          SELECT doc_id, doc_id FROM documents WHERE doc_id % 5 = 0
          UNION
          SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
        comp AS (SELECT v AS doc_id, min(l) AS component
                 FROM reach GROUP BY v),
        sizes AS (SELECT component, count(*) AS component_size
                  FROM comp GROUP BY component)
        SELECT c.doc_id, c.component,
               CAST(s.component_size AS BIGINT) AS component_size,
               c.doc_id = c.component AS is_canonical
        FROM comp c JOIN sizes s USING (component)
    """


def _dedup_keep_best_sql(n_hashes: int = 16, bands: int = 2,
                         max_bucket: int = 1000) -> str:
    """DuckDB twin of q_dedup_keep_best: the dedup_components closure
    pipeline plus the per-component (score DESC, id ASC) argmax."""
    base = _dedup_components_sql(n_hashes, bands, max_bucket)
    # reuse everything up to (and including) the comp CTE, then swap
    # the finale for the argmax selection
    cut = base.index("sizes AS")
    head = base[:cut]
    return head + """scored AS (
          SELECT c.doc_id, c.component,
                 CAST((c.doc_id * 17) % 101 AS DOUBLE) AS score
          FROM comp c),
        best AS (
          SELECT component, doc_id AS best_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (PARTITION BY component
                     ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored) t WHERE rn = 1)
        SELECT s.doc_id, s.component, s.score,
               s.doc_id = b.best_id AS is_kept
        FROM scored s JOIN best b USING (component)
    """


def _leakage_split_sql(n_hashes: int = 16, bands: int = 2,
                       max_bucket: int = 1000) -> str:
    """DuckDB twin of q_leakage_split: the closure pipeline + the
    hash_split bucket arithmetic applied to the COMPONENT id."""
    base = _dedup_components_sql(n_hashes, bands, max_bucket)
    cut = base.index("sizes AS")
    head = base[:cut]
    hexv = " + ".join(
        "(strpos('0123456789abcdef', substr(md5(CAST(component"
        f" AS VARCHAR)), {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9))
    return head + f"""bk AS (
          SELECT doc_id, component,
                 ({hexv}) % 10000 AS bucket
          FROM comp)
        SELECT doc_id, component, CAST(bucket AS BIGINT) AS bucket,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM bk
    """


def _curate_sql(min_quality: float = 0.5, buckets: int = 10_000) -> str:
    """DuckDB twin of q_curate_docs: the quality formula, the dedup over
    survivors, the canonical filter and the md5-bucket split composed
    with the operator's exact ordering semantics."""
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
        f"{i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""
        WITH t AS (
          SELECT doc_id, text, length(text) AS n_chars,
                 len({_TOKS}) AS n_tokens,
                 length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                     AS n_alnum,
                 length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces,
                 {_TOKS} AS toks
          FROM documents),
        f AS (
          SELECT doc_id, text,
                 CASE WHEN n_chars > 0
                      THEN (n_chars - n_alnum - n_spaces) / n_chars
                      ELSE 0.0 END AS punct_ratio,
                 n_tokens,
                 (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END)
                     AS stop_hits
          FROM t),
        q AS (
          SELECT doc_id, text,
                 round(least(n_tokens / 100.0, 1.0) * 0.4
                       + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
                       + least(stop_hits / 3.0, 1.0) * 0.3, 6) AS quality
          FROM f),
        surv AS (SELECT * FROM q WHERE quality >= {min_quality}),
        g AS (SELECT md5(text) AS h, min(doc_id) AS canonical_id,
                     count(*) AS group_size
              FROM surv GROUP BY md5(text)),
        canon AS (
          SELECT s.doc_id, s.quality, g.group_size
          FROM surv s JOIN g ON md5(s.text) = g.h
          WHERE s.doc_id = g.canonical_id),
        b AS (SELECT doc_id, ({hexval}) % {buckets} AS bucket FROM canon)
        SELECT c.doc_id, c.quality, CAST(c.group_size AS BIGINT)
                   AS group_size,
               CAST(b.bucket AS BIGINT) AS bucket,
               CASE WHEN b.bucket < {int(round(0.9 * buckets))} THEN 'train'
                    WHEN b.bucket < {int(round(0.95 * buckets))} THEN 'val'
                    ELSE 'test' END AS split
        FROM canon c JOIN b USING (doc_id)
    """


def _hash_split_sql(buckets: int = 10_000) -> str:
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
        f"{i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""
        WITH b AS (SELECT doc_id, ({hexval}) % {buckets} AS bucket
                   FROM documents)
        SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
               CASE WHEN bucket < {int(round(0.9 * buckets))} THEN 'train'
                    WHEN bucket < {int(round(0.95 * buckets))} THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """


def _pack_sql(seq_len: int = 512, shards: int = 16) -> str:
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(mk, {i}, 1)) - 1) "
        f"* {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""
        WITH t AS (
          SELECT doc_id, md5('pack:' || CAST(doc_id AS VARCHAR)) AS mk,
                 CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                      AS BIGINT) AS n_tokens
          FROM documents),
        s AS (SELECT *, ({hexval}) % {shards} AS shard FROM t),
        c AS (SELECT doc_id, shard, n_tokens,
                     sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY mk, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS e
              FROM s)
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
               CAST(e - n_tokens AS BIGINT) AS start_tok,
               CAST((e - n_tokens) // {seq_len} AS BIGINT) AS first_seq,
               CAST(greatest(e - n_tokens, e - 1) // {seq_len} AS BIGINT)
                   AS last_seq,
               CAST(CASE WHEN n_tokens > 0 THEN
                      greatest(e - n_tokens, e - 1) // {seq_len}
                      - (e - n_tokens) // {seq_len} + 1
                    ELSE 0 END AS BIGINT) AS n_seqs
        FROM c
    """


_REPETITION_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    uni AS (SELECT doc_id, unnest(toks) AS g FROM t),
    ucnt AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY doc_id, g),
    uper AS (SELECT doc_id, max(c) AS mx, sum(c) AS total,
                    count(*) AS dn
             FROM ucnt GROUP BY doc_id),
    utop AS (SELECT u.doc_id, min(u.g) AS top_token
             FROM ucnt u JOIN uper p
               ON u.doc_id = p.doc_id AND u.c = p.mx
             GROUP BY u.doc_id),
    big AS (SELECT doc_id, toks[s.i] || ' ' || toks[s.i + 1] AS g
            FROM t, unnest(generate_series(1, len(toks) - 1)) s(i)
            WHERE len(toks) >= 2),
    bcnt AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g),
    bper AS (SELECT doc_id, max(c) AS mx, sum(c) AS total,
                    count(*) AS dn
             FROM bcnt GROUP BY doc_id),
    btop AS (SELECT b.doc_id, min(b.g) AS top_bigram
             FROM bcnt b JOIN bper p
               ON b.doc_id = p.doc_id AND b.c = p.mx
             GROUP BY b.doc_id)
    SELECT u.doc_id,
           CAST(u.total AS BIGINT) AS n_tokens,
           ut.top_token,
           round(u.mx / u.total, 6) AS top_token_frac,
           round((u.total - u.dn) / u.total, 6) AS dup_token_frac,
           CAST(b.total AS BIGINT) AS n_bigrams,
           bt.top_bigram,
           round(b.mx / b.total, 6) AS top_bigram_frac,
           round((b.total - b.dn) / b.total, 6) AS dup_bigram_frac
    FROM uper u
    JOIN utop ut ON ut.doc_id = u.doc_id
    JOIN bper b ON b.doc_id = u.doc_id
    JOIN btop bt ON bt.doc_id = u.doc_id
"""


def _decontaminate_sql(n: int = 5, buckets: int = 10_000) -> str:
    """Relational twin of q_decontaminate: hash_split's md5-hex bucket
    arithmetic verbatim, n-gram shingling by list slicing, one overlap
    join against the eval split's distinct gram set."""
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
        f"{i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    gram = " || ' ' || ".join(f"toks[u.i + {j}]" for j in range(n))
    return f"""
        WITH lab AS (SELECT doc_id,
                            ({hexval}) % {buckets} AS bucket
                     FROM documents),
        tok AS (SELECT d.doc_id,
                       CASE WHEN lab.bucket < {int(round(0.95 * buckets))}
                            THEN 'train' ELSE 'test' END AS s,
                       {_TOKS} AS toks
                FROM documents d JOIN lab USING (doc_id)),
        ng AS (SELECT DISTINCT doc_id, s, {gram} AS shingle
               FROM tok, unnest(generate_series(1, len(toks) - {n - 1}))
                    u(i)
               WHERE len(toks) >= {n}),
        ev AS (SELECT DISTINCT shingle FROM ng WHERE s = 'test'),
        tr AS (SELECT doc_id, shingle FROM ng WHERE s = 'train'),
        tot AS (SELECT doc_id, count(*) AS total_ngrams
                FROM tr GROUP BY doc_id),
        hit AS (SELECT tr.doc_id, count(*) AS matched_ngrams
                FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
        SELECT tot.doc_id,
               CAST(tot.total_ngrams AS BIGINT) AS total_ngrams,
               CAST(hit.matched_ngrams AS BIGINT) AS matched_ngrams,
               round(hit.matched_ngrams / tot.total_ngrams, 6)
                   AS contaminated_frac
        FROM tot JOIN hit USING (doc_id)
    """


def _stratified_sample_sql(buckets: int = 10_000) -> str:
    """DuckDB twin of q_stratified_sample: the language CTE is the
    lang_id twin verbatim; the keep rule replays the md5-bucket
    threshold on doc_id ++ '|sample'."""
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) "
        f"|| '|sample'), {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""
        WITH L AS ({_lang_id_sql()}),
        b AS (SELECT doc_id, lang_guess, ({hexval}) % {buckets} AS bucket
              FROM L)
        SELECT doc_id, lang_guess FROM b
        WHERE bucket < CASE lang_guess
                         WHEN 'en' THEN {int(round(0.25 * buckets))}
                         WHEN 'fr' THEN {int(round(0.5 * buckets))}
                         ELSE {buckets} END
    """


def _video_frame_stats_sql(n_videos: int = 24, n_samples: int = 4) -> str:
    """DuckDB twin of q_video_frame_stats: the per-video dims come from
    the deterministic generator (embedded as VALUES); pixel values are
    recomputed from the integer closed form, so mean/min/max are
    bit-exact."""
    from raster2dggs_spark.sources.media import generate_videos_pdf

    pdf = generate_videos_pdf(n_videos, seed=42)
    vals = ", ".join(
        f"({i}, {r.n_frames}, {r.h}, {r.w})"
        for i, r in enumerate(pdf.itertuples(index=False))
    )
    return f"""
        WITH v(vid, t_cnt, hh, ww) AS (VALUES {vals}),
        fidx AS (
          SELECT DISTINCT vid, t_cnt, hh, ww,
                 (j.j * t_cnt) // {n_samples} AS t
          FROM v, unnest(generate_series(0, {n_samples - 1})) AS j(j)),
        px AS (
          SELECT vid, t, hh, ww,
                 (t * 7919 + r.r * 104729 + c.c * 1299709 + vid * 31) % 251
                     AS val
          FROM fidx,
               unnest(generate_series(0, hh - 1)) AS r(r),
               unnest(generate_series(0, ww - 1)) AS c(c))
        SELECT printf('vid_%04d', vid) AS video_id,
               CAST(t AS BIGINT) AS frame_idx,
               CAST(hh AS BIGINT) AS h, CAST(ww AS BIGINT) AS w,
               round(avg(CAST(val AS DOUBLE)), 4) AS f_mean,
               CAST(min(val) AS BIGINT) AS f_min,
               CAST(max(val) AS BIGINT) AS f_max
        FROM px GROUP BY vid, t, hh, ww
    """


def _audio_features_sql(n_clips: int = 16, window: int = 1024) -> str:
    """DuckDB twin of q_audio_features: per-clip lengths embedded as
    VALUES; samples recomputed from the integer closed form; RMS =
    sqrt(Σx²/window) with exact integer sums, zero crossings via lead()
    within the window."""
    from raster2dggs_spark.sources.media import generate_audio_pdf

    pdf = generate_audio_pdf(n_clips, seed=42)
    vals = ", ".join(
        f"({i}, {r.n_samples})" for i, r in enumerate(pdf.itertuples(index=False))
    )
    return f"""
        WITH a(aid, n) AS (VALUES {vals}),
        s AS (
          SELECT aid, i.i AS i, i.i // {window} AS win,
                 (i.i * 7919 + aid * 104729 + 12345) % 65536 - 32768 AS x
          FROM a, unnest(generate_series(0, (n // {window}) * {window} - 1))
               AS i(i)),
        p AS (SELECT aid, win, i, x,
                     lead(x) OVER (PARTITION BY aid, win ORDER BY i) AS nx
              FROM s)
        SELECT printf('aud_%04d', aid) AS audio_id,
               CAST(win AS BIGINT) AS win_idx,
               round(sqrt(sum(x * x) / {float(window)}), 6) AS rms,
               CAST(sum(CASE WHEN x * nx < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_crossings,
               CAST(max(abs(x)) AS BIGINT) AS peak
        FROM p GROUP BY aid, win
    """


def _lang_id_sql() -> str:
    from raster2dggs_spark.operators.text import LANG_MARKERS

    selects = []
    for lg in sorted(LANG_MARKERS):
        hits = " + ".join(
            f"CASE WHEN list_contains(toks, '{wrd}') THEN 1 ELSE 0 END"
            for wrd in LANG_MARKERS[lg]
        )
        selects.append(f"SELECT doc_id, '{lg}' AS lg, ({hits}) AS h FROM t")
    union = " UNION ALL ".join(selects)
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS ({union})
        SELECT doc_id, lg AS lang_guess, CAST(h AS BIGINT) AS lang_hits FROM s
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lg ASC) = 1
    """


def _maidenhead_sql() -> str:
    """DuckDB twin of q_maidenhead_pixel_index: generate_series pixel
    grid → the SAME float ops as geo.apply_affine and
    maidenheadlib.lonlat_to_cell (mixed-radix digit peel) → group-mean.
    Bit-identical arithmetic on both engines, no fixture needed."""
    vals = ", ".join(
        f"({w}, {h}, {a}, {c}, {e}, {f})"
        for (_i, w, h, a, c, e, f) in _RAMP_SPECS
    )
    return f"""
        WITH imgs(w, h, a, c, e, f) AS (VALUES {vals}),
        px AS (
          SELECT a * (cc.col + 0.5) + c AS lon,
                 e * (r.row + 0.5) + f AS lat,
                 CAST(r.row * i.w + cc.col AS DOUBLE) AS v
          FROM imgs i,
               unnest(generate_series(0, i.h - 1)) AS r(row),
               unnest(generate_series(0, i.w - 1)) AS cc(col)),
        d0 AS (
          SELECT v,
                 least(greatest((lon + 180.0) / 360.0, 0.0),
                       0.9999999999999999) AS rx,
                 least(greatest((lat + 90.0) / 180.0, 0.0),
                       0.9999999999999999) AS ry
          FROM px),
        d1 AS (SELECT v, floor(rx * 18) AS ax, rx * 18 - floor(rx * 18) AS fx,
                      floor(ry * 18) AS ay, ry * 18 - floor(ry * 18) AS fy
               FROM d0),
        d2 AS (SELECT v, ax, ay,
                      floor(fx * 10) AS bx, fx * 10 - floor(fx * 10) AS gx,
                      floor(fy * 10) AS by, fy * 10 - floor(fy * 10) AS gy
               FROM d1),
        d3 AS (SELECT v, ax, ay, bx, by,
                      floor(gx * 24) AS cx, floor(gy * 24) AS cy
               FROM d2),
        s AS (SELECT chr(65 + CAST(ax AS INT)) || chr(65 + CAST(ay AS INT))
                     || CAST(CAST(bx AS INT) AS VARCHAR)
                     || CAST(CAST(by AS INT) AS VARCHAR)
                     || chr(97 + CAST(cx AS INT)) || chr(97 + CAST(cy AS INT))
                         AS mh_03,
                     chr(65 + CAST(ax AS INT)) || chr(65 + CAST(ay AS INT))
                         AS mh_01,
                     v
              FROM d3)
        SELECT mh_03, mh_01, CAST(count(*) AS BIGINT) AS n_px,
               round(avg(v), 4) AS v
        FROM s GROUP BY mh_03, mh_01
    """


def _sample_cells_mh_sql() -> str:
    """DuckDB twin of q_sample_cells_maidenhead: per image, enumerate
    candidate cells from the pixel grid (every owned cell contains pixel
    centers — cells are ~6x wider than pixels), recompute the closed-form
    centroid via maidenheadlib.cell_to_lonlat's float sequence, apply the
    bbox + nearest-pixel-ownership filters, then the bilinear kernel with
    the reference's valid-tap renormalization (linear ramp ⇒ tap values
    are row*w+col)."""
    import math

    EPS1 = repr(math.nextafter(1.0, 0.0))
    S3 = repr(360.0 / 18.0 / 10.0 / 24.0)  # subsquare lon span (deg)
    T3 = repr(180.0 / 18.0 / 10.0 / 24.0)  # subsquare lat span (deg)
    vals = ", ".join(
        f"({i}, {w}, {h}, {a}, {c}, {e}, {f})"
        for i, (_n, w, h, a, c, e, f) in enumerate(_RAMP_SPECS)
    )
    # one bilinear tap: (dr, dc) in {0,1}^2
    taps = []
    for dr in (0, 1):
        for dc in (0, 1):
            taps.append(f"""
                 CASE WHEN r0 + {dr} >= 0 AND r0 + {dr} < h
                           AND c0 + {dc} >= 0 AND c0 + {dc} < w
                      THEN (1.0 - abs(col_f - (c0 + {dc})))
                           * (1.0 - abs(row_f - (r0 + {dr}))) ELSE 0.0
                 END AS w{dr}{dc},
                 CAST((r0 + {dr}) * w + (c0 + {dc}) AS DOUBLE) AS v{dr}{dc},
                 CASE WHEN r0 + {dr} >= 0 AND r0 + {dr} < h
                           AND c0 + {dc} >= 0 AND c0 + {dc} < w
                      THEN 1 ELSE 0 END AS k{dr}{dc}""")
    tap_sql = ",".join(taps)
    wsum = " + ".join(f"w{dr}{dc}" for dr in (0, 1) for dc in (0, 1))
    nval = " + ".join(f"k{dr}{dc}" for dr in (0, 1) for dc in (0, 1))
    num = " + ".join(f"w{dr}{dc} * v{dr}{dc}" for dr in (0, 1) for dc in (0, 1))
    return f"""
        WITH imgs(img, w, h, a, c, e, f) AS (VALUES {vals}),
        px AS (
          SELECT i.img, i.w, i.h, i.a, i.c, i.e, i.f,
                 i.a * (cc.col + 0.5) + i.c AS lon,
                 i.e * (r.row + 0.5) + i.f AS lat
          FROM imgs i,
               unnest(generate_series(0, i.h - 1)) AS r(row),
               unnest(generate_series(0, i.w - 1)) AS cc(col)),
        d0 AS (SELECT *,
                 least(greatest((lon + 180.0) / 360.0, 0.0), {EPS1}) AS rx,
                 least(greatest((lat + 90.0) / 180.0, 0.0), {EPS1}) AS ry
               FROM px),
        d1 AS (SELECT *, floor(rx * 18) AS ax, rx * 18 - floor(rx * 18) AS fx,
                      floor(ry * 18) AS ay, ry * 18 - floor(ry * 18) AS fy
               FROM d0),
        d2 AS (SELECT *, floor(fx * 10) AS bx, fx * 10 - floor(fx * 10) AS gx,
                      floor(fy * 10) AS by, fy * 10 - floor(fy * 10) AS gy
               FROM d1),
        digs AS (SELECT DISTINCT img, w, h, a, c, e, f, ax, ay, bx, by,
                        floor(gx * 24) AS cx, floor(gy * 24) AS cy
                 FROM d2),
        -- closed-form centroid, mirroring maidenheadlib.cell_to_lonlat
        cen AS (
          SELECT *,
                 (ax * 20.0 + bx * 2.0 + cx * {S3}) + {S3} / 2.0 - 180.0
                     AS clon,
                 (ay * 10.0 + by * 1.0 + cy * {T3}) + {T3} / 2.0 - 90.0
                     AS clat
          FROM digs),
        -- tile bbox (center-in, like cover_bbox) + fractional pixel coords
        pos AS (
          SELECT *,
                 (clon - c) / a - 0.5 AS col_f,
                 (clat - f) / e - 0.5 AS row_f
          FROM cen
          WHERE clon >= least(c, a * w + c)
            AND clon < greatest(c, a * w + c)
            AND clat >= least(f, e * h + f)
            AND clat < greatest(f, e * h + f)),
        own AS (
          SELECT * FROM pos
          WHERE floor(col_f + 0.5) >= 0 AND floor(col_f + 0.5) < w
            AND floor(row_f + 0.5) >= 0 AND floor(row_f + 0.5) < h),
        stencil AS (
          SELECT *, CAST(floor(col_f) AS BIGINT) AS c0,
                 CAST(floor(row_f) AS BIGINT) AS r0
          FROM own),
        tapped AS (SELECT *, {tap_sql} FROM stencil),
        valued AS (
          SELECT *,
                 CASE WHEN ({nval}) >= 2 AND abs({wsum}) >= 1e-12
                      THEN round(({num}) / ({wsum}), 4) END AS v
          FROM tapped)
        SELECT chr(65 + CAST(ax AS INT)) || chr(65 + CAST(ay AS INT))
               || CAST(CAST(bx AS INT) AS VARCHAR)
               || CAST(CAST(by AS INT) AS VARCHAR)
               || chr(97 + CAST(cx AS INT)) || chr(97 + CAST(cy AS INT))
                   AS mh_03,
               chr(65 + CAST(ax AS INT)) || chr(65 + CAST(ay AS INT))
                   AS mh_01,
               v
        FROM valued
    """


def _maidenhead_median_sql() -> str:
    """Same encode replay as _maidenhead_sql, but the holistic median
    (twin of the raw-pixel-path index_point(agg='median'))."""
    base = _maidenhead_sql()
    head, _, _tail = base.rpartition("SELECT mh_03")
    return head + """SELECT mh_03, mh_01, round(median(v), 4) AS v
        FROM s GROUP BY mh_03, mh_01
    """


def _quadkey_sql(res: int = 6, parent: int = 2) -> str:
    """DuckDB twin of q_quadkey_pixel_index: lon quantize + Mercator
    ln/tan quantize + base-4 digit render, mirroring
    dggs/quadkeylib.py's float expression tree term by term."""
    n = 1 << res
    phi = ("radians(least(greatest(lat_deg, -85.05112878), "
           "85.05112878))")
    fy = f"(1.0 - ln(tan({phi}) + 1.0 / cos({phi})) / pi()) / 2.0"
    digits = " || ".join(
        f"CAST(2 * ((ty >> {res - 1 - i}) & 1)"
        f" + ((tx >> {res - 1 - i}) & 1) AS VARCHAR)"
        for i in range(res))
    pdigits = " || ".join(
        f"CAST(2 * ((ty >> {res - 1 - i}) & 1)"
        f" + ((tx >> {res - 1 - i}) & 1) AS VARCHAR)"
        for i in range(parent))
    return f"""
        WITH {_ramp_px_sql()},
        t AS (SELECT v,
                CAST(least(greatest(
                    floor(((lon_deg + 180.0) / 360.0) * {float(n)!r}),
                    0), {n - 1}) AS BIGINT) AS tx,
                CAST(least(greatest(
                    floor(({fy}) * {float(n)!r}),
                    0), {n - 1}) AS BIGINT) AS ty
              FROM px),
        s AS (SELECT v, {digits} AS qk_{res:02d}, {pdigits} AS qk_{parent:02d}
              FROM t)
        SELECT qk_{res:02d}, qk_{parent:02d}, CAST(count(*) AS BIGINT)
                   AS n_px,
               round(avg(v), 4) AS v
        FROM s GROUP BY qk_{res:02d}, qk_{parent:02d}
    """


def _geohash_sql(res: int = 6, parent: int = 3) -> str:
    """DuckDB twin of q_geohash_pixel_index — BIT-EXACT: quantize the
    clipped lon/lat fractions to 2^nlon/2^nlat, interleave (even bit
    positions = lon), base-32 chars; no transcendentals anywhere, so both
    engines compute identical ids unconditionally."""
    import math

    EPS1 = repr(math.nextafter(1.0, 0.0))
    nbits = 5 * res
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon_terms = " | ".join(
        f"(((ix >> {nlon - 1 - j}) & 1) << {nbits - 1 - 2 * j})"
        for j in range(nlon)
    )
    lat_terms = " | ".join(
        f"(((iy >> {nlat - 1 - j}) & 1) << {nbits - 2 - 2 * j})"
        for j in range(nlat)
    )
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"CAST((bits >> {nbits - 5 * (i + 1)}) & 31 AS INT) + 1, 1)"
        for i in range(res)
    )
    return f"""
        WITH {_ramp_px_sql()},
        q AS (SELECT v,
                CAST(floor(least(greatest((lon_deg + 180.0) / 360.0, 0.0),
                                 {EPS1}) * {float(1 << nlon)!r}) AS BIGINT)
                    AS ix,
                CAST(floor(least(greatest((lat_deg + 90.0) / 180.0, 0.0),
                                 {EPS1}) * {float(1 << nlat)!r}) AS BIGINT)
                    AS iy
              FROM px),
        b AS (SELECT v, ({lon_terms} | {lat_terms}) AS bits FROM q),
        s AS (SELECT v, {chars} AS geohash_06 FROM b)
        SELECT geohash_06, substr(geohash_06, 1, {parent}) AS geohash_03,
               CAST(count(*) AS BIGINT) AS n_px, round(avg(v), 4) AS v
        FROM s GROUP BY geohash_06
    """


def _rhp_consts():
    import math

    return {
        "PI": repr(math.pi), "TWOPI": repr(2.0 * math.pi),
        "HALF": repr(math.pi / 2.0), "QUART": repr(math.pi / 4.0),
        "Y_EQ": repr(3.0 * math.pi / 8.0),
        "TOP_N": repr(3.0 * (math.pi / 4.0)),
        "D2R": repr(math.pi / 180.0), "TWO3": repr(2.0 / 3.0),
        "EPS1": repr(math.nextafter(1.0, 0.0)),
    }


def _rhp_chain_sql(res: int, carry: list[str]) -> str:
    """CTE chain (rad -> d{res}) encoding (lon_deg, lat_deg) to rHEALPix
    base-9 bits, mirroring dggs/rhplib.py float op for float op.  Expects
    an upstream CTE ``px`` with columns (lon_deg, lat_deg, *carry);
    yields ``d{res}`` with (*carry, bits)."""
    K = _rhp_consts()
    PI, TWOPI, HALF, QUART = K["PI"], K["TWOPI"], K["HALF"], K["QUART"]
    Y_EQ, TOP_N, D2R, TWO3, EPS1 = (K["Y_EQ"], K["TOP_N"], K["D2R"],
                                    K["TWO3"], K["EPS1"])
    cols = ", ".join(carry)
    peel = []
    for i in range(1, res + 1):
        peel.append(f"""
        d{i} AS (SELECT {cols}, bits * 9
                        + CAST(floor(vv{i - 1} * 3.0) AS BIGINT) * 3
                        + CAST(floor(uu{i - 1} * 3.0) AS BIGINT) AS bits,
                        uu{i - 1} * 3.0 - floor(uu{i - 1} * 3.0) AS uu{i},
                        vv{i - 1} * 3.0 - floor(vv{i - 1} * 3.0) AS vv{i}
                 FROM d{i - 1})""")
    peel_sql = ",".join(peel)
    return f"""
        rad AS (
          SELECT {cols},
                 ((lon_deg * {D2R}) + {PI}) % {TWOPI} - {PI} AS lon,
                 lat_deg * {D2R} AS lat
          FROM px),
        pr0 AS (SELECT {cols}, lon, lat, sin(lat) AS sl FROM rad),
        prj AS (
          SELECT {cols}, lon, lat, sl,
                 CASE WHEN abs(sl) <= {TWO3} THEN lon
                      ELSE (-{PI} + (least(greatest(floor((lon + {PI}) / {HALF}), 0.0), 3.0) + 0.5) * {HALF})
                           + (lon - (-{PI} + (least(greatest(floor((lon + {PI}) / {HALF}), 0.0), 3.0) + 0.5) * {HALF}))
                             * sqrt(3.0 * (1.0 - abs(sl))) END AS hx,
                 CASE WHEN abs(sl) <= {TWO3} THEN {Y_EQ} * sl
                      ELSE (CASE WHEN lat > 0 THEN 1.0 WHEN lat < 0 THEN -1.0 ELSE 0.0 END * {QUART})
                           * (2.0 - sqrt(3.0 * (1.0 - abs(sl)))) END AS hy
          FROM pr0),
        cmb0 AS (
          SELECT {cols}, hx, hy,
                 CASE WHEN hy > {QUART} THEN 1 WHEN hy < -{QUART} THEN -1
                      ELSE 0 END AS zone,
                 CAST(least(greatest(floor((hx + {PI}) / {HALF}), 0.0), 3.0)
                      AS BIGINT) AS c2
          FROM prj),
        cmb1 AS (
          SELECT {cols}, zone, hx, hy,
                 hx - (-{PI} + (CAST(c2 AS DOUBLE) + 0.5) * {HALF}) AS dx,
                 hy - (CASE WHEN zone = 1 THEN {HALF}
                            WHEN zone = -1 THEN -{HALF} ELSE 0.0 END) AS dy,
                 CASE WHEN zone = 1 THEN c2 % 4
                      WHEN zone = -1 THEN ((-c2) % 4 + 4) % 4
                      ELSE 0 END AS k
          FROM cmb0),
        pl AS (
          SELECT {cols},
                 CASE WHEN zone = 0 THEN hx
                      ELSE (-{PI} + 0.5 * {HALF})
                           + (CASE k WHEN 0 THEN dx WHEN 1 THEN -dy
                                     WHEN 2 THEN -dx ELSE dy END) END AS x,
                 CASE WHEN zone = 0 THEN hy
                      ELSE (CASE WHEN zone = 1 THEN {HALF} ELSE -{HALF} END)
                           + (CASE k WHEN 0 THEN dy WHEN 1 THEN dx
                                     WHEN 2 THEN -dy ELSE -dx END) END AS y
          FROM cmb1),
        fc AS (
          SELECT {cols}, x, y,
                 CASE WHEN y > {QUART} THEN 0
                      WHEN y < -{QUART} THEN 5
                      ELSE 1 + CAST(least(greatest(floor((x + {PI}) / {HALF}),
                                                   0.0), 3.0) AS BIGINT)
                 END AS face
          FROM pl),
        fuv AS (
          SELECT {cols}, face,
                 least(greatest((x - (CASE WHEN face = 0 THEN -{PI}
                                           WHEN face = 5 THEN -{PI}
                                           ELSE -{PI} + (CAST(face - 1 AS DOUBLE)) * {HALF} END))
                                / {HALF}, 0.0), {EPS1}) AS uu0,
                 least(greatest(((CASE WHEN face = 0 THEN {TOP_N}
                                       WHEN face = 5 THEN -{QUART}
                                       ELSE {QUART} END) - y)
                                / {HALF}, 0.0), {EPS1}) AS vv0
          FROM fc),
        d0 AS (SELECT {cols}, face AS bits, uu0, vv0 FROM fuv),
        {peel_sql}"""


def _ramp_px_sql(value_expr: str = "CAST(r.row * i.w + cc.col AS DOUBLE) AS v") -> str:
    """px CTE over the ramp tiles: pixel-center coordinates mirroring
    geo.apply_affine, plus caller-chosen value columns."""
    vals = ", ".join(
        f"({w}, {h}, {a}, {c}, {e}, {f})"
        for (_i, w, h, a, c, e, f) in _RAMP_SPECS
    )
    return f"""
        imgs(w, h, a, c, e, f) AS (VALUES {vals}),
        px AS (
          SELECT a * (cc.col + 0.5) + c AS lon_deg,
                 e * (r.row + 0.5) + f AS lat_deg,
                 {value_expr}
          FROM imgs i,
               unnest(generate_series(0, i.h - 1)) AS r(row),
               unnest(generate_series(0, i.w - 1)) AS cc(col))"""


def _rhp_sql(res: int = 6, parent_res: int = 1) -> str:
    """DuckDB twin of q_rhp_pixel_index: HEALPix projection + rHEALPix
    (0,0) cap rearrangement + base-9 digit peel, mirroring
    dggs/rhplib.py's float expression tree term by term (constants are
    the repr of the NumPy doubles)."""
    return f"""
        WITH {_ramp_px_sql()},
        {_rhp_chain_sql(res, ["v"])},
        named AS (
          SELECT v, bits,
                 (bits // {9 ** (res - parent_res)}) AS pbits
          FROM d{res}),
        strs AS (
          SELECT v,
                 {_rhp_str_sql("bits", res)} AS rhp_06,
                 {_rhp_str_sql("pbits", parent_res)} AS rhp_01
          FROM named)
        SELECT rhp_06, rhp_01, CAST(count(*) AS BIGINT) AS n_px,
               round(avg(v), 4) AS v
        FROM strs GROUP BY rhp_06, rhp_01
    """


def _hist_area_sql(res: int = 5, bucket: float = 256.0) -> str:
    """DuckDB twin of q_hist_area_normalized: area-weighted value
    histogram per rhp cell, CELL_AREA-normalized by the exact equal-area
    constant.  Pixel areas replay geo.geodesic_row_areas_m2 (authalic
    band formula) float op for float op."""
    import math

    D2R = repr(math.pi / 180.0)
    # fl(R*R) precomputed (a plain literal would parse as DECIMAL and
    # overflow); identical double to NumPy's radius*radius
    R2 = repr(6371007.1809 * 6371007.1809)
    from raster2dggs_spark.dggs import rhplib

    cell_area = repr(float(rhplib.cell_area_m2(res)))
    value_expr = f"""
                 (({R2} * abs(abs(a) * {D2R}))
                  * abs(sin((f + e * r.row) * {D2R})
                        - sin((f + e * (r.row + 1.0)) * {D2R}))) AS area,
                 floor(CAST(r.row * i.w + cc.col AS DOUBLE) / {bucket!r})
                     * {bucket!r} AS cls"""
    return f"""
        WITH {_ramp_px_sql(value_expr)},
        {_rhp_chain_sql(res, ["area", "cls"])},
        g AS (SELECT bits, cls, sum(area) AS area
              FROM d{res} GROUP BY bits, cls)
        SELECT {_rhp_str_sql("bits", res)} AS rhp_05,
               cls AS class,
               round(area / {cell_area}, 6) AS area_frac
        FROM g
    """


def _rhp_str_sql(bits_col: str, res: int) -> str:
    """SQL expression turning packed base-9 bits into the suid string
    (face letter + digits), mirroring rhplib.cells_to_string."""
    parts = [f"substr('NOPQRS', CAST({bits_col} // {9 ** res} AS INT) + 1, 1)"]
    for i in range(res):
        parts.append(
            f"CAST(({bits_col} // {9 ** (res - 1 - i)}) % 9 AS VARCHAR)"
        )
    return " || ".join(parts)


def _s2_sql(level: int = 11, parent_level: int = 3) -> str:
    """DuckDB twin of q_s2_pixel_index: cube-face projection, quadratic
    ST, and the Hilbert position chain unrolled per level (inverse
    pos_to_ij + orientation-xor tables from s2geometry's coords.cc —
    identical to what s2lib's lookup tables batch)."""
    import math

    D2R = repr(math.pi / 180.0)
    pos_to_ij = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
    inv = {o: {ij: k for k, ij in enumerate(row)}
           for o, row in enumerate(pos_to_ij)}
    # orientation update: k=0 -> o^SWAP(1), k=3 -> o^(SWAP|INVERT)(3)
    xor1 = {0: 1, 1: 0, 2: 3, 3: 2}
    xor3 = {0: 3, 1: 2, 2: 1, 3: 0}
    steps = []
    for l in range(level):
        p = 29 - l
        k_expr = " ".join(
            f"WHEN o{l} = {o} AND ij = {ij} THEN {inv[o][ij]}"
            for o in range(4) for ij in range(4)
        )
        o_upd = (
            f"CASE k WHEN 0 THEN (CASE o{l} "
            + " ".join(f"WHEN {o} THEN {xor1[o]}" for o in range(4))
            + f" END) WHEN 3 THEN (CASE o{l} "
            + " ".join(f"WHEN {o} THEN {xor3[o]}" for o in range(4))
            + f" END) ELSE o{l} END"
        )
        steps.append(f"""
        h{l + 1} AS (
          SELECT v, face, i, j, pos{l} * 4 + k AS pos{l + 1},
                 {o_upd} AS o{l + 1}
          FROM (SELECT *, CASE {k_expr} END AS k
                FROM (SELECT *, ((i >> {p}) & 1) * 2 + ((j >> {p}) & 1)
                                AS ij FROM h{l})))""")
    chain = ",".join(steps)
    shift = 2 * (30 - level) + 1
    lsb = 1 << (2 * (30 - level))
    pshift = 2 * (30 - parent_level) + 1
    plsb = 1 << (2 * (30 - parent_level))
    pdrop = 2 * (level - parent_level)
    return f"""
        WITH {_ramp_px_sql()},
        xyz AS (
          SELECT v,
                 cos(lat_deg * {D2R}) * cos(lon_deg * {D2R}) AS x,
                 cos(lat_deg * {D2R}) * sin(lon_deg * {D2R}) AS y,
                 sin(lat_deg * {D2R}) AS z
          FROM px),
        fc0 AS (
          SELECT v, x, y, z,
                 CASE WHEN abs(x) >= abs(y)
                      THEN (CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END)
                      ELSE (CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END)
                 END AS f0
          FROM xyz),
        fc AS (
          SELECT v, x, y, z,
                 CASE WHEN (CASE f0 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
                      THEN f0 + 3 ELSE f0 END AS face
          FROM fc0),
        uv AS (
          SELECT v, face,
                 CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                           WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
                 CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                           WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS w
          FROM fc),
        st AS (
          SELECT v, face,
                 CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                      ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
                 CASE WHEN w >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * w)
                      ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * w) END AS t
          FROM uv),
        h0 AS (
          SELECT v, CAST(face AS BIGINT) AS face,
                 least(greatest(CAST(floor(s * 1073741824.0) AS BIGINT),
                                0), 1073741823) AS i,
                 least(greatest(CAST(floor(t * 1073741824.0) AS BIGINT),
                                0), 1073741823) AS j,
                 CAST(0 AS BIGINT) AS pos0,
                 CAST(face AS BIGINT) & 1 AS o0
          FROM st),
        {chain},
        hug AS (
          SELECT v,
                 CAST(face AS HUGEINT) * {1 << 61}
                 + CAST(pos{level} AS HUGEINT) * {1 << shift} + {lsb} AS hc,
                 CAST(face AS HUGEINT) * {1 << 61}
                 + CAST(pos{level} >> {pdrop} AS HUGEINT) * {1 << pshift}
                 + {plsb} AS hp
          FROM h{level}),
        ids AS (
          -- two's-complement wrap: ids with face >= 4 are negative int64
          -- (matching the engine's uint64-viewed-as-long convention)
          SELECT v,
                 CAST(CASE WHEN hc >= 9223372036854775808
                           THEN hc - 18446744073709551616 ELSE hc END
                      AS BIGINT) AS cell,
                 CAST(CASE WHEN hp >= 9223372036854775808
                           THEN hp - 18446744073709551616 ELSE hp END
                      AS BIGINT) AS parent
          FROM hug)
        SELECT printf('%x', cell) AS s2_{level:02d},
               printf('%x', parent) AS s2_{parent_level:02d},
               round(avg(v), 4) AS v
        FROM ids GROUP BY cell, parent
    """


def _compact_sql() -> str:
    """DuckDB twin of q_compact_cells: the same integer construction of
    hex7 res-8 ids; round-trip identity means Spark's compact→uncompact
    must return exactly this set."""
    base = (1 << 59) | (8 << 52) | ((1 << 21) - 1)
    return f"""
        WITH o AS (SELECT DISTINCT l_orderkey % 997 AS okey FROM lineitem),
        k AS (SELECT okey,
                     unnest(CASE WHEN okey % 2 = 0 THEN [0,1,2,3,4,5,6]
                                 ELSE [0,1,2] END) AS d8
              FROM o),
        cells AS (
          SELECT CAST(okey % 5 AS DOUBLE) AS v,
                 {base}
                 + (okey % 122) * {1 << 45}
                 + ((okey // 343) % 7) * {1 << 42}
                 + ((okey // 49) % 7) * {1 << 39}
                 + ((okey // 7) % 7) * {1 << 36}
                 + (okey % 7) * {1 << 33}
                 + d8 * {1 << 21} AS cell
          FROM k)
        SELECT printf('%x', cell) AS cell_hex, v FROM cells
    """


_COS = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})))")


def _ivf_sql(k: int = 5, n_probe: int = 4, kk: int = 12,
             iters: int = 3) -> str:
    """DuckDB twin of q_embedding_knn_ivf: replay the full k-means
    TRAINING (md5-smallest seeding, ``iters`` Lloyd iterations of
    assign → per-dimension mean rounded to 6dp → empty-cluster
    coalesce — exactly train_centroids' expression tree), then the
    assignment, per-query probes and in-bucket exact top-k — same
    tie-breaks as similarity.py."""
    tc = _COS.format(a="tv", b="cv")
    qc = _COS.format(a="qv", b="cv")
    qt = _COS.format(a="qv", b="tv")
    vc = _COS.format(a="v.vv", b="c.cv")
    lloyd = []
    for i in range(iters):
        lloyd.append(f"""
        a{i} AS (
          SELECT vec_id, c_id FROM (
            SELECT v.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {vc} DESC, c.c_id ASC) AS rn
            FROM v CROSS JOIN c{i} c) WHERE rn = 1),
        d{i} AS (
          SELECT a.c_id, s.i AS pos, avg(v.vv[s.i]) AS m
          FROM a{i} a JOIN v USING (vec_id),
               unnest(generate_series(1, len(v.vv))) AS s(i)
          GROUP BY a.c_id, s.i),
        n{i} AS (SELECT c_id, list(round(m, 6) ORDER BY pos) AS cv
                 FROM d{i} GROUP BY c_id),
        c{i + 1} AS (SELECT c.c_id, coalesce(n.cv, c.cv) AS cv
                     FROM c{i} c LEFT JOIN n{i} n USING (c_id))""")
    lloyd_sql = ",".join(lloyd)
    return f"""
        WITH t AS (SELECT vec_id AS t_id, embedding::DOUBLE[] AS tv
                   FROM embeddings),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
        c0 AS (
          SELECT CAST(row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS BIGINT)
                     AS c_id,
                 embedding::DOUBLE[] AS cv
          FROM embeddings
          QUALIFY row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {kk}),
        {lloyd_sql},
        c AS (SELECT c_id, cv FROM c{iters}),
        q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 30),
        assign AS (
          SELECT t_id, c_id AS centroid, tv FROM (
            SELECT t.t_id, c.c_id, t.tv,
                   row_number() OVER (PARTITION BY t.t_id
                                      ORDER BY {tc} DESC, c.c_id ASC) AS rn
            FROM t CROSS JOIN c) WHERE rn = 1),
        probes AS (
          SELECT q_id, c_id AS centroid, qv FROM (
            SELECT q.q_id, c.c_id, q.qv,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY {qc} DESC, c.c_id ASC) AS rn
            FROM q CROSS JOIN c) WHERE rn <= {n_probe}),
        cand AS (
          SELECT p.q_id, a.t_id, {qt} AS cosine
          FROM probes p JOIN assign a USING (centroid)
          WHERE p.q_id != a.t_id)
        SELECT q_id, t_id,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, t_id ASC)
                    AS BIGINT) AS rank
        FROM cand QUALIFY rank <= {k}
    """


def _pq_sql(dim: int = 64, m: int = 8, k: int = 16, topn: int = 5,
            nq: int = 30) -> str:
    """DuckDB twin of q_embedding_knn_pq: replay the md5 codebook
    derivation, the per-subspace argmin encode and the ADC top-k —
    identical 6dp rounding before every argmin/ranking."""
    sub = dim // m
    n_cb = m * k * sub
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        d AS (SELECT vec_id, s.i - 1 AS pos, v[s.i] AS x
              FROM v, unnest(generate_series(1, {dim})) AS s(i)),
        cb AS (SELECT g.id // {k * sub} AS sub,
                      (g.id // {sub}) % {k} AS code,
                      (g.id // {k * sub}) * {sub} + g.id % {sub} AS pos,
                      (('0x' || substr(md5(concat(g.id // {k * sub}, '|',
                                                  (g.id // {sub}) % {k}, '|',
                                                  g.id % {sub})), 1, 8)
                       )::BIGINT / 4294967296.0) * 2 - 1 AS c
               FROM unnest(generate_series(0, {n_cb - 1})) AS g(id)),
        dist AS (SELECT d.vec_id, cb.sub, cb.code,
                        round(sum((d.x - cb.c) * (d.x - cb.c)), 6) AS dist
                 FROM d JOIN cb USING (pos)
                 GROUP BY 1, 2, 3),
        codes AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1),
        tot AS (SELECT q.vec_id AS q_id, t.vec_id AS t_id,
                       round(sum(q.dist), 6) AS adist
                FROM dist q
                JOIN codes t ON q.sub = t.sub AND q.code = t.code
                            AND q.vec_id != t.vec_id
                WHERE q.vec_id < {nq}
                GROUP BY 1, 2 HAVING count(*) = {m})
        SELECT q_id, t_id,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY adist ASC, t_id ASC)
                    AS BIGINT) AS rank
        FROM tot QUALIFY rank <= {topn}
    """


def _ivfpq_sql(dim: int = 64, m: int = 8, k: int = 16, topn: int = 5,
               n_probe: int = 3, n_cents: int = 8, nq: int = 30,
               rerank_topn: int | None = None) -> str:
    """DuckDB twin of q_embedding_knn_ivfpq: md5-seeded centroids,
    cosine routing (argmax over array-fold dot products — identical
    fold order to Spark's F.aggregate), then the PQ encode + ADC of
    _pq_sql restricted to the probed buckets.  ``rerank_topn`` appends
    the exact-cosine re-rank stage (ivfpq_rerank_topk's twin): the ADC
    top-``topn`` become the coarse candidates, raw vectors join back
    for those only, round(cos, 6) re-ranks to ``rerank_topn``."""
    sub = dim // m
    n_cb = m * k * sub
    cos_tc = _COS.format(a="t.v", b="c.c")
    cos_qc = _COS.format(a="q.v", b="c.c")
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        d AS (SELECT vec_id, s.i - 1 AS pos, v[s.i] AS x
              FROM v, unnest(generate_series(1, {dim})) AS s(i)),
        cb AS (SELECT g.id // {k * sub} AS sub,
                      (g.id // {sub}) % {k} AS code,
                      (g.id // {k * sub}) * {sub} + g.id % {sub} AS pos,
                      (('0x' || substr(md5(concat(g.id // {k * sub}, '|',
                                                  (g.id // {sub}) % {k}, '|',
                                                  g.id % {sub})), 1, 8)
                       )::BIGINT / 4294967296.0) * 2 - 1 AS c
               FROM unnest(generate_series(0, {n_cb - 1})) AS g(id)),
        dist AS (SELECT d.vec_id, cb.sub, cb.code,
                        round(sum((d.x - cb.c) * (d.x - cb.c)), 6) AS dist
                 FROM d JOIN cb USING (pos) GROUP BY 1, 2, 3),
        codes AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1),
        cents AS (SELECT rn - 1 AS c_id, v AS c FROM (
            SELECT v, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM v) WHERE rn <= {n_cents}),
        assign AS (SELECT vec_id, c_id FROM (
            SELECT t.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY t.vec_id
                                      ORDER BY {cos_tc} DESC, c.c_id ASC)
                       AS rn
            FROM v t, cents c) WHERE rn = 1),
        probes AS (SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {cos_qc} DESC, c.c_id ASC)
                       AS rn
            FROM v q, cents c WHERE q.vec_id < {nq})
            WHERE rn <= {n_probe}),
        cand AS (SELECT p.q_id, a.vec_id AS t_id
                 FROM probes p JOIN assign a ON a.c_id = p.c_id
                 WHERE a.vec_id != p.q_id),
        tot AS (SELECT c.q_id, c.t_id, round(sum(qd.dist), 6) AS adist
                FROM cand c
                JOIN dist qd ON qd.vec_id = c.q_id
                JOIN codes t ON t.vec_id = c.t_id AND t.sub = qd.sub
                            AND t.code = qd.code
                GROUP BY 1, 2 HAVING count(*) = {m})
        {f'''
        , coarse AS (SELECT q_id, t_id FROM (
            SELECT q_id, t_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adist ASC, t_id ASC) AS rn
            FROM tot) WHERE rn <= {topn}),
        ex AS (SELECT c.q_id, c.t_id,
                      round({_COS.format(a="a.v", b="b.v")}, 6) AS cosine
               FROM coarse c
               JOIN v a ON a.vec_id = c.q_id
               JOIN v b ON b.vec_id = c.t_id)
        SELECT q_id, t_id, cosine,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, t_id ASC)
                    AS BIGINT) AS rank
        FROM ex QUALIFY rank <= {rerank_topn}
        ''' if rerank_topn is not None else f'''
        SELECT q_id, t_id,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY adist ASC, t_id ASC)
                    AS BIGINT) AS rank
        FROM tot QUALIFY rank <= {topn}
        '''}
    """


def _near_dup_sql(threshold: float = 0.9, n_planes: int = 16,
                  bands: int = 2, max_bucket: int = 1000) -> str:
    """DuckDB twin of q_embedding_near_dup — replays the md5-derived
    hyperplane LSH (same signs, same buckets), the over-cap bucket drop
    (count filter ≡ the operator's groupBy-count anti-join), and the
    exact-cosine verification."""
    bits = n_planes // bands
    mask = (1 << bits) - 1
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, (sig >> {b * bits}) & {mask} AS bkey "
        "FROM sig" for b in range(bands)
    )
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings),
        twin AS (SELECT vec_id + 1000 AS vec_id,
                        [v[1] + 0.1] || v[2:] AS v
                 FROM base),
        allv AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
        d AS (SELECT vec_id, s.i - 1 AS pos, v[s.i] AS x
              FROM allv, unnest(generate_series(1, len(v))) AS s(i)),
        proj AS (
          SELECT vec_id, j.j,
                 sum(x * CASE WHEN strpos('89abcdef',
                          substr(md5(concat(j.j, '|', pos)), 1, 1)) > 0
                          THEN 1.0 ELSE -1.0 END) AS p
          FROM d, unnest(generate_series(0, {n_planes - 1})) AS j(j)
          GROUP BY vec_id, j.j),
        sig AS (SELECT vec_id,
                       sum(CASE WHEN p > 0 THEN 1 << j ELSE 0 END) AS sig
                FROM proj GROUP BY vec_id),
        buckets0 AS ({band_sel}),
        buckets AS (
          SELECT b.* FROM buckets0 b
          JOIN (SELECT band, bkey FROM buckets0 GROUP BY band, bkey
                HAVING count(*) <= {max_bucket}) ok USING (band, bkey)),
        pairs AS (
          SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM buckets x JOIN buckets y
            ON x.band = y.band AND x.bkey = y.bkey
           AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, round({cos}, 6) AS cosine
        FROM pairs
        JOIN allv a ON a.vec_id = id_a
        JOIN allv b ON b.vec_id = id_b
        WHERE {cos} >= {threshold}
    """


def _basin_z(dr: int, dc: int) -> str:
    """Egg-carton elevation at (r+dr, c+dc) — the exact integer formula
    of sources/images.py:generate_basin_images_pdf, times s."""
    r = f"(r+{dr})" if dr else "r"
    c = f"(c+{dc})" if dc else "c"
    return f"(((3*{r}*{r} + 5*{c}*{c} + 7*{r}*{c} + i) % 31) * s)"


# the 8 D8 drops in scan order E,SE,S,SW,W,NW,N,NE — generic
# (z_center - z_neighbour) / ground-distance, same IEEE arithmetic as
# operators/terrain.py:d8_flow (cardinal dist = px, diagonal = dd)
_BASIN_D8 = ",\n                ".join(
    f"({_basin_z(0, 0)} - {_basin_z(dr, dc)}) / "
    f"{'dd' if dr and dc else 'px'} AS d{k + 1}"
    for k, (dr, dc) in enumerate(
        [(0, 1), (1, 1), (1, 0), (1, -1),
         (0, -1), (-1, -1), (-1, 0), (-1, 1)]))

_BASIN_STEP_R = ("CASE WHEN d1 = g THEN 0 WHEN d2 = g THEN 1 "
                 "WHEN d3 = g THEN 1 WHEN d4 = g THEN 1 "
                 "WHEN d5 = g THEN 0 WHEN d6 = g THEN -1 "
                 "WHEN d7 = g THEN -1 ELSE -1 END")
_BASIN_STEP_C = ("CASE WHEN d1 = g THEN 1 WHEN d2 = g THEN 1 "
                 "WHEN d3 = g THEN 0 WHEN d4 = g THEN -1 "
                 "WHEN d5 = g THEN -1 WHEN d6 = g THEN -1 "
                 "WHEN d7 = g THEN 0 ELSE 1 END")


# big-endian parse of an md5 hex substring (DuckDB lacks conv()): first
# and second 8 hex digits, matching Spark's conv(substring(h,..,8),16,10)
_MD5_HEX1 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * {16 ** (8 - i)}"
    for i in range(1, 9))
_MD5_HEX2 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {8 + i}, 1)) - 1) * {16 ** (8 - i)}"
    for i in range(1, 9))

def _contour_cte() -> str:
    """Marching-squares relational twin: 2x2-corner self-join -> case
    index -> edge interpolation -> per-case segment emission (the same
    case table as operators/vector.py:_MS_SEGS, saddles by the
    center-mean rule), canonical endpoint order, zero-length drop."""
    segtab = {1: ("L", "T"), 2: ("T", "R"), 3: ("L", "R"),
              4: ("R", "B"), 6: ("T", "B"), 7: ("B", "L"),
              8: ("B", "L"), 9: ("T", "B"), 11: ("R", "B"),
              12: ("L", "R"), 13: ("T", "R"), 14: ("L", "T")}
    # saddle: (connected seg1, seg2, disconnected seg1, seg2)
    sad = {5: (("T", "R"), ("B", "L"), ("L", "T"), ("R", "B")),
           10: (("L", "T"), ("R", "B"), ("T", "R"), ("B", "L"))}

    def coord(edge, axis):
        return f"{axis}{edge.lower()}"

    def slot_expr(slot, axis, end):
        whens = []
        if slot == 1:
            for cs, (e0, e1) in segtab.items():
                whens.append(
                    f"WHEN cs = {cs} THEN {coord((e0, e1)[end], axis)}")
        for cs, (c1, c2, d1, d2) in sad.items():
            sc = (c1, c2)[slot - 1]
            sd = (d1, d2)[slot - 1]
            whens.append(
                f"WHEN cs = {cs} THEN CASE WHEN ctr THEN "
                f"{coord(sc[end], axis)} ELSE {coord(sd[end], axis)} END")
        return "CASE " + " ".join(whens) + " END"

    slots = []
    for slot, guard in ((1, ""), (2, " WHERE cs IN (5, 10)")):
        slots.append(
            f"SELECT img, L, {slot_expr(slot, 'x', 0)} AS x0,"
            f" {slot_expr(slot, 'y', 0)} AS y0,"
            f" {slot_expr(slot, 'x', 1)} AS x1,"
            f" {slot_expr(slot, 'y', 1)} AS y1 FROM pts{guard}")
    union = " UNION ALL ".join(slots)
    return f"""
        base AS MATERIALIZED (
          SELECT i // 256 AS img, (i % 256) % 16 AS x,
                 (i % 256) // 16 AS y,
                 md5(CAST(i // 256 AS VARCHAR) || ':' ||
                     CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                     CAST((i % 256) // 16 AS VARCHAR)) AS h
          FROM range(1024) t(i)),
        p AS MATERIALIZED (
          SELECT img, x, y, CAST(({_MD5_HEX1}) % 97 AS DOUBLE) AS z
          FROM base WHERE ({_MD5_HEX2}) % 13 != 0),
        lv AS MATERIALIZED (SELECT unnest([CAST(24.5 AS DOUBLE),
                              CAST(48.5 AS DOUBLE),
                              CAST(72.5 AS DOUBLE)]) AS L),
        sq AS MATERIALIZED (
          SELECT a.img, a.x, a.y, lv.L,
                 a.z AS z00, b.z AS z10, c.z AS z01, d.z AS z11
          FROM p a
          JOIN p b ON b.img = a.img AND b.x = a.x + 1 AND b.y = a.y
          JOIN p c ON c.img = a.img AND c.x = a.x AND c.y = a.y + 1
          JOIN p d ON d.img = a.img AND d.x = a.x + 1 AND d.y = a.y + 1
          CROSS JOIN lv),
        cs0 AS MATERIALIZED (
          SELECT *,
                 (CASE WHEN z00 >= L THEN 1 ELSE 0 END)
                 + 2 * (CASE WHEN z10 >= L THEN 1 ELSE 0 END)
                 + 4 * (CASE WHEN z11 >= L THEN 1 ELSE 0 END)
                 + 8 * (CASE WHEN z01 >= L THEN 1 ELSE 0 END) AS cs,
                 ((z00 + z10 + z01 + z11) / 4.0 >= L) AS ctr
          FROM sq),
        pts AS MATERIALIZED (
          SELECT img, L, cs, ctr,
                 CAST(x AS DOUBLE) + (L - z00) / (z10 - z00) AS xt,
                 CAST(y AS DOUBLE) AS yt,
                 CAST(x AS DOUBLE) + (L - z01) / (z11 - z01) AS xb,
                 CAST(y + 1 AS DOUBLE) AS yb,
                 CAST(x AS DOUBLE) AS xl,
                 CAST(y AS DOUBLE) + (L - z00) / (z01 - z00) AS yl,
                 CAST(x + 1 AS DOUBLE) AS xr,
                 CAST(y AS DOUBLE) + (L - z10) / (z11 - z10) AS yr
          FROM cs0 WHERE cs BETWEEN 1 AND 14),
        segs AS MATERIALIZED ({union}),
        canon AS MATERIALIZED (
          SELECT img, L,
                 CASE WHEN (x1 < x0) OR (x1 = x0 AND y1 < y0)
                      THEN x1 ELSE x0 END AS x0,
                 CASE WHEN (x1 < x0) OR (x1 = x0 AND y1 < y0)
                      THEN y1 ELSE y0 END AS y0,
                 CASE WHEN (x1 < x0) OR (x1 = x0 AND y1 < y0)
                      THEN x0 ELSE x1 END AS x1,
                 CASE WHEN (x1 < x0) OR (x1 = x0 AND y1 < y0)
                      THEN y0 ELSE y1 END AS y1
          FROM segs
          WHERE NOT (x0 = x1 AND y0 = y1))
    """


def _contour_sql() -> str:
    return "WITH " + _contour_cte() + """
        SELECT CAST(img AS BIGINT) AS img, L AS level,
               round(x0, 6) AS x0, round(y0, 6) AS y0,
               round(x1, 6) AS x1, round(y1, 6) AS y1
        FROM canon
    """


def _hex1_col(col: str) -> str:
    """First-8-hex-digits big-endian integer of an md5 VARCHAR column
    (the DuckDB twin of conv(substring(md5, 1, 8), 16, 10))."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}" for i in range(1, 9))


def _pansharpen_sql() -> str:
    """pansharpen_cells twin: same md5 band arithmetic, the res-9 ->
    res-7 parent join as tile // 4, the exact integer intensity sum,
    and the base-4 digit render of the pan cell."""
    qk9 = " || ".join(
        f"CAST(2 * ((ty >> {9 - 1 - i}) & 1)"
        f" + ((tx >> {9 - 1 - i}) & 1) AS VARCHAR)" for i in range(9))

    def m(salt):
        return (f"md5('{salt}:' || CAST(tx AS VARCHAR) || ':'"
                " || CAST(ty AS VARCHAR))")

    return f"""
            WITH msb AS MATERIALIZED (
              SELECT 100 + i % 16 AS tx, 200 + i // 16 AS ty
              FROM range(256) t(i)),
            msh AS MATERIALIZED (
              SELECT tx, ty, {m('ms1')} AS h1, {m('ms2')} AS h2,
                     {m('ms3')} AS h3
              FROM msb),
            ms AS MATERIALIZED (
              SELECT tx, ty,
                     CAST(({_hex1_col('h1')}) % 50 + 1 AS DOUBLE) AS b1,
                     CAST(({_hex1_col('h2')}) % 60 + 1 AS DOUBLE) AS b2,
                     CAST(({_hex1_col('h3')}) % 70 + 1 AS DOUBLE) AS b3
              FROM msh),
            pb AS MATERIALIZED (
              SELECT 400 + j % 64 AS tx, 800 + j // 64 AS ty
              FROM range(4096) s(j)),
            ph AS MATERIALIZED (
              SELECT tx, ty, {m('pan')} AS h FROM pb),
            pan AS MATERIALIZED (
              SELECT tx, ty,
                     CAST(({_hex1_col('h')}) % 90 + 1 AS DOUBLE) AS pan
              FROM ph),
            jn AS (
              SELECT p.tx, p.ty, p.pan, m.b1, m.b2, m.b3
              FROM pan p JOIN ms m
                ON m.tx = p.tx // 4 AND m.ty = p.ty // 4),
            r AS (
              SELECT *, pan / ((b1 + b2 + b3) / 3.0) AS ratio FROM jn)
            SELECT {qk9} AS qk_9, pan,
                   round(b1 * ratio, 6) + 0.0 AS sharp_b1,
                   round(b2 * ratio, 6) + 0.0 AS sharp_b2,
                   round(b3 * ratio, 6) + 0.0 AS sharp_b3
            FROM r
        """


def _glcm_sql() -> str:
    """glcm_texture twin: same md5 surface, quantize, shifted self-
    join, symmetric union, two-level aggregate — every per-(gi,gj)
    folded sum is integer-valued, so aggregation order cannot drift;
    the mu/var/den chain is staged in CTE levels so the float
    association matches the Spark expressions exactly."""
    return f"""
            WITH base AS MATERIALIZED (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            p AS MATERIALIZED (
              SELECT img, x, y, CAST(({_MD5_HEX1}) % 97 AS DOUBLE) AS z
              FROM base WHERE ({_MD5_HEX2}) % 13 != 0),
            q AS MATERIALIZED (
              SELECT img, x, y,
                     least(7, greatest(0, CAST(floor(
                       (z - 0.0) / 97.0 * 8) AS INT))) AS g
              FROM p),
            offs AS (SELECT * FROM (VALUES (1, 0), (0, 1)) o(dx, dy)),
            pr AS MATERIALIZED (
              SELECT a.img, o.dx, o.dy, a.g AS ga, b.g AS gb
              FROM q a CROSS JOIN offs o
              JOIN q b ON b.img = a.img AND b.x = a.x + o.dx
                      AND b.y = a.y + o.dy),
            sym AS (
              SELECT img, dx, dy, ga AS gi, gb AS gj FROM pr
              UNION ALL
              SELECT img, dx, dy, gb, ga FROM pr),
            cm AS MATERIALIZED (
              SELECT img, dx, dy, gi, gj,
                     CAST(count(*) AS DOUBLE) AS c
              FROM sym GROUP BY img, dx, dy, gi, gj),
            ag AS MATERIALIZED (
              SELECT img, dx, dy,
                     sum(c) AS n,
                     sum(c * (gi - gj) * (gi - gj)) AS s_con,
                     sum(c * abs(gi - gj)) AS s_dis,
                     sum(c / (1.0 + (gi - gj) * (gi - gj))) AS s_hom,
                     sum(c * c) AS s_asm,
                     sum(c * ln(c)) AS s_clnc,
                     sum(c * gi) AS s_i, sum(c * gj) AS s_j,
                     sum(c * gi * gi) AS s_i2,
                     sum(c * gj * gj) AS s_j2,
                     sum(c * gi * gj) AS s_ij
              FROM cm GROUP BY img, dx, dy),
            m1 AS MATERIALIZED (
              SELECT *, s_i / n AS mu_i, s_j / n AS mu_j FROM ag),
            m2 AS MATERIALIZED (
              SELECT *, s_i2 / n - mu_i * mu_i AS var_i,
                     s_j2 / n - mu_j * mu_j AS var_j FROM m1),
            m3 AS MATERIALIZED (
              SELECT *, sqrt(var_i) * sqrt(var_j) AS den FROM m2)
            SELECT CAST(img AS BIGINT) AS img,
                   CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy,
                   CAST(n AS BIGINT) AS n_pairs,
                   round(s_con / n, 6) + 0.0 AS contrast,
                   round(s_dis / n, 6) + 0.0 AS dissimilarity,
                   round(s_hom / n, 6) + 0.0 AS homogeneity,
                   round(sqrt(s_asm / (n * n)), 6) + 0.0 AS energy,
                   round(ln(n) - s_clnc / n, 6) + 0.0 AS entropy,
                   round(CASE WHEN den > 0.0
                         THEN (s_ij / n - mu_i * mu_j) / den END, 6)
                     + 0.0 AS correlation
            FROM m3
        """


def _stitch_sql() -> str:
    """contour_stitch twin: recursive min-label closure over shared
    segment endpoints, then per-component polyline stats.  Every level
    is MATERIALIZED — under WITH RECURSIVE DuckDB inlines multiply-
    referenced CTEs (the CLAUDE.md landmine), re-evaluating the float
    chain per reference."""
    return "WITH RECURSIVE " + _contour_cte() + """,
        verts AS MATERIALIZED (
          -- UNION ALL + outer DISTINCT: inside a WITH RECURSIVE block
          -- DuckDB does NOT deduplicate a plain UNION in a
          -- non-self-referencing CTE (verified; CLAUDE.md landmine)
          SELECT DISTINCT img, L, x, y FROM (
            SELECT img, L, x0 AS x, y0 AS y FROM canon
            UNION ALL
            SELECT img, L, x1 AS x, y1 AS y FROM canon)),
        vv AS MATERIALIZED (
          SELECT img, L, x, y,
                 row_number() OVER (ORDER BY img, L, x, y) AS vid
          FROM verts),
        ed AS MATERIALIZED (
          SELECT s.img, s.L, a.vid AS va, b.vid AS vb
          FROM canon s
          JOIN vv a ON a.img = s.img AND a.L = s.L
                   AND a.x = s.x0 AND a.y = s.y0
          JOIN vv b ON b.img = s.img AND b.L = s.L
                   AND b.x = s.x1 AND b.y = s.y1),
        e2 AS MATERIALIZED (
          SELECT DISTINCT va, vb FROM (
            SELECT va, vb FROM ed
            UNION ALL SELECT vb AS va, va AS vb FROM ed)),
        reach(v, rid) AS (
          SELECT vid, vid FROM vv
          UNION
          SELECT e.vb, r.rid FROM reach r JOIN e2 e ON e.va = r.v),
        lab AS MATERIALIZED (
          SELECT v, MIN(rid) AS comp FROM reach GROUP BY v),
        incid AS MATERIALIZED (
          SELECT va AS v FROM ed UNION ALL SELECT vb FROM ed),
        vdeg AS MATERIALIZED (
          SELECT v, count(*) AS deg FROM incid GROUP BY v),
        vstats AS MATERIALIZED (
          SELECT vv.img, vv.L, lab.comp,
                 count(*) AS n_vertices,
                 min({'x': vv.x, 'y': vv.y}) AS anchor,
                 (min(vdeg.deg) = 2) AS closed
          FROM vv JOIN lab ON lab.v = vv.vid
          JOIN vdeg ON vdeg.v = vv.vid
          GROUP BY vv.img, vv.L, lab.comp),
        sstats AS MATERIALIZED (
          SELECT s.img, s.L, lab.comp,
                 count(*) AS n_segs,
                 sum(sqrt((s.x1 - s.x0) * (s.x1 - s.x0)
                          + (s.y1 - s.y0) * (s.y1 - s.y0))) AS length
          FROM canon s
          JOIN vv a ON a.img = s.img AND a.L = s.L
                   AND a.x = s.x0 AND a.y = s.y0
          JOIN lab ON lab.v = a.vid
          GROUP BY s.img, s.L, lab.comp)
        SELECT CAST(v.img AS BIGINT) AS img, v.L AS level,
               round(v.anchor.x, 6) AS anchor_x,
               round(v.anchor.y, 6) AS anchor_y,
               CAST(s.n_segs AS BIGINT) AS n_segs,
               CAST(v.n_vertices AS BIGINT) AS n_vertices,
               round(s.length, 4) AS length,
               v.closed AS closed
        FROM vstats v JOIN sstats s
          ON s.img = v.img AND s.L = v.L AND s.comp = v.comp
    """


def _polygonize_sql() -> str:
    """polygonize_boundaries twin: md5 class lattice, four-way
    neighbour left join emitting unit boundary segments, then the
    contour_stitch recursive min-label closure over shared corners.
    Same WITH RECURSIVE landmines handled: DISTINCT over UNION ALL in
    the non-self-referencing CTEs, every level MATERIALIZED."""
    emit = """
          SELECT a.img, a.cls,
                 CAST(a.x + {x0} AS DOUBLE) AS x0,
                 CAST(a.y + {y0} AS DOUBLE) AS y0,
                 CAST(a.x + {x1} AS DOUBLE) AS x1,
                 CAST(a.y + {y1} AS DOUBLE) AS y1
          FROM q a LEFT JOIN q b
            ON b.img = a.img AND b.x = a.x + {dx} AND b.y = a.y + {dy}
          WHERE b.x IS NULL OR b.cls <> a.cls"""
    sides = [
        emit.format(dx=1, dy=0, x0=1, y0=0, x1=1, y1=1),
        emit.format(dx=-1, dy=0, x0=0, y0=0, x1=0, y1=1),
        emit.format(dx=0, dy=1, x0=0, y0=1, x1=1, y1=1),
        emit.format(dx=0, dy=-1, x0=0, y0=0, x1=1, y1=0),
    ]
    bnd = " UNION ALL ".join(sides)
    return f"""
        WITH RECURSIVE base AS MATERIALIZED (
          SELECT i // 256 AS img, (i % 256) % 16 AS x,
                 (i % 256) // 16 AS y,
                 md5(CAST(i // 256 AS VARCHAR) || ':' ||
                     CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                     CAST((i % 256) // 16 AS VARCHAR)) AS h
          FROM range(1024) t(i)),
        q AS MATERIALIZED (
          SELECT img, x, y, ({_MD5_HEX1}) % 4 AS cls
          FROM base WHERE ({_MD5_HEX2}) % 13 != 0),
        segs AS MATERIALIZED ({bnd}),
        verts AS MATERIALIZED (
          SELECT DISTINCT img, cls, x, y FROM (
            SELECT img, cls, x0 AS x, y0 AS y FROM segs
            UNION ALL
            SELECT img, cls, x1 AS x, y1 AS y FROM segs)),
        vv AS MATERIALIZED (
          SELECT img, cls, x, y,
                 row_number() OVER (ORDER BY img, cls, x, y) AS vid
          FROM verts),
        ed AS MATERIALIZED (
          SELECT s.img, s.cls, a.vid AS va, b.vid AS vb
          FROM segs s
          JOIN vv a ON a.img = s.img AND a.cls = s.cls
                   AND a.x = s.x0 AND a.y = s.y0
          JOIN vv b ON b.img = s.img AND b.cls = s.cls
                   AND b.x = s.x1 AND b.y = s.y1),
        e2 AS MATERIALIZED (
          SELECT DISTINCT va, vb FROM (
            SELECT va, vb FROM ed
            UNION ALL SELECT vb AS va, va AS vb FROM ed)),
        reach(v, rid) AS (
          SELECT vid, vid FROM vv
          UNION
          SELECT e.vb, r.rid FROM reach r JOIN e2 e ON e.va = r.v),
        lab AS MATERIALIZED (
          SELECT v, MIN(rid) AS comp FROM reach GROUP BY v),
        incid AS MATERIALIZED (
          SELECT va AS v FROM ed UNION ALL SELECT vb FROM ed),
        vdeg AS MATERIALIZED (
          SELECT v, count(*) AS deg FROM incid GROUP BY v),
        vstats AS MATERIALIZED (
          SELECT vv.img, vv.cls, lab.comp,
                 count(*) AS n_vertices,
                 min({{'x': vv.x, 'y': vv.y}}) AS anchor,
                 (min(vdeg.deg) = 2) AS closed
          FROM vv JOIN lab ON lab.v = vv.vid
          JOIN vdeg ON vdeg.v = vv.vid
          GROUP BY vv.img, vv.cls, lab.comp),
        sstats AS MATERIALIZED (
          SELECT s.img, s.cls, lab.comp,
                 count(*) AS n_segs,
                 sum(sqrt((s.x1 - s.x0) * (s.x1 - s.x0)
                          + (s.y1 - s.y0) * (s.y1 - s.y0))) AS length
          FROM segs s
          JOIN vv a ON a.img = s.img AND a.cls = s.cls
                   AND a.x = s.x0 AND a.y = s.y0
          JOIN lab ON lab.v = a.vid
          GROUP BY s.img, s.cls, lab.comp)
        SELECT CAST(v.img AS BIGINT) AS img, CAST(v.cls AS BIGINT) AS cls,
               round(v.anchor.x, 6) AS anchor_x,
               round(v.anchor.y, 6) AS anchor_y,
               CAST(s.n_segs AS BIGINT) AS n_segs,
               CAST(v.n_vertices AS BIGINT) AS n_vertices,
               round(s.length, 4) AS length,
               v.closed AS closed
        FROM vstats v JOIN sstats s
          ON s.img = v.img AND s.cls = v.cls AND s.comp = v.comp
    """


def _simplify_sql(eps2: int = 9, levels: int = 16) -> str:
    """Unrolled Douglas-Peucker twin: level k holds the alive segments
    at split depth k; each level picks the max-deviation interior
    vertex (max_by key = m*1024 + (1023-seq): primary exact integer
    deviation metric, smallest seq on ties) and either finalizes the
    segment or emits its two children.  17-vertex lines terminate
    within 15 levels; level 16 is a defensive leftover union."""
    parts = ["""
        WITH pts AS (
          SELECT l AS line_id, i AS seq,
                 j * 8 + (l * 7 + j * 3) % 5 AS x,
                 CASE WHEN l % 3 = 1 THEN (j * (l % 7)) // 4 - 9
                      ELSE (j * j * 11 + l * 13) % 37 - 18 END AS y
          FROM (SELECT l, i,
                       CASE WHEN l % 10 = 0 AND i = 16 THEN 0 ELSE i END
                           AS j
                FROM range(80) t(l) CROSS JOIN range(17) s(i))),
        a0 AS MATERIALIZED (SELECT DISTINCT line_id, 0 AS s, 16 AS e FROM pts)"""]
    cross2 = ("((p2.x-p1.x)*(v.y-p1.y)-(p2.y-p1.y)*(v.x-p1.x))"
              " * ((p2.x-p1.x)*(v.y-p1.y)-(p2.y-p1.y)*(v.x-p1.x))")
    len2 = "(p2.x-p1.x)*(p2.x-p1.x)+(p2.y-p1.y)*(p2.y-p1.y)"
    dist2 = "(v.x-p1.x)*(v.x-p1.x)+(v.y-p1.y)*(v.y-p1.y)"
    for k in range(levels):
        parts.append(f""",
        d{k} AS MATERIALIZED (
          SELECT a.line_id, a.s, a.e, v.seq,
                 CASE WHEN {len2} = 0 THEN {dist2}
                      ELSE {cross2} END AS m,
                 CASE WHEN {len2} = 0 THEN {eps2}
                      ELSE {eps2} * ({len2}) END AS thr
          FROM a{k} a
          JOIN pts p1 ON p1.line_id = a.line_id AND p1.seq = a.s
          JOIN pts p2 ON p2.line_id = a.line_id AND p2.seq = a.e
          JOIN pts v  ON v.line_id = a.line_id
                     AND v.seq > a.s AND v.seq < a.e),
        b{k} AS MATERIALIZED (SELECT line_id, s, e,
                        max_by(seq, m * 1024 + (1023 - seq)) AS b,
                        max(m) AS mmax, max(thr) AS thr
                 FROM d{k} GROUP BY line_id, s, e),
        f{k} AS MATERIALIZED (SELECT a.line_id, a.s, a.e
                 FROM a{k} a LEFT JOIN b{k} b
                   ON b.line_id = a.line_id AND b.s = a.s AND b.e = a.e
                 WHERE b.b IS NULL OR b.mmax <= b.thr),
        a{k + 1} AS MATERIALIZED (
          SELECT line_id, s, b AS e FROM b{k} WHERE mmax > thr
          UNION ALL
          SELECT line_id, b AS s, e FROM b{k} WHERE mmax > thr)""")
    finals = "\n                 UNION ALL ".join(
        f"SELECT line_id, s, e FROM f{k}" for k in range(levels))
    parts.append(f""",
        allf AS MATERIALIZED ({finals}
                 UNION ALL SELECT line_id, s, e FROM a{levels}),
        kept AS (SELECT line_id, s AS seq FROM allf
                 UNION SELECT line_id, e AS seq FROM allf)
        SELECT CAST(p.line_id AS BIGINT) AS line_id,
               CAST(p.seq AS BIGINT) AS seq,
               CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y
        FROM kept k JOIN pts p
          ON p.line_id = k.line_id AND p.seq = k.seq""")
    return "".join(parts)


def _sssp_sql(levels: int = 18) -> str:
    """Bounded-round Bellman-Ford unroll: ``levels`` min-fold rounds,
    every level MATERIALIZED (CLAUDE.md: DuckDB inlines chained CTEs
    that reference the previous level twice -> exponential plans).
    Idempotent past convergence, so any levels >= the Spark round
    count reproduce the fixpoint exactly."""
    lev = "".join(f""",
            d{i + 1} AS MATERIALIZED (
              SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{i}
                UNION ALL
                SELECT e.dst AS node, d{i}.dist + e.w AS dist
                FROM d{i} JOIN e ON e.src = d{i}.node) u
              GROUP BY node)""" for i in range(levels))
    return f"""
            WITH nn AS (SELECT CAST(max(s_suppkey) AS BIGINT) AS n
                        FROM supplier),
            base AS (SELECT CAST(s_suppkey AS BIGINT) AS u, n
                     FROM supplier, nn),
            e AS MATERIALIZED (
              SELECT u AS src, (u % n) + 1 AS dst,
                     CAST((u * 7) % 19 + 1 AS DOUBLE) AS w FROM base
              UNION ALL
              SELECT (u % n) + 1, u,
                     CAST((u * 7) % 19 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT u, ((u * 2) % n) + 1,
                     CAST((u * 13) % 23 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT ((u * 2) % n) + 1, u,
                     CAST((u * 13) % 23 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT u, ((u * 37) % n) + 1,
                     CAST((u * 11) % 29 + 3 AS DOUBLE) FROM base
              UNION ALL
              SELECT ((u * 37) % n) + 1, u,
                     CAST((u * 11) % 29 + 3 AS DOUBLE) FROM base),
            d0 AS MATERIALIZED (
              SELECT CAST(1 AS BIGINT) AS node, 0.0 AS dist){lev}
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(dist AS BIGINT) AS dist_w
            FROM d{levels}
        """


def _lpa_sql(rounds: int = 4) -> str:
    """label_propagation twin: the undirected supplier multigraph
    (NO edge dedup — parallel edges count, as in the operator), then
    ``rounds`` unrolled count/argmax/merge levels, each MATERIALIZED
    (the chained-CTE rule)."""
    head = """
            WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                       FROM supplier),
            e0 AS MATERIALIZED (
              SELECT k AS src, (k * 7 + 3) % 100 + 1 AS dst FROM s
              UNION ALL SELECT k, (k * 13 + 5) % 100 + 1 FROM s
              UNION ALL SELECT k, (k * 29 + 11) % 100 + 1 FROM s),
            e AS MATERIALIZED (
              SELECT src, dst FROM e0
              UNION ALL SELECT dst, src FROM e0),
            v AS MATERIALIZED (SELECT DISTINCT src AS vertex FROM e),
            l0 AS MATERIALIZED (SELECT vertex, vertex AS lab FROM v)"""
    blocks = []
    for i in range(rounds):
        blocks.append(f""",
            c{i} AS MATERIALIZED (
              SELECT e.dst AS vertex, l.lab, count(*) AS c
              FROM e JOIN l{i} l ON l.vertex = e.src
              GROUP BY e.dst, l.lab),
            p{i} AS MATERIALIZED (
              SELECT vertex, lab FROM (
                SELECT vertex, lab,
                       row_number() OVER (PARTITION BY vertex
                         ORDER BY c DESC, lab ASC) AS rn
                FROM c{i}) t WHERE rn = 1),
            l{i + 1} AS MATERIALIZED (
              SELECT l.vertex, COALESCE(p.lab, l.lab) AS lab
              FROM l{i} l LEFT JOIN p{i} p ON p.vertex = l.vertex)""")
    return (head + "".join(blocks) + f"""
            SELECT CAST(vertex AS BIGINT) AS vertex,
                   CAST(lab AS BIGINT) AS community
            FROM l{rounds}
        """)


def _sssp_multi_sql(levels: int = 18) -> str:
    """sssp_multi twin: the _sssp_sql unroll with (source, node) keys
    and a three-row seed frontier."""
    lev = "".join(f""",
            d{i + 1} AS MATERIALIZED (
              SELECT source, node, min(dist) AS dist FROM (
                SELECT source, node, dist FROM d{i}
                UNION ALL
                SELECT d{i}.source, e.dst AS node, d{i}.dist + e.w
                FROM d{i} JOIN e ON e.src = d{i}.node) u
              GROUP BY source, node)""" for i in range(levels))
    return f"""
            WITH nn AS (SELECT CAST(max(s_suppkey) AS BIGINT) AS n
                        FROM supplier),
            base AS (SELECT CAST(s_suppkey AS BIGINT) AS u, n
                     FROM supplier, nn),
            e AS MATERIALIZED (
              SELECT u AS src, (u % n) + 1 AS dst,
                     CAST((u * 7) % 19 + 1 AS DOUBLE) AS w FROM base
              UNION ALL
              SELECT (u % n) + 1, u,
                     CAST((u * 7) % 19 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT u, ((u * 2) % n) + 1,
                     CAST((u * 13) % 23 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT ((u * 2) % n) + 1, u,
                     CAST((u * 13) % 23 + 1 AS DOUBLE) FROM base
              UNION ALL
              SELECT u, ((u * 37) % n) + 1,
                     CAST((u * 11) % 29 + 3 AS DOUBLE) FROM base
              UNION ALL
              SELECT ((u * 37) % n) + 1, u,
                     CAST((u * 11) % 29 + 3 AS DOUBLE) FROM base),
            d0 AS MATERIALIZED (
              SELECT CAST(v AS BIGINT) AS source, CAST(v AS BIGINT) AS node,
                     0.0 AS dist
              FROM (VALUES (1), (2), (3)) s(v)){lev}
            SELECT CAST(source AS BIGINT) AS source,
                   CAST(node AS BIGINT) AS node,
                   CAST(dist AS BIGINT) AS dist_w
            FROM d{levels}
        """


def _pagerank_sql(iters: int = 8) -> str:
    """Unrolled-iteration PageRank twin (chained CTEs, float
    association matching operators/graph.py pagerank exactly).  Every
    rank level is MATERIALIZED: d{i} and m{i} both read r{i}, and an
    inlined chain multiplies its plan per level (8 levels: minutes)."""
    head = """
            WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                       FROM supplier),
            e AS (SELECT DISTINCT src, dst FROM (
                    SELECT k AS src, (k * 7 + 3) % 100 + 1 AS dst FROM s
                    UNION ALL
                    SELECT k, (k * 13 + 5) % 100 + 1 FROM s
                    UNION ALL
                    SELECT k, (k * 29 + 11) % 100 + 1 FROM s)),
            v AS (SELECT DISTINCT vertex FROM (
                    SELECT src AS vertex FROM e
                    UNION ALL SELECT dst FROM e)),
            nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
            od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
            r0 AS MATERIALIZED (
                SELECT vertex, 1.0 / n AS rank FROM v, nv)"""
    blocks = []
    for i in range(iters):
        blocks.append(f""",
            d{i} AS (SELECT COALESCE(sum(r.rank), 0.0) AS dang
                     FROM r{i} r LEFT JOIN od ON od.src = r.vertex
                     WHERE od.src IS NULL),
            m{i} AS (SELECT e.dst AS vertex,
                            sum(r.rank / od.odeg) AS msum
                     FROM r{i} r
                     JOIN od ON od.src = r.vertex
                     JOIN e ON e.src = r.vertex
                     GROUP BY e.dst),
            r{i + 1} AS MATERIALIZED (SELECT v.vertex,
                            ((1.0 - 0.85) / nv.n
                             + 0.85 * d{i}.dang / nv.n)
                            + 0.85 * COALESCE(m{i}.msum, 0.0) AS rank
                         FROM v CROSS JOIN nv CROSS JOIN d{i}
                         LEFT JOIN m{i} ON m{i}.vertex = v.vertex)""")
    tail = f"""
            SELECT r.vertex, round(r.rank * nv.n, 4) AS rank_norm
            FROM r{iters} r CROSS JOIN nv
        """
    return head + "".join(blocks) + tail


# first 15 hex digits = 60 bits (sketches: fits int64 AND float64)
_MD5_HEX60 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * {16 ** (15 - i)}"
    for i in range(1, 16))


def oracle_sql() -> dict[str, str]:
    out = {
        "agg_mean_sum_count": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS count_order,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(avg(l_extendedprice), 4) AS avg_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "agg_minmax_range": """
            SELECT l_linestatus,
                   round(min(l_extendedprice), 4) AS price_min,
                   round(max(l_extendedprice), 4) AS price_max,
                   round(max(l_extendedprice) - min(l_extendedprice), 4) AS price_range
            FROM lineitem GROUP BY l_linestatus
        """,
        "agg_stats": """
            SELECT l_returnflag,
                   round(stddev_samp(l_quantity), 4) AS qty_std,
                   round(var_samp(l_quantity), 4) AS qty_var,
                   round(median(l_quantity), 4) AS qty_median
            FROM lineitem GROUP BY l_returnflag
        """,
        "assoc_rules": """
            WITH it AS (
              SELECT DISTINCT l_orderkey AS b,
                     CAST(l_partkey % 50 AS BIGINT) AS i
              FROM lineitem),
            nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n
                   FROM it),
            cnt AS (SELECT i, count(*) AS c FROM it GROUP BY i),
            pr AS (
              SELECT a.i AS ai, b2.i AS bi, count(*) AS nab
              FROM it a JOIN it b2 ON b2.b = a.b AND b2.i != a.i
              GROUP BY a.i, b2.i)
            SELECT CAST(pr.ai AS BIGINT) AS antecedent,
                   CAST(pr.bi AS BIGINT) AS consequent,
                   CAST(pr.nab AS BIGINT) AS n_joint,
                   round(pr.nab / nb.n, 6) + 0.0 AS support,
                   round(pr.nab / ca.c, 6) + 0.0 AS confidence,
                   round((pr.nab / ca.c) / (cb.c / nb.n), 6)
                     + 0.0 AS lift
            FROM pr
            JOIN cnt ca ON ca.i = pr.ai
            JOIN cnt cb ON cb.i = pr.bi
            CROSS JOIN nb
            WHERE pr.nab / nb.n >= 0.005
        """,
        "skyline": """
            SELECT a.p_brand,
                   CAST(a.p_partkey AS BIGINT) AS p_partkey,
                   round(a.p_retailprice, 4) + 0.0 AS p_retailprice,
                   CAST(a.p_size AS BIGINT) AS p_size
            FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_brand = a.p_brand
                AND b.p_retailprice <= a.p_retailprice
                AND b.p_size <= a.p_size
                AND (b.p_retailprice < a.p_retailprice
                     OR b.p_size < a.p_size))
        """,
        "agg_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
                   round(quantile_cont(l_quantity, 0.75), 4) AS qty_p75,
                   round(quantile_cont(l_quantity, 0.90), 4) AS qty_p90,
                   CAST(count(l_quantity) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_mode": """
            SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS qty_mode FROM (
                SELECT l_returnflag, l_quantity,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY count(*) DESC, l_quantity ASC) AS rn
                FROM lineitem WHERE l_quantity IS NOT NULL
                GROUP BY l_returnflag, l_quantity
            ) WHERE rn = 1
        """,
        "agg_majority": """
            WITH ev AS (SELECT user_id % 10 AS user_bucket, event_type FROM events),
            tot AS (SELECT user_bucket, count(*) AS total FROM ev GROUP BY user_bucket),
            cnt AS (SELECT user_bucket, event_type, count(*) AS c
                    FROM ev WHERE event_type IS NOT NULL GROUP BY user_bucket, event_type),
            win AS (SELECT user_bucket, event_type, c,
                           row_number() OVER (PARTITION BY user_bucket
                                              ORDER BY c DESC, event_type ASC) AS rn
                    FROM cnt)
            SELECT t.user_bucket,
                   CASE WHEN w.c > t.total * 0.5 THEN w.event_type END AS majority_type
            FROM tot t LEFT JOIN win w ON t.user_bucket = w.user_bucket AND w.rn = 1
        """,
        "agg_multi": """
            SELECT l_returnflag,
                   round(min(l_quantity), 4) AS qty_min,
                   round(max(l_quantity), 4) AS qty_max,
                   round(avg(l_quantity), 4) AS qty_mean,
                   round(min(l_discount), 4) AS disc_min,
                   round(max(l_discount), 4) AS disc_max,
                   round(avg(l_discount), 4) AS disc_mean
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_list": """
            SELECT l_orderkey,
                   array_to_string(list_sort(list(CAST(l_linenumber AS BIGINT))),
                                   ',') AS linenumbers
            FROM lineitem GROUP BY l_orderkey
        """,
        "hist_categorical": """
            SELECT l_returnflag, CAST(round(l_quantity, 0) AS DOUBLE) AS value,
                   round(sum(1.0), 4) AS weight
            FROM lineitem WHERE l_quantity IS NOT NULL
            GROUP BY l_returnflag, round(l_quantity, 0)
        """,
        "hist_binned": """
            SELECT l_returnflag,
                   round(floor(l_extendedprice / 5000.0) * 5000.0, 4) AS left,
                   round((floor(l_extendedprice / 5000.0) + 1) * 5000.0, 4) AS right,
                   round(sum(1.0), 4) AS weight
            FROM lineitem WHERE l_extendedprice IS NOT NULL
            GROUP BY l_returnflag, floor(l_extendedprice / 5000.0)
        """,
        "hist_binned_edges": """
            WITH b AS (
              SELECT l_linestatus,
                     CASE
                       WHEN l_extendedprice >= 1000 AND l_extendedprice < 10000 THEN 0
                       WHEN l_extendedprice >= 10000 AND l_extendedprice < 20000 THEN 1
                       WHEN l_extendedprice >= 20000 AND l_extendedprice <= 40000 THEN 2
                     END AS bin
              FROM lineitem WHERE l_extendedprice IS NOT NULL)
            SELECT l_linestatus,
                   round([1000.0, 10000.0, 20000.0][bin + 1], 4) AS left,
                   round([10000.0, 20000.0, 40000.0][bin + 1], 4) AS right,
                   round(sum(1.0), 4) AS weight
            FROM b WHERE bin IS NOT NULL GROUP BY l_linestatus, bin
        """,
        "hist_normalized": """
            WITH h AS (
              SELECT event_type, CAST(round(value, -1) AS DOUBLE) AS value,
                     sum(1.0) AS weight
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type, round(value, -1))
            SELECT event_type, value, round(weight, 4) AS weight,
                   round(weight / sum(weight) OVER (PARTITION BY event_type), 6)
                       AS weight_frac
            FROM h
        """,
        "weighted_mean": """
            SELECT l_returnflag,
                   round(sum(l_extendedprice * l_quantity) /
                         sum(CASE WHEN l_extendedprice IS NOT NULL
                                  THEN l_quantity END), 4) AS wmean_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "mass_preserve_sum": """
            SELECT l_returnflag,
                   round(sum(l_extendedprice * l_discount), 4) AS mass_sum
            FROM lineitem GROUP BY l_returnflag
        """,
        "majority_by_weight": """
            SELECT o_orderstatus, o_orderpriority AS top_priority FROM (
                SELECT o_orderstatus, o_orderpriority,
                       row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY sum(o_totalprice) DESC,
                                                   o_orderpriority ASC) AS rn
                FROM orders WHERE o_orderpriority IS NOT NULL
                GROUP BY o_orderstatus, o_orderpriority
            ) WHERE rn = 1
        """,
        "layer_corr": """
            WITH base AS (
              SELECT i % 16 AS x, i // 16 AS y FROM range(256) t(i)),
            a AS (
              SELECT y * 16 + x AS cell,
                     CAST(((strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 8, 1)) - 1) * 1) % 100 AS DOUBLE) AS va
              FROM base WHERE ((strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('ha:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 8, 1)) - 1) * 1) % 11 != 0),
            b AS (
              SELECT y * 16 + x AS cell,
                     CAST(((strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('la:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 8, 1)) - 1) * 1) % 100 AS DOUBLE) * 2.0
                       + CAST(((strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('lb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 8, 1)) - 1) * 1) % 40 AS DOUBLE) AS vb
              FROM base WHERE ((strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('hb:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 8, 1)) - 1) * 1) % 13 != 0)
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   round(corr(va, vb), 6) + 0.0 AS pearson_r,
                   round(covar_samp(va, vb), 4) + 0.0 AS covar,
                   round(avg(va), 6) + 0.0 AS mean_a,
                   round(avg(vb), 6) + 0.0 AS mean_b,
                   round(stddev_samp(va), 6) + 0.0 AS std_a,
                   round(stddev_samp(vb), 6) + 0.0 AS std_b
            FROM a JOIN b USING (cell)
        """,
        "gini": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            t AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 64.0), 0), 63)
                     AS BIGINT) AS tx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 64.0), 0), 63) AS BIGINT) AS ty
              FROM p),
            cells AS (
              SELECT tx, ty, CAST(count(*) AS DOUBLE) AS pop
              FROM t GROUP BY tx, ty),
            z AS (
              SELECT tx // 8 AS rx, ty // 8 AS ry, pop,
                     row_number() OVER (PARTITION BY tx // 8, ty // 8
                       ORDER BY pop ASC) AS r
              FROM cells),
            g AS (
              SELECT rx, ry, count(*) AS n, sum(pop) AS sx,
                     sum(r * pop) AS srx
              FROM z GROUP BY rx, ry)
            SELECT """ + " || ".join(
                f"CAST(2 * ((ry >> {3 - 1 - i}) & 1)"
                f" + ((rx >> {3 - 1 - i}) & 1) AS VARCHAR)"
                for i in range(3)) + """ AS qk_3,
                   CAST(n AS BIGINT) AS n,
                   round(sx, 4) + 0.0 AS total,
                   round(CASE WHEN sx > 0 THEN
                         2.0 * srx / (CAST(n AS DOUBLE) * sx)
                         - (CAST(n AS DOUBLE) + 1.0)
                           / CAST(n AS DOUBLE) END, 6) + 0.0 AS gini
            FROM g
        """,
        "crosstab": f"""
            WITH base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y, i AS pid
              FROM range(1024) t(i)),
            ra AS (SELECT pid,
                          md5('xa:' || CAST(img AS VARCHAR) || ':' ||
                              CAST(x AS VARCHAR) || ':' ||
                              CAST(y AS VARCHAR)) AS h
                   FROM base),
            rb AS (SELECT pid,
                          md5('xb:' || CAST(img AS VARCHAR) || ':' ||
                              CAST(x AS VARCHAR) || ':' ||
                              CAST(y AS VARCHAR)) AS h
                   FROM base),
            la AS (SELECT pid,
                          CASE WHEN ({_MD5_HEX2}) % 19 = 0 THEN NULL
                               ELSE ({_MD5_HEX1}) % 5 END AS class_a,
                          CAST(1 + ({_MD5_HEX2}) % 1000 AS DOUBLE) AS w
                   FROM ra),
            lb AS (SELECT pid, ({_MD5_HEX1}) % 4 AS class_b
                   FROM rb WHERE ({_MD5_HEX2}) % 23 <> 0),
            j AS (SELECT class_a, class_b, count(*) AS n_cells,
                         sum(w) AS jw
                  FROM la JOIN lb USING (pid)
                  WHERE class_a IS NOT NULL
                  GROUP BY class_a, class_b),
            t AS (SELECT sum(jw) AS tot FROM j)
            SELECT CAST(class_a AS BIGINT) AS class_a,
                   CAST(class_b AS BIGINT) AS class_b,
                   CAST(n_cells AS BIGINT) AS n_cells,
                   round(jw, 4) AS joint_weight,
                   round(jw / tot, 6) AS share
            FROM j CROSS JOIN t
        """,
        "class_fractions": """
            WITH g AS (
              SELECT user_id % 5 AS user_bucket, event_type AS class,
                     sum(1.0) AS w
              FROM events WHERE event_type IS NOT NULL
              GROUP BY user_id % 5, event_type)
            SELECT user_bucket, class,
                   round(w / sum(w) OVER (PARTITION BY user_bucket), 6) AS fraction
            FROM g
        """,
        "vct": """
            WITH g AS (
              SELECT l_suppkey,
                     round(avg(l_extendedprice), 4) AS mean_price,
                     count(l_quantity) / 60.0 AS valid_frac
              FROM lineitem GROUP BY l_suppkey)
            SELECT l_suppkey,
                   CASE WHEN valid_frac >= 0.5 THEN mean_price END AS mean_price,
                   round(valid_frac, 6) AS valid_frac
            FROM g
        """,
        "decimals": """
            SELECT l_returnflag,
                   CAST(round(avg(l_extendedprice), -1) AS BIGINT) AS price_r
            FROM lineitem GROUP BY l_returnflag
        """,
        "dedupe_first": """
            SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber ASC,
                                                l_extendedprice ASC) = 1
        """,
        "topk_window": """
            SELECT o_orderpriority, o_orderkey, round(o_totalprice, 4) AS total,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                                           ORDER BY o_totalprice DESC,
                                                    o_orderkey ASC) AS BIGINT) AS rank
            FROM orders
            QUALIFY rank <= 3
        """,
        "pip_join": f"""
            WITH pts AS ({_CUSTOMER_POINTS_SQL}),
                 z AS ({_NATION_RECTS_SQL})
            SELECT p.point_id, z.poly_id
            FROM pts p JOIN z
              ON p.lon > z.lon0 AND p.lon < z.lon0 + 12.0
             AND p.lat > z.lat0 AND p.lat < z.lat0 + 9.0
        """,
        "knn_join": f"""
            WITH q AS (SELECT point_id AS q_id, lon, lat
                       FROM ({_CUSTOMER_POINTS_SQL})),
                 t AS ({_SUPPLIER_POINTS_SQL}),
                 d AS (
                   SELECT q.q_id, t.t_id,
                          2.0 * 6371007.1809 * asin(sqrt(
                            pow(sin(radians(t.lat - q.lat) / 2), 2)
                            + cos(radians(q.lat)) * cos(radians(t.lat))
                            * pow(sin(radians(t.lon - q.lon) / 2), 2)
                          )) AS dist_m
                   FROM q CROSS JOIN t)
            SELECT q_id, t_id,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY dist_m ASC, t_id ASC)
                        AS BIGINT) AS rank
            FROM d
            QUALIFY rank <= 3
        """,
        "within_distance": f"""
            WITH q AS (SELECT point_id AS q_id, lon, lat
                       FROM ({_CUSTOMER_POINTS_SQL})),
                 t AS ({_SUPPLIER_POINTS_SQL}),
                 d AS (
                   SELECT q.q_id, t.t_id,
                          2.0 * 6371007.1809 * asin(sqrt(
                            pow(sin(radians(t.lat - q.lat) / 2), 2)
                            + cos(radians(q.lat)) * cos(radians(t.lat))
                            * pow(sin(radians(t.lon - q.lon) / 2), 2)
                          )) AS dist_m
                   FROM q CROSS JOIN t)
            SELECT q_id, t_id, round(dist_m, 4) AS dist_m
            FROM d WHERE dist_m <= 1200000.0
        """,
        # OD matrix: identical synthetic positions + the geohash encoder's
        # own quantization; lag() over the total (ts, event_id) key
        "event_transitions": """
            WITH nx AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS to_type
              FROM events),
            pr AS (
              SELECT from_type, to_type, count(*) AS n
              FROM nx WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type),
            mg AS (SELECT from_type, sum(n) AS tot FROM pr
                   GROUP BY from_type)
            SELECT pr.from_type, pr.to_type,
                   CAST(pr.n AS BIGINT) AS n,
                   round(pr.n / CAST(mg.tot AS DOUBLE), 6)
                     + 0.0 AS prob
            FROM pr JOIN mg ON mg.from_type = pr.from_type
        """,
        "od_matrix": f"""
            WITH e AS (
              SELECT event_id, user_id, ts,
                     CAST((event_id * 7 + user_id * 13) % 3400 AS DOUBLE)
                       / 10.0 - 170.0 AS lon,
                     CAST((event_id * 11 + user_id * 3) % 1600 AS DOUBLE)
                       / 10.0 - 80.0 AS lat
              FROM events),
            q AS (
              SELECT user_id, ts, event_id,
                     CAST(floor(least(greatest((lon + 180.0) / 360.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 256.0) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((lat + 90.0) / 180.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 128.0) AS BIGINT) AS gy
              FROM e),
            t AS (
              SELECT gx, gy,
                     lag(gx) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pgx,
                     lag(gy) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pgy
              FROM q)
            SELECT pgx AS fgx, pgy AS fgy, gx AS tgx, gy AS tgy,
                   CAST(count(*) AS BIGINT) AS n_trips
            FROM t
            WHERE pgx IS NOT NULL AND (pgx <> gx OR pgy <> gy)
            GROUP BY pgx, pgy, gx, gy
        """,
        # dwell: Spark CAST(ts AS DOUBLE) == DuckDB epoch_us(ts)/1e6
        # bit-identically (exact integer microseconds / 1e6)
        "cell_dwell": f"""
            WITH e AS (
              SELECT event_id, user_id, ts,
                     CAST((event_id * 7 + user_id * 13) % 3400 AS DOUBLE)
                       / 10.0 - 170.0 AS lon,
                     CAST((event_id * 11 + user_id * 3) % 1600 AS DOUBLE)
                       / 10.0 - 80.0 AS lat
              FROM events),
            q AS (
              SELECT user_id, ts, event_id,
                     CAST(floor(least(greatest((lon + 180.0) / 360.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 256.0) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((lat + 90.0) / 180.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 128.0) AS BIGINT) AS gy
              FROM e),
            t AS (
              SELECT user_id, gx, gy,
                     COALESCE(epoch_us(lead(ts) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id)) / 1000000.0
                              - epoch_us(ts) / 1000000.0, 0.0) AS dt
              FROM q)
            SELECT user_id AS entity, gx, gy,
                   round(sum(dt), 4) AS dwell_s,
                   CAST(count(*) AS BIGINT) AS n_points
            FROM t GROUP BY user_id, gx, gy
        """,
        # DBSCAN: brute-force eps-graph (self-pairs included), core by
        # degree, min-id closure over core-core edges, border = MIN
        # cluster among core neighbours
        "dbscan": f"""
            WITH RECURSIVE
            p AS (SELECT point_id, lon, lat
                  FROM ({_CUSTOMER_POINTS_SQL})
                  WHERE point_id % 3 = 1),
            d AS (
              SELECT a.point_id AS pa, b.point_id AS pb
              FROM p a CROSS JOIN p b
              WHERE 2.0 * 6371007.1809 * asin(sqrt(
                      pow(sin(radians(b.lat - a.lat) / 2), 2)
                      + cos(radians(a.lat)) * cos(radians(b.lat))
                      * pow(sin(radians(b.lon - a.lon) / 2), 2)
                    )) <= 600000.0),
            deg AS (SELECT pa, count(*) AS c FROM d GROUP BY pa),
            core AS (SELECT pa AS id FROM deg WHERE c >= 4),
            ce AS (
              SELECT d.pa, d.pb FROM d
              JOIN core c1 ON c1.id = d.pa
              JOIN core c2 ON c2.id = d.pb
              WHERE d.pa <> d.pb),
            reach(id, lab) AS (
              SELECT id, id FROM core
              UNION
              SELECT ce.pb, r.lab
              FROM reach r JOIN ce ON ce.pa = r.id),
            comp AS (SELECT id, MIN(lab) AS cluster
                     FROM reach GROUP BY id),
            bord AS (
              SELECT d.pa AS id, MIN(comp.cluster) AS bcluster
              FROM d JOIN comp ON comp.id = d.pb
              GROUP BY d.pa)
            SELECT p.point_id,
                   CAST(CASE WHEN comp.id IS NOT NULL THEN 1 ELSE 0 END
                        AS BIGINT) AS is_core,
                   CAST(COALESCE(comp.cluster, bord.bcluster) AS BIGINT)
                     AS cluster
            FROM p
            LEFT JOIN comp ON comp.id = p.point_id
            LEFT JOIN bord ON bord.id = p.point_id
        """,
        "zonal_join": f"""
            WITH pts AS ({_CUSTOMER_POINTS_SQL}),
                 z AS ({_NATION_RECTS_SQL})
            SELECT z.poly_id,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(p.point_id) AS BIGINT) AS sum_ids
            FROM pts p JOIN z
              ON p.lon > z.lon0 AND p.lon < z.lon0 + 12.0
             AND p.lat > z.lat0 AND p.lat < z.lat0 + 9.0
            GROUP BY z.poly_id
        """,
        # Hilbert: the generated per-bit-level CTE chain over the proven
        # geohash quantization
        "hilbert_key": (lambda _ctes: f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL}),
            q AS (
              SELECT DISTINCT
                     CAST(floor(least(greatest((lon + 180.0) / 360.0,
                                               0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 256.0) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((lat + 90.0) / 180.0,
                                               0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                                * 128.0) AS BIGINT) AS gy
              FROM p),
            hbase AS (SELECT gx, gy, gx AS hx, gy AS hy FROM q),
            {_ctes[0]}
            SELECT gx, gy, CAST(hd AS BIGINT) AS hkey FROM {_ctes[1]}
        """)(__import__('raster2dggs_spark.functions.hilbert',
                        fromlist=['hilbert_sql_ctes'])
             .hilbert_sql_ctes("hbase", ["gx", "gy"], 8)),
        # CMS: identical salted-md5 registers (3 rows x 512 counters),
        # estimate = min over rows, absent candidates 0
        "cms_heavy_hitters": f"""
            WITH toks AS (
              SELECT unnest(regexp_extract_all(lower(text),
                                               '[a-z0-9]+')) AS t
              FROM documents),
            regs AS (
              SELECT d, bucket, count(*) AS c FROM (
                SELECT 0 AS d,
                       CAST({_MD5_HEX60} AS BIGINT) % 512 AS bucket
                FROM (SELECT md5('0:' || t) AS h FROM toks)
                UNION ALL
                SELECT 1,
                       CAST({_MD5_HEX60} AS BIGINT) % 512
                FROM (SELECT md5('1:' || t) AS h FROM toks)
                UNION ALL
                SELECT 2,
                       CAST({_MD5_HEX60} AS BIGINT) % 512
                FROM (SELECT md5('2:' || t) AS h FROM toks))
              GROUP BY d, bucket),
            cand AS (SELECT * FROM (VALUES ('the'), ('table'),
                       ('merge'), ('spark'), ('window'), ('data'),
                       ('batch'), ('zzz_absent')) v(value)),
            probes AS (
              SELECT value, d, bucket FROM (
                SELECT value, 0 AS d,
                       CAST({_MD5_HEX60} AS BIGINT) % 512 AS bucket
                FROM (SELECT value, md5('0:' || value) AS h FROM cand)
                UNION ALL
                SELECT value, 1,
                       CAST({_MD5_HEX60} AS BIGINT) % 512
                FROM (SELECT value, md5('1:' || value) AS h FROM cand)
                UNION ALL
                SELECT value, 2,
                       CAST({_MD5_HEX60} AS BIGINT) % 512
                FROM (SELECT value, md5('2:' || value) AS h FROM cand)))
            SELECT p.value,
                   CAST(min(COALESCE(r.c, 0)) AS BIGINT) AS est_count
            FROM probes p
            LEFT JOIN regs r ON r.d = p.d AND r.bucket = p.bucket
            GROUP BY p.value
        """,
        # PageRank: the same 8 damped iterations unrolled as chained CTEs
        "pagerank": _pagerank_sql(8),
        "sssp": _sssp_sql(18),
        "label_prop": _lpa_sql(4),
        "sssp_multi": _sssp_multi_sql(18),
        # triangles: identical least/greatest fold + a<b<c wedge close
        "triangle_count": """
            WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                       FROM supplier),
            eraw AS (
              SELECT k AS src, (k * 7 + 3) % 100 + 1 AS dst FROM s
              UNION ALL SELECT k, (k * 13 + 5) % 100 + 1 FROM s
              UNION ALL SELECT k, (k * 29 + 11) % 100 + 1 FROM s),
            u AS (SELECT DISTINCT least(src, dst) AS a,
                         greatest(src, dst) AS b
                  FROM eraw WHERE src <> dst)
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM u e1
            JOIN u e2 ON e2.a = e1.b
            JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        # sketches rebuilt relationally from the shared md5: KMV bottom-k
        # via row_number, HLL registers via integer div/mod + log2
        "sketch_distinct": f"""
            WITH hsrc AS (
              SELECT event_type AS etype,
                     md5(CAST(user_id AS VARCHAR)) AS h
              FROM events),
            v AS (SELECT etype,
                         CAST({_MD5_HEX60} AS BIGINT) AS hv60
                  FROM hsrc),
            dh AS (SELECT DISTINCT etype,
                          CAST(hv60 AS DOUBLE)
                            / 1152921504606846976.0 AS hv
                   FROM v),
            rk AS (SELECT etype, hv,
                          row_number() OVER (PARTITION BY etype
                                             ORDER BY hv) AS rn
                   FROM dh),
            kagg AS (SELECT etype, count(*) AS nd,
                            max(CASE WHEN rn <= 64 THEN hv END) AS hk
                     FROM rk GROUP BY etype),
            kmv AS (SELECT etype,
                           CAST(least(nd, 64) AS BIGINT) AS n_hashes,
                           round(CASE WHEN nd < 64
                                      THEN CAST(nd AS DOUBLE)
                                      ELSE 63 / hk END, 4) AS est_kmv
                    FROM kagg),
            br AS (SELECT etype, hv60 // 4503599627370496 AS b,
                          hv60 % 4503599627370496 AS w
                   FROM v),
            rr AS (SELECT etype, b,
                          CASE WHEN w > 0
                               THEN 52 - CAST(floor(log2(
                                      CAST(w AS DOUBLE))) AS BIGINT)
                               ELSE 53 END AS r
                   FROM br),
            regs AS (SELECT etype, b, max(r) AS mj
                     FROM rr GROUP BY etype, b),
            hagg AS (SELECT etype,
                            sum(power(2.0, -CAST(mj AS DOUBLE)))
                              AS ssum,
                            count(*) AS nonzero
                     FROM regs GROUP BY etype),
            hll AS (SELECT etype,
                           round(CASE WHEN ({repr(0.7213 / (1.0 + 1.079 / 256) * 65536.0)}
                                            / (ssum + (256 - nonzero)))
                                        <= 640.0
                                       AND (256 - nonzero) > 0
                                  THEN 256.0 * ln(256.0 /
                                         CAST(256 - nonzero AS DOUBLE))
                                  ELSE {repr(0.7213 / (1.0 + 1.079 / 256) * 65536.0)}
                                       / (ssum + (256 - nonzero))
                                  END, 4) AS est_hll
                    FROM hagg)
            SELECT kmv.etype AS event_type, n_hashes, est_kmv, est_hll
            FROM kmv JOIN hll ON hll.etype = kmv.etype
        """,
        # BM25: identical score expression and association order; ranks
        # by (round-4dp score DESC, doc_id) via the row_number twin
        "rrf_fuse": f"""
            WITH p AS (
              SELECT q.i AS query_id, d.doc_id
              FROM range(20) q(i), documents d),
            h1 AS (
              SELECT query_id, doc_id,
                     md5('r1:' || CAST(query_id AS VARCHAR) || ':'
                         || CAST(doc_id AS VARCHAR)) AS h
              FROM p),
            h2 AS (
              SELECT query_id, doc_id,
                     md5('r2:' || CAST(query_id AS VARCHAR) || ':'
                         || CAST(doc_id AS VARCHAR)) AS h
              FROM p),
            r1 AS (
              SELECT query_id, doc_id,
                     CAST(({_MD5_HEX1}) % 100003 AS DOUBLE) AS score
              FROM h1),
            r2 AS (
              SELECT query_id, doc_id,
                     CAST(({_MD5_HEX1}) % 100003 AS DOUBLE) AS score
              FROM h2),
            rk AS (
              SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rnk
              FROM r1
              UNION ALL
              SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC)
              FROM r2),
            g AS (
              SELECT query_id, doc_id,
                     sum(1.0 / (60 + rnk)) AS fused,
                     count(*) AS n_rankers
              FROM rk GROUP BY query_id, doc_id),
            f AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY fused DESC, doc_id ASC) AS rn
              FROM g)
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   round(fused, 6) + 0.0 AS rrf_score,
                   CAST(n_rankers AS BIGINT) AS n_rankers,
                   CAST(rn AS BIGINT) AS fused_rank
            FROM f WHERE rn <= 5
        """,
        "doc_similarity": f"""
            WITH docs AS (SELECT * FROM documents),
            tok AS (
              SELECT doc_id AS d, unnest({_TOKS}) AS t FROM docs),
            tf AS (
              SELECT d, t, CAST(count(*) AS DOUBLE) AS tf
              FROM tok GROUP BY d, t),
            nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
                   FROM docs),
            dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY t),
            wt AS (
              SELECT tf.d, tf.t, tf.tf * ln(nn.n / dfq.dfc) AS w
              FROM tf JOIN dfq ON dfq.t = tf.t CROSS JOIN nn
              WHERE dfq.dfc <= nn.n * 0.15),
            nrm AS (SELECT d, sqrt(sum(w * w)) AS nm FROM wt
                    GROUP BY d),
            dots AS (
              SELECT a.d AS ad, b.d AS bd, sum(a.w * b.w) AS dot
              FROM wt a JOIN wt b ON b.t = a.t AND b.d != a.d
              GROUP BY a.d, b.d),
            sc AS (
              SELECT ad, bd,
                     round(dot / (na.nm * nb.nm), 6) AS cosine
              FROM dots
              JOIN nrm na ON na.d = ad
              JOIN nrm nb ON nb.d = bd),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY ad
                ORDER BY cosine DESC, bd ASC) AS rn
              FROM sc)
            SELECT ad AS doc_id, bd AS similar_id,
                   cosine + 0.0 AS cosine,
                   CAST(rn AS BIGINT) AS rank
            FROM rk WHERE rn <= 3
        """,
        "bm25": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
              FROM documents),
            dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tfq AS (
              SELECT doc_id, t, count(*) AS tf
              FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
              GROUP BY doc_id, t),
            dfq AS (SELECT t, count(*) AS df FROM tfq GROUP BY t),
            q AS (SELECT * FROM (VALUES
                    (1, 'fast table scan and merge'),
                    (2, 'slow window query batch'),
                    (3, 'customer group data stream'),
                    (4, 'spark join filter key')) v(q_id, q_text)),
            qt AS (SELECT DISTINCT q_id, t FROM (
                     SELECT q_id,
                            unnest(regexp_extract_all(lower(q_text),
                                                      '[a-z0-9]+')) AS t
                     FROM q)),
            sc AS (
              SELECT qt.q_id, tfq.doc_id,
                     round(sum(
                       ln(1.0 + (st.n_docs - dfq.df + 0.5)
                                / (dfq.df + 0.5))
                       * tfq.tf * 2.2
                       / (tfq.tf + 1.2 * (1.0 - 0.75
                                          + 0.75 * dl.dl / st.avgdl))
                     ), 4) AS score
              FROM qt
              JOIN tfq ON tfq.t = qt.t
              JOIN dfq ON dfq.t = qt.t
              JOIN dl ON dl.doc_id = tfq.doc_id
              CROSS JOIN st
              GROUP BY qt.q_id, tfq.doc_id),
            r AS (SELECT q_id, doc_id, score,
                         row_number() OVER (PARTITION BY q_id
                                            ORDER BY score DESC, doc_id)
                           AS rank
                  FROM sc)
            SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score
            FROM r WHERE rank <= 10
        """,
        # identical injected-PII expression, RE2 regexes, 'g'-flag
        # replace (DuckDB default replaces only the first match)
        "pii_stats": """
            WITH aug AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 3 = 0 THEN
                         ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                         || '@mail-example.org for details'
                       WHEN doc_id % 3 = 1 THEN
                         ' node at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                         || ' responded'
                       ELSE ' call +64 555 '
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     END AS t2
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t2,
                     '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t2,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                     AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                     '\\+\\d{1,3}[ \\-]\\d{3}[ \\-]\\d{4}'))
                     AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(t2,
                     '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(t2,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                     + len(regexp_extract_all(t2,
                     '\\+\\d{1,3}[ \\-]\\d{3}[ \\-]\\d{4}'))
                     AS BIGINT) AS n_pii,
                   md5(regexp_replace(regexp_replace(regexp_replace(t2,
                     '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                     '<IPV4>', 'g'),
                     '\\+\\d{1,3}[ \\-]\\d{3}[ \\-]\\d{4}',
                     '<PHONE>', 'g')) AS redacted_md5
            FROM aug
        """,
        # word-8-gram duplicated-span coverage: correlated unnest(range)
        # slicing, exact per-gram document frequency, x8 position fan-out
        "dup_span_coverage": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
            base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
            ng AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(t, i, i + 7), ' ') AS g
              FROM toks,
                   unnest(range(1, greatest(len(t) - 6, 1))) AS r(i)
              WHERE i <= len(t) - 7),
            dfreq AS (SELECT g, count(DISTINCT doc_id) AS dfv
                      FROM ng GROUP BY g),
            dup AS (SELECT ng.doc_id, ng.pos
                    FROM ng JOIN dfreq ON dfreq.g = ng.g
                    WHERE dfv >= 2),
            cov AS (SELECT doc_id, count(DISTINCT pos + o) AS covered
                    FROM dup, unnest(range(0, 8)) AS t2(o)
                    GROUP BY doc_id),
            ndup AS (SELECT doc_id, count(*) AS n_dup_grams
                     FROM dup GROUP BY doc_id),
            ngr AS (SELECT doc_id, count(*) AS n_grams
                    FROM ng GROUP BY doc_id)
            SELECT b.doc_id,
                   CAST(b.n_tokens AS BIGINT) AS n_tokens,
                   CAST(COALESCE(ngr.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(ndup.n_dup_grams, 0) AS BIGINT)
                     AS n_dup_grams,
                   CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered,
                   round(COALESCE(cov.covered, 0)
                         / greatest(b.n_tokens, 1), 6) AS coverage
            FROM base b
            LEFT JOIN ngr ON ngr.doc_id = b.doc_id
            LEFT JOIN ndup ON ndup.doc_id = b.doc_id
            LEFT JOIN cov ON cov.doc_id = b.doc_id
        """,
        "dedup_exact": """
            WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
            g AS (SELECT content_md5, min(doc_id) AS canonical_id,
                         count(*) AS group_size
                  FROM h GROUP BY content_md5)
            SELECT h.doc_id, g.canonical_id, g.group_size, h.content_md5
            FROM h JOIN g USING (content_md5)
        """,
        "minhash_lsh": _minhash_sql(8, 4, 1000),
        "ngram_jaccard": f"""
            WITH {_WORDS_CTE},
            wf AS (SELECT doc_id, shingle FROM w
                   QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
            sz AS (SELECT doc_id, count(*) AS sz FROM wf GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM wf a JOIN wf b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
                   CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
                   round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
        """,
        "simhash": _simhash_sql(32),
        "phash_near_dup": _phash_near_dup_sql(3, 60),
        "lang_id": _lang_id_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "quality_score": f"""
            WITH t AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     len({_TOKS}) AS n_tokens,
                     length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                         AS n_alnum,
                     length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces,
                     {_TOKS} AS toks
              FROM documents),
            f AS (
              SELECT doc_id, n_chars, n_tokens, n_alnum,
                     CASE WHEN n_chars > 0
                          THEN (n_chars - n_alnum - n_spaces) / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_alnum / n_tokens
                          ELSE 0.0 END AS mean_word_len,
                     (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END)
                         AS stop_hits
              FROM t)
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(mean_word_len, 6) AS mean_word_len,
                   CAST(stop_hits AS BIGINT) AS stop_hits,
                   round(least(n_tokens / 100.0, 1.0) * 0.4
                         + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
                         + least(stop_hits / 3.0, 1.0) * 0.3, 6) AS quality
            FROM f
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                       AS ws_tokens,
                   CAST(len({_TOKS}) AS BIGINT) AS alnum_tokens,
                   CAST(ceil(length(regexp_replace(lower(text), '[^a-z0-9]', '',
                                                   'g')) / 4.0) AS BIGINT)
                       AS subword_est
            FROM documents
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents),
            n AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
            s AS (
              SELECT doc_id, toks, nt, g.k AS chunk_idx,
                     g.k * 12 AS token_start
              FROM n JOIN range(0, 100000) g(k)
                ON g.k * 12 < nt),
            c AS (
              SELECT doc_id, chunk_idx, token_start,
                     list_slice(toks, token_start + 1,
                                token_start + 16) AS chunk
              FROM s)
            SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(token_start AS BIGINT) AS token_start,
                   array_to_string(chunk, ' ') AS chunk_text,
                   CAST(len(chunk) AS BIGINT) AS n_tokens
            FROM c
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                       AS fingerprint
            FROM documents
        """,
        "windowed_events": """
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY date_trunc('hour', ts), event_type
        """,
        "sessionize": """
            WITH m AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                  > 900 * 1000000
                          THEN 1 ELSE 0 END AS new_flag
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts,
                     sum(new_flag) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) - 1
                         AS session_idx
              FROM m)
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(min(ts) AS VARCHAR) AS start_ts,
                   CAST(max(ts) AS VARCHAR) AS end_ts
            FROM s GROUP BY user_id, session_idx
        """,
        "cohort_retention": """
            WITH f AS (
              SELECT user_id, date_trunc('week', min(ts)) AS cw
              FROM events GROUP BY user_id),
            a AS (
              SELECT DISTINCT e.user_id, f.cw,
                     CAST(datediff('day', CAST(f.cw AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7
                          AS BIGINT) AS week_offset
              FROM events e JOIN f ON f.user_id = e.user_id),
            s AS (SELECT cw, count(*) AS cohort_size FROM f GROUP BY cw),
            r AS (SELECT cw, week_offset, count(*) AS n_active
                  FROM a GROUP BY cw, week_offset)
            SELECT strftime(r.cw, '%Y-%m-%d') AS cohort_week,
                   week_offset,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(cohort_size AS BIGINT) AS cohort_size,
                   round(n_active / CAST(cohort_size AS DOUBLE), 6)
                     + 0.0 AS retention
            FROM r JOIN s ON s.cw = r.cw
        """,
        "funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t, s.t1
              FROM events e JOIN s1 s ON s.user_id = e.user_id
              WHERE e.event_type = 'view' AND e.ts > s.t1
                AND e.ts <= s.t1 + INTERVAL 604800 SECONDS
              GROUP BY e.user_id, s.t1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t, s.t1
              FROM events e JOIN s2 s ON s.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s.t
                AND e.ts <= s.t1 + INTERVAL 604800 SECONDS
              GROUP BY e.user_id, s.t1),
            s4 AS (
              SELECT e.user_id, min(e.ts) AS t, s.t1
              FROM events e JOIN s3 s ON s.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s.t
                AND e.ts <= s.t1 + INTERVAL 604800 SECONDS
              GROUP BY e.user_id, s.t1),
            n1 AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM s1),
            u AS (
              SELECT 1 AS step, 'signup' AS event_type,
                     count(*) AS n FROM s1
              UNION ALL SELECT 2, 'view', count(*) FROM s2
              UNION ALL SELECT 3, 'click', count(*) FROM s3
              UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
            SELECT CAST(step AS BIGINT) AS step, event_type,
                   CAST(n AS BIGINT) AS n_entities,
                   round(n / d, 6) + 0.0 AS frac_of_first
            FROM u, n1
        """,
        "asof_join": """
            WITH l AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'click'),
                 r AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'purchase')
            SELECT l.user_id, CAST(l.event_id AS BIGINT) AS event_id,
                   CAST(l.ts AS VARCHAR) AS ts,
                   CAST(r.ts AS VARCHAR) AS matched_ts,
                   round(r.value, 4) AS pvalue
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_join_tol": """
            WITH l AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'signup'),
                 r AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'error')
            SELECT l.user_id, CAST(l.event_id AS BIGINT) AS event_id,
                   CAST(l.ts AS VARCHAR) AS ts,
                   CAST(CASE WHEN epoch_us(r.ts) - epoch_us(l.ts)
                                  <= 3600000000
                             THEN r.ts END AS VARCHAR) AS matched_ts,
                   CASE WHEN epoch_us(r.ts) - epoch_us(l.ts) <= 3600000000
                        THEN round(r.value, 4) END AS evalue
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        "range_join": """
            WITH p AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'click'),
                 iv AS (SELECT user_id, ts AS start_ts,
                               ts + INTERVAL 2 HOUR AS end_ts,
                               event_id AS purchase_id, value AS pvalue
                        FROM events WHERE event_type = 'purchase')
            SELECT p.user_id, CAST(p.event_id AS BIGINT) AS event_id,
                   CAST(count(iv.purchase_id) AS BIGINT) AS n_windows,
                   min(CAST(iv.start_ts AS VARCHAR)) AS first_start,
                   round(sum(iv.pvalue), 4) AS sum_pvalue
            FROM p LEFT JOIN iv
              ON p.user_id = iv.user_id
             AND p.ts >= iv.start_ts AND p.ts < iv.end_ts
            GROUP BY p.user_id, p.event_id
        """,
        "embedding_knn_ivf": _ivf_sql(5, 4),
        "embedding_near_dup": _near_dup_sql(0.9, 16, 2),
        "embedding_knn_pq": _pq_sql(64, 8, 16, 5, 30),
        "embedding_knn_ivfpq": _ivfpq_sql(64, 8, 16, 5, 3, 8, 30),
        "embedding_knn_ivfpq_rerank": _ivfpq_sql(
            64, 8, 16, 12, 3, 8, 30, rerank_topn=5),
        "dedup_components": _dedup_components_sql(16, 2, 1000),
        "dedup_keep_best": _dedup_keep_best_sql(16, 2, 1000),
        "leakage_split": _leakage_split_sql(16, 2, 1000),
        "zonal_windowed_events": f"""
            WITH p AS (
              SELECT event_id,
                     CAST(((event_id * 37) % 344) - 172 + 0.3 AS DOUBLE)
                         AS lon,
                     CAST(((event_id * 53) % 160) - 80 + 0.3 AS DOUBLE)
                         AS lat,
                     ts, value
              FROM events),
            z AS ({_NATION_RECTS_SQL})
            SELECT CAST(date_trunc('hour', p.ts) AS VARCHAR)
                       AS window_start,
                   z.poly_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(p.value), 4) AS sum_value
            FROM p JOIN z
              ON p.lon > z.lon0 AND p.lon < z.lon0 + 12.0
             AND p.lat > z.lat0 AND p.lat < z.lat0 + 9.0
            GROUP BY 1, 2
        """,
        "weighted_sample": """
            WITH w AS (
              SELECT doc_id,
                     CAST((doc_id * 13) % 7 + 1 AS DOUBLE) AS wt
              FROM documents),
            kk AS (
              SELECT doc_id, wt,
                     pow((((strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1) * 1) + 1.0) / 4294967296.0,
                         1.0 / wt) AS sk
              FROM w)
            SELECT doc_id, wt AS weight,
                   round(sk, 6) + 0.0 AS sample_key
            FROM kk ORDER BY sk DESC, doc_id ASC LIMIT 100
        """,
        "hash_split": _hash_split_sql(10_000),
        "pack_sequences": _pack_sql(512, 16),
        "simplify_lines": _simplify_sql(9, 16),
        "warp": (lambda bb: f"""
            WITH px AS (SELECT i % 40 AS px, i // 40 AS py
                        FROM range(1200) t(i)),
            geo AS (
              SELECT px, py,
                     degrees(({bb[0]!r} + (px + 0.5)
                              * {(bb[2] - bb[0]) / 40.0!r}) / 6378137.0)
                         AS lon,
                     degrees(2.0 * atan(exp(({bb[3]!r} - (py + 0.5)
                              * {(bb[3] - bb[1]) / 30.0!r}) / 6378137.0))
                             - pi() / 2.0) AS lat
              FROM px),
            p AS (SELECT px, py,
                         (lon - 10.0037) / 0.013 - 0.5 AS col_f,
                         (50.0041 - lat) / 0.013 - 0.5 AS row_f
                  FROM geo)
            SELECT CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
                   round(row_f * 64 + col_f, 4) AS v
            FROM p
        """)(_warp_bbox()),
        "rasterize": f"""
            WITH base AS (
              SELECT 40 + i % 16 AS tx, 40 + i // 16 AS ty,
                     md5(CAST(40 + i % 16 AS VARCHAR) || ':' ||
                         CAST(40 + i // 16 AS VARCHAR)) AS h
              FROM range(256) t(i)),
            vals AS (SELECT tx, ty, ({_MD5_HEX1}) % 100 AS v FROM base),
            px AS (SELECT i % 32 AS px, i // 32 AS py
                   FROM range(1024) t(i))
            SELECT CAST(p.px AS BIGINT) AS px,
                   CAST(p.py AS BIGINT) AS py,
                   CAST(v.v AS BIGINT) AS v
            FROM px p JOIN vals v
              ON v.tx = 40 + p.px // 2 AND v.ty = 40 + p.py // 2
        """,
        "harmonic_fit": """
            WITH base AS (
              SELECT i // 24 AS cell, i % 24 AS ts,
                     CAST(((i // 24) * 7 + (i % 24) * 13) % 23
                          + CASE WHEN (i % 24) % 12 < 6
                                 THEN (i // 24) % 5 ELSE 0 END
                          AS DOUBLE) AS v
              FROM range(4800) t(i)),
            m AS (
              SELECT cell, count(*) AS n_obs,
                     sum(cos(ts * (2.0 * pi() / 12.0))) AS sc,
                     sum(sin(ts * (2.0 * pi() / 12.0))) AS ss,
                     sum(cos(ts * (2.0 * pi() / 12.0))
                         * cos(ts * (2.0 * pi() / 12.0))) AS scc,
                     sum(sin(ts * (2.0 * pi() / 12.0))
                         * sin(ts * (2.0 * pi() / 12.0))) AS sss,
                     sum(cos(ts * (2.0 * pi() / 12.0))
                         * sin(ts * (2.0 * pi() / 12.0))) AS scs,
                     sum(v) AS sv,
                     sum(v * cos(ts * (2.0 * pi() / 12.0))) AS svc,
                     sum(v * sin(ts * (2.0 * pi() / 12.0))) AS svs
              FROM base GROUP BY cell),
            k AS (
              SELECT cell, n_obs,
                     CAST(n_obs AS DOUBLE) * (scc * sss - scs * scs)
                       - sc * (sc * sss - scs * ss)
                       + ss * (sc * scs - scc * ss) AS det,
                     sv * (scc * sss - scs * scs)
                       - sc * (svc * sss - scs * svs)
                       + ss * (svc * scs - scc * svs) AS d0,
                     CAST(n_obs AS DOUBLE) * (svc * sss - scs * svs)
                       - sv * (sc * sss - scs * ss)
                       + ss * (sc * svs - svc * ss) AS d1,
                     CAST(n_obs AS DOUBLE) * (scc * svs - svc * scs)
                       - sc * (sc * svs - svc * ss)
                       + sv * (sc * scs - scc * ss) AS d2
              FROM m)
            SELECT CAST(cell AS BIGINT) AS cell,
                   CAST(n_obs AS BIGINT) AS n_obs,
                   round(CASE WHEN abs(det) > 1e-9
                              THEN d0 / det END, 4) AS v_a0,
                   round(CASE WHEN abs(det) > 1e-9
                              THEN d1 / det END, 4) AS v_a1,
                   round(CASE WHEN abs(det) > 1e-9
                              THEN d2 / det END, 4) AS v_b1,
                   round(CASE WHEN abs(det) > 1e-9
                              THEN sqrt((d1 / det) * (d1 / det)
                                        + (d2 / det) * (d2 / det)) END, 4)
                       AS v_amp,
                   round(CASE WHEN abs(det) > 1e-9
                              THEN atan2(d2 / det, d1 / det) END, 4)
                       AS v_phase
            FROM k
        """,
        "repetition_stats": _REPETITION_SQL,
        "decontaminate": _decontaminate_sql(4, 10_000),
        "curate_docs": _curate_sql(0.5, 10_000),
        "video_frame_stats": _video_frame_stats_sql(24, 4),
        "audio_features": _audio_features_sql(16, 1024),
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                         AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM
                      (SELECT DISTINCT doc_id, term FROM toks)
                      GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS nn FROM documents),
            s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                         round(t.tf * ln(nn * 1.0 / d.df), 6) AS tfidf
                  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df, tfidf,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term ASC)
                        AS BIGINT) AS rank
            FROM s QUALIFY rank <= 5
        """,
        "compact_cells": _compact_sql(),
        "compact_cells_3h": f"""
            SELECT cell, v
            FROM read_parquet('{_FIXDIR}/compact_3h.parquet')
        """,
        "compact_cells_geohash": """
            WITH o AS (SELECT DISTINCT l_orderkey % 997 AS okey
                       FROM lineitem),
            k AS (SELECT okey,
                         unnest(CASE WHEN okey % 2 = 0 THEN
                                    [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,
                                     15,16,17,18,19,20,21,22,23,24,25,26,
                                     27,28,29,30,31]
                                ELSE [0,1,2,3,4,5,6] END) AS d
                  FROM o)
            SELECT CAST((okey * 32 + d) * 16 + 6 AS BIGINT) AS cell,
                   CAST(okey % 5 AS DOUBLE) AS v
            FROM k
        """,
        "compact_cells_quadkey": """
            WITH o AS (SELECT DISTINCT l_orderkey % 997 AS okey
                       FROM lineitem),
            f AS (SELECT okey FROM o WHERE okey < 256),
            k AS (SELECT okey,
                         unnest(CASE WHEN okey % 2 = 0 THEN [0,1,2,3]
                                ELSE [0,1,2] END) AS d
                  FROM f)
            SELECT CAST((okey * 4 + d) * 32 + 5 AS BIGINT) AS cell,
                   CAST(okey % 5 AS DOUBLE) AS v
            FROM k
        """,
        "compact_cells_a5": """
            WITH fv AS (SELECT l_orderkey % 12 AS face,
                               round(sum(l_quantity), 4) AS v
                        FROM lineitem GROUP BY 1),
            g AS (SELECT face, v, t1.q AS q, t2.d AS d
                  FROM fv,
                       (SELECT unnest([0,1,2,3,4]) AS q) t1,
                       (SELECT unnest([0,1,2,3]) AS d) t2
                  WHERE NOT (face >= 8 AND t1.q = 4 AND t2.d = 3))
            SELECT CAST(
                     (face % 8) * (1::BIGINT << 60)
                     + (2::BIGINT << 55)
                     + q * (1::BIGINT << 52)
                     + d * (1::BIGINT << 50)
                     - CASE WHEN face >= 8
                            THEN (1::BIGINT << 62) ELSE 0 END
                     - CASE WHEN face >= 8
                            THEN (1::BIGINT << 62) ELSE 0 END
                   AS BIGINT) AS cell, v
            FROM g
        """,
        "compact_cells_i4r": """
            WITH dv AS (SELECT l_orderkey % 10 AS d,
                               round(sum(l_extendedprice), 4) AS v
                        FROM lineitem GROUP BY 1),
            g AS (SELECT d, v, t1.r AS r, t2.c2 AS c2
                  FROM dv,
                       (SELECT unnest([0,1,2,3]) AS r) t1,
                       (SELECT unnest([0,1,2,3]) AS c2) t2
                  WHERE NOT (d >= 8 AND t1.r = 3 AND t2.c2 = 3))
            SELECT CAST(
                     d * (1::BIGINT << 57) + (2::BIGINT << 52)
                     + r * (1::BIGINT << 26) + c2
                   AS BIGINT) AS cell, v
            FROM g
        """,
        "s2_pixel_index": _s2_sql(11, 3),
        "s2_pixel_index_full": f"""
            SELECT s2_14, s2_06, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/s2_pixel_index_64.parquet')
        """,
        "i3h_pixel_index": f"""
            SELECT i3h_12, i3h_02, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/i3h_pixel_index_16.parquet')
        """,
        "a5_pixel_index": f"""
            SELECT a5_10, a5_02, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/a5_pixel_index_16.parquet')
        """,
        "i4r_pixel_index": f"""
            SELECT i4r_11, i4r_03, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/i4r_pixel_index_16.parquet')
        """,
        "hex7_pixel_index": f"""
            SELECT hex7_09, hex7_03, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/hex7_pixel_index_64.parquet')
        """,
        "z7_roundtrip": """
            WITH g AS (
              SELECT c_custkey AS k,
                     (1::BIGINT << 59) + (9::BIGINT << 52)
                       + ((1::BIGINT << 18) - 1)
                       + (c_custkey % 122) * (1::BIGINT << 45)
                       + ((c_custkey * 3) % 7) * (1::BIGINT << 42) + ((c_custkey * 5) % 7) * (1::BIGINT << 39) + ((c_custkey * 7) % 7) * (1::BIGINT << 36) + ((c_custkey * 9) % 7) * (1::BIGINT << 33) + ((c_custkey * 11) % 7) * (1::BIGINT << 30) + ((c_custkey * 13) % 7) * (1::BIGINT << 27) + ((c_custkey * 15) % 7) * (1::BIGINT << 24) + ((c_custkey * 17) % 7) * (1::BIGINT << 21) + ((c_custkey * 19) % 7) * (1::BIGINT << 18) AS cell,
                     (1::BIGINT << 60)
                       + ((((((((((c_custkey % 122) * 7 + ((c_custkey * 3) % 7)) * 7 + ((c_custkey * 5) % 7)) * 7 + ((c_custkey * 7) % 7)) * 7 + ((c_custkey * 9) % 7)) * 7 + ((c_custkey * 11) % 7)) * 7 + ((c_custkey * 13) % 7)) * 7 + ((c_custkey * 15) % 7)) * 7 + ((c_custkey * 17) % 7)) * 7 + ((c_custkey * 19) % 7)) * 16 + 9 AS z7
              FROM customer)
            SELECT k, cell, z7, cell AS back FROM g
        """,
        "terrain_derivatives": """
            WITH t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s
              FROM range(16) r(i)),
            d AS (
              SELECT i, w, h,
                     s / px AS p,
                     -(s * w) / px AS q
              FROM t),
            e AS (
              SELECT i, w, h, p, q,
                     atan(sqrt(p * p + q * q)) AS sr,
                     fmod(degrees(atan2(-p, -q)) + 360.0, 360.0) AS aspect
              FROM d)
            SELECT printf('img_terrain_%08d', i) AS image_id,
                   CAST((w - 2) * (h - 2) AS BIGINT) AS n_px,
                   round(degrees(sr), 4) AS slope_deg,
                   round(aspect, 4) AS aspect_deg,
                   round(255.0 * greatest(0.0,
                         cos(radians(45.0)) * cos(sr)
                         + sin(radians(45.0)) * sin(sr)
                           * cos(radians(315.0) - radians(aspect))), 4)
                       AS hillshade
            FROM e
        """,
        "d8_flow": """
            WITH t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s,
                     CASE WHEN i = 15 THEN 0 ELSE (i * 3) % 7 - 3 END AS gx,
                     CASE WHEN i = 15 THEN 0 ELSE (i * 5) % 7 - 3 END AS gy
              FROM range(16) r(i)),
            d AS (SELECT *, sqrt(px * px + px * px) AS dd FROM t),
            c AS (
              SELECT i, w, h,
                     -s * CAST(gx AS DOUBLE) / px            AS d1,
                     -s * CAST(gy + gx AS DOUBLE) / dd       AS d2,
                     -s * CAST(gy AS DOUBLE) / px            AS d3,
                     -s * CAST(gy - gx AS DOUBLE) / dd       AS d4,
                     -s * CAST(-gx AS DOUBLE) / px           AS d5,
                     -s * CAST(-gy - gx AS DOUBLE) / dd      AS d6,
                     -s * CAST(-gy AS DOUBLE) / px           AS d7,
                     -s * CAST(-gy + gx AS DOUBLE) / dd      AS d8
              FROM d),
            m AS (SELECT *,
                         greatest(d1, d2, d3, d4, d5, d6, d7, d8) AS g
                  FROM c)
            SELECT printf('img_d8_%08d', i) AS image_id,
                   CAST((w - 2) * (h - 2) AS BIGINT) AS n_px,
                   CAST(CASE WHEN g <= 0 THEN 0
                        WHEN d1 = g THEN 1 WHEN d2 = g THEN 2
                        WHEN d3 = g THEN 4 WHEN d4 = g THEN 8
                        WHEN d5 = g THEN 16 WHEN d6 = g THEN 32
                        WHEN d7 = g THEN 64 ELSE 128 END AS BIGINT) AS d8,
                   round(g, 4) + 0.0 AS drop
            FROM m
        """,
        "flow_accumulation": """
            WITH RECURSIVE t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s,
                     2 + (i * 3) % (12 + (i * 5) % 7 - 4) AS cm
              FROM range(16) r(i)),
            p AS (
              SELECT t.i, t.w, t.h, t.px, t.s, t.cm,
                     CAST(rr.r AS BIGINT) AS r, CAST(cc.c AS BIGINT) AS c,
                     sqrt(t.px * t.px + t.px * t.px) AS dd
              FROM t, range(1, 17) rr(r), range(1, 17) cc(c)
              WHERE rr.r <= t.h - 2 AND cc.c <= t.w - 2),
            d AS (
              SELECT *,
                s*(2*abs(c-cm) - 2*abs(c+1-cm) + 0) / px AS d1,
                s*(2*abs(c-cm) - 2*abs(c+1-cm) + 1) / dd AS d2,
                s*(2*abs(c-cm) - 2*abs(c-cm)   + 1) / px AS d3,
                s*(2*abs(c-cm) - 2*abs(c-1-cm) + 1) / dd AS d4,
                s*(2*abs(c-cm) - 2*abs(c-1-cm) + 0) / px AS d5,
                s*(2*abs(c-cm) - 2*abs(c-1-cm) - 1) / dd AS d6,
                s*(2*abs(c-cm) - 2*abs(c-cm)   - 1) / px AS d7,
                s*(2*abs(c-cm) - 2*abs(c+1-cm) - 1) / dd AS d8
              FROM p),
            m AS (SELECT *,
                         greatest(d1, d2, d3, d4, d5, d6, d7, d8) AS g
                  FROM d),
            e AS (
              SELECT i, r, c,
                     r + CASE WHEN d1 = g THEN 0 WHEN d2 = g THEN 1
                              WHEN d3 = g THEN 1 WHEN d4 = g THEN 1
                              WHEN d5 = g THEN 0 WHEN d6 = g THEN -1
                              WHEN d7 = g THEN -1 ELSE -1 END AS nr,
                     c + CASE WHEN d1 = g THEN 1 WHEN d2 = g THEN 1
                              WHEN d3 = g THEN 0 WHEN d4 = g THEN -1
                              WHEN d5 = g THEN -1 WHEN d6 = g THEN -1
                              WHEN d7 = g THEN 0 ELSE 1 END AS nc
              FROM m
              WHERE g > 0
                AND r + CASE WHEN d1 = g THEN 0 WHEN d2 = g THEN 1
                             WHEN d3 = g THEN 1 WHEN d4 = g THEN 1
                             WHEN d5 = g THEN 0 WHEN d6 = g THEN -1
                             WHEN d7 = g THEN -1 ELSE -1 END
                    BETWEEN 1 AND h - 2
                AND c + CASE WHEN d1 = g THEN 1 WHEN d2 = g THEN 1
                             WHEN d3 = g THEN 0 WHEN d4 = g THEN -1
                             WHEN d5 = g THEN -1 WHEN d6 = g THEN -1
                             WHEN d7 = g THEN 0 ELSE 1 END
                    BETWEEN 1 AND w - 2),
            reach AS (
              SELECT i, nr AS r, nc AS c FROM e
              UNION ALL
              SELECT e.i, e.nr, e.nc
              FROM reach q JOIN e ON e.i = q.i AND e.r = q.r AND e.c = q.c),
            acc AS (SELECT i, r, c, count(*) AS acc
                    FROM reach GROUP BY i, r, c),
            fl AS (
              SELECT p.i, COALESCE(a.acc, 0) AS acc
              FROM p LEFT JOIN acc a
                ON a.i = p.i AND a.r = p.r AND a.c = p.c)
            SELECT printf('img_valley_%08d', i) AS image_id,
                   CAST(count(*) AS BIGINT) AS n_px,
                   CAST(max(acc) AS BIGINT) AS acc_max,
                   CAST(sum(acc) AS BIGINT) AS acc_sum,
                   CAST(sum(CASE WHEN acc >= 10 THEN 1 ELSE 0 END)
                        AS BIGINT) AS stream_px
            FROM fl GROUP BY i
        """,
        # exact fixpoint of the block-synchronous Dijkstra: recursive-CTE
        # Bellman-Ford over the 8-connected chamfer graph; positive
        # weights make the 600 cost cap lossless (settled max is 517)
        "cost_distance": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y, ({_MD5_HEX1}) % 9 + 1 AS cost,
                     ((({_MD5_HEX2}) % 53) = 0 OR (x = 0 AND y = 0))
                       AS is_src
              FROM base),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by,
                     (a.cost + b.cost) *
                     (CASE WHEN a.x = b.x OR a.y = b.y THEN 5 ELSE 7 END)
                       AS w
              FROM raw a JOIN raw b
                ON a.img = b.img AND abs(a.x - b.x) <= 1
               AND abs(a.y - b.y) <= 1
               AND NOT (a.x = b.x AND a.y = b.y)),
            reach(img, x, y, d) AS (
              SELECT img, x, y, CAST(0 AS BIGINT) FROM raw WHERE is_src
              UNION
              SELECT e.img, e.bx, e.by, r.d + e.w
              FROM reach r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y
              WHERE r.d + e.w < 600)
            SELECT img, x, y, CAST(MIN(d) AS BIGINT) AS dist
            FROM reach GROUP BY img, x, y
        """,
        # backtrace: reach CTE -> settled surface -> relational
        # predecessor table (exact witness equality, min-pid ties) ->
        # recursive walk from each (15,15) target to its source
        "least_cost_path": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y, ({_MD5_HEX1}) % 9 + 1 AS cost,
                     ((({_MD5_HEX2}) % 53) = 0 OR (x = 0 AND y = 0))
                       AS is_src
              FROM base),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by,
                     (a.cost + b.cost) *
                     (CASE WHEN a.x = b.x OR a.y = b.y THEN 5 ELSE 7 END)
                       AS w
              FROM raw a JOIN raw b
                ON a.img = b.img AND abs(a.x - b.x) <= 1
               AND abs(a.y - b.y) <= 1
               AND NOT (a.x = b.x AND a.y = b.y)),
            reach(img, x, y, d) AS (
              SELECT img, x, y, CAST(0 AS BIGINT) FROM raw WHERE is_src
              UNION
              SELECT e.img, e.bx, e.by, r.d + e.w
              FROM reach r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y
              WHERE r.d + e.w < 600),
            mdp AS (
              SELECT m.img, m.x, m.y, MIN(m.d) AS d,
                     m.img * 256 + m.y * 16 + m.x AS pid,
                     bool_or(r.is_src) AS is_src
              FROM reach m JOIN raw r
                ON r.img = m.img AND r.x = m.x AND r.y = m.y
              GROUP BY m.img, m.x, m.y),
            nxt AS (
              SELECT c.pid AS u, MIN(p.pid) AS v
              FROM mdp c
              JOIN edges e ON e.img = c.img AND e.bx = c.x AND e.by = c.y
              JOIN mdp p ON p.img = e.img AND p.x = e.ax AND p.y = e.ay
              WHERE NOT c.is_src AND p.d + e.w = c.d
              GROUP BY c.pid),
            walk(tgt, pid, d, step) AS (
              SELECT pid, pid, d, 0 FROM mdp WHERE x = 15 AND y = 15
              UNION ALL
              SELECT w.tgt, n.v, m2.d, w.step + 1
              FROM walk w
              JOIN nxt n ON n.u = w.pid
              JOIN mdp m2 ON m2.pid = n.v)
            SELECT CAST(tgt AS BIGINT) AS tgt,
                   CAST(pid // 256 AS BIGINT) AS img,
                   CAST(pid % 16 AS BIGINT) AS x,
                   CAST((pid % 256) // 16 AS BIGINT) AS y,
                   CAST(d AS BIGINT) AS dist,
                   CAST(step AS BIGINT) AS step
            FROM walk
        """,
        # allocation: carry the source id through the CTE; the winner is
        # the lex-min (cost, id) — MIN(id) over rows at the minimal cost
        "cost_allocation": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y, ({_MD5_HEX1}) % 9 + 1 AS cost,
                     ((({_MD5_HEX2}) % 53) = 0 OR (x = 0 AND y = 0))
                       AS is_src,
                     (x * 31 + y * 17 + img) % 100 AS zone
              FROM base),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by,
                     (a.cost + b.cost) *
                     (CASE WHEN a.x = b.x OR a.y = b.y THEN 5 ELSE 7 END)
                       AS w
              FROM raw a JOIN raw b
                ON a.img = b.img AND abs(a.x - b.x) <= 1
               AND abs(a.y - b.y) <= 1
               AND NOT (a.x = b.x AND a.y = b.y)),
            reach(img, x, y, d, s) AS (
              SELECT img, x, y, CAST(0 AS BIGINT), zone
              FROM raw WHERE is_src
              UNION
              SELECT e.img, e.bx, e.by, r.d + e.w, r.s
              FROM reach r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y
              WHERE r.d + e.w < 600),
            md AS (
              SELECT img, x, y, MIN(d) AS d FROM reach GROUP BY img, x, y)
            SELECT r.img, r.x, r.y, CAST(r.d AS BIGINT) AS dist,
                   CAST(MIN(r.s) AS BIGINT) AS alloc
            FROM reach r
            JOIN md ON md.img = r.img AND md.x = r.x AND md.y = r.y
                   AND md.d = r.d
            GROUP BY r.img, r.x, r.y, r.d
        """,
        # two capped reaches (one per source set) joined per cell; the
        # corridor sum is exact because the legs use disjoint edges
        "cost_corridor": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y, ({_MD5_HEX1}) % 9 + 1 AS cost,
                     (x = 0 AND y = 0) OR (({_MD5_HEX2}) % 29 = 0)
                       AS is_a,
                     (x = 15 AND y = 15) OR (({_MD5_HEX2}) % 31 = 0)
                       AS is_b
              FROM base),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by,
                     (a.cost + b.cost) *
                     (CASE WHEN a.x = b.x OR a.y = b.y THEN 5 ELSE 7 END)
                       AS w
              FROM raw a JOIN raw b
                ON a.img = b.img AND abs(a.x - b.x) <= 1
               AND abs(a.y - b.y) <= 1
               AND NOT (a.x = b.x AND a.y = b.y)),
            ra(img, x, y, d) AS (
              SELECT img, x, y, CAST(0 AS BIGINT) FROM raw WHERE is_a
              UNION
              SELECT e.img, e.bx, e.by, r.d + e.w
              FROM ra r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y
              WHERE r.d + e.w < 700),
            rb(img, x, y, d) AS (
              SELECT img, x, y, CAST(0 AS BIGINT) FROM raw WHERE is_b
              UNION
              SELECT e.img, e.bx, e.by, r.d + e.w
              FROM rb r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y
              WHERE r.d + e.w < 700),
            da AS (SELECT img, x, y, MIN(d) AS d FROM ra
                   GROUP BY img, x, y),
            db AS (SELECT img, x, y, MIN(d) AS d FROM rb
                   GROUP BY img, x, y),
            corr AS (
              SELECT da.img, da.x, da.y, da.d + db.d AS corridor
              FROM da JOIN db ON db.img = da.img AND db.x = da.x
                             AND db.y = da.y),
            best AS (SELECT img, MIN(corridor) AS img_best FROM corr
                     GROUP BY img)
            SELECT c.img, c.x, c.y, CAST(c.corridor AS BIGINT) AS corridor,
                   CAST(CASE WHEN c.corridor <= b.img_best + 60
                             THEN 1 ELSE 0 END AS BIGINT) AS in_corridor
            FROM corr c JOIN best b ON b.img = c.img
        """,
        # min-id per equal-class rook component by recursive transitive
        # closure over the same-class edges; NULL-class holes left-join
        # solar: Horn via weighted 8-neighbour join (integer sums exact),
        # sun-ray horizon via same-row self-join, identical trig chain
        "solar": """
            WITH imgs AS (
              SELECT i, 12 + (i * 5) % 7 AS w, 12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     1 + i % 3 AS s
              FROM range(12) t(i)),
            zt AS (
              SELECT i, r, c, m.w, m.h, m.px,
                     CAST(((3*r*r + 5*c*c + 7*r*c + i) % 31) * s
                          AS BIGINT) AS z
              FROM imgs m, range(0, 18) rr(r), range(0, 18) cc(c)
              WHERE r < m.h AND c < m.w),
            horn AS (
              SELECT a.i, a.r, a.c, a.z, a.px,
                     sum(b.z * (b.c - a.c)
                         * CASE WHEN b.r = a.r THEN 2 ELSE 1 END)
                       AS scol,
                     sum(b.z * (b.r - a.r)
                         * CASE WHEN b.c = a.c THEN 2 ELSE 1 END)
                       AS srow
              FROM zt a JOIN zt b
                ON b.i = a.i AND abs(b.r - a.r) <= 1
               AND abs(b.c - a.c) <= 1
               AND NOT (b.r = a.r AND b.c = a.c)
              WHERE a.r BETWEEN 1 AND a.h - 2
                AND a.c BETWEEN 1 AND a.w - 2
              GROUP BY a.i, a.r, a.c, a.z, a.px),
            pq2 AS (
              SELECT i, r, c, z, px,
                     (scol / 8.0) / px AS p,
                     -(srow / 8.0) / px AS q
              FROM horn),
            slp AS (
              SELECT *,
                     radians(degrees(atan(sqrt(p * p + q * q)))) AS sr,
                     CASE WHEN p = 0 AND q = 0 THEN NULL
                          ELSE fmod(degrees(atan2(-p, -q)) + 360.0,
                                    360.0) END AS aspect
              FROM pq2),
            ray AS (
              SELECT a.i, a.r, a.c,
                     max((b.z - a.z) / ((a.c - b.c) * a.px)) AS tanw
              FROM slp a JOIN zt b
                ON b.i = a.i AND b.r = a.r AND b.c < a.c
              GROUP BY a.i, a.r, a.c),
            pxl AS (
              SELECT s2.i,
                     cos(radians(90.0 - 40.0)) * cos(s2.sr)
                     + sin(radians(90.0 - 40.0)) * sin(s2.sr)
                     * CASE WHEN s2.aspect IS NULL THEN 1.0
                            ELSE cos(radians(270.0)
                                     - radians(s2.aspect)) END
                       AS cos_inc,
                     CASE WHEN ray.tanw > tan(radians(40.0))
                          THEN 1 ELSE 0 END AS shadowed
              FROM slp s2
              JOIN ray ON ray.i = s2.i AND ray.r = s2.r
                      AND ray.c = s2.c)
            SELECT i AS img, CAST(count(*) AS BIGINT) AS n_px,
                   CAST(sum(shadowed) AS BIGINT) AS n_shadowed,
                   round(sum(cos_inc), 4) AS sum_cos_inc,
                   round(min(cos_inc), 4) AS min_cos_inc,
                   round(max(cos_inc), 4) AS max_cos_inc,
                   round(sum(1000.0 * greatest(0.0, cos_inc)
                             * CASE WHEN shadowed = 1 THEN 0.0
                                    ELSE 1.0 END), 4) AS sum_direct
            FROM pxl GROUP BY i
        """,
        # TPI/TRI/roughness: 8-way neighbour join over the closed-form z;
        # every index is an exact multiple of 1/8 so sums are order-free
        "terrain_indices": """
            WITH imgs AS (
              SELECT i, 12 + (i * 5) % 7 AS w, 12 + (i * 3) % 7 AS h,
                     1 + i % 3 AS s
              FROM range(12) t(i)),
            zt AS (
              SELECT i, r, c, m.w, m.h,
                     CAST(((3*r*r + 5*c*c + 7*r*c + i) % 31) * s
                          AS BIGINT) AS z
              FROM imgs m, range(0, 18) rr(r), range(0, 18) cc(c)
              WHERE r < m.h AND c < m.w),
            nb AS (
              SELECT a.i, a.r, a.c, a.z AS zc,
                     sum(b.z) AS nsum,
                     sum(abs(a.z - b.z)) AS adiff,
                     max(b.z) AS nmx, min(b.z) AS nmn
              FROM zt a JOIN zt b
                ON b.i = a.i AND abs(b.r - a.r) <= 1
               AND abs(b.c - a.c) <= 1
               AND NOT (b.r = a.r AND b.c = a.c)
              WHERE a.r BETWEEN 1 AND a.h - 2
                AND a.c BETWEEN 1 AND a.w - 2
              GROUP BY a.i, a.r, a.c, a.z),
            px AS (
              SELECT i, zc - nsum / 8.0 AS tpi, adiff / 8.0 AS tri,
                     greatest(zc, nmx) - least(zc, nmn) AS rough
              FROM nb)
            SELECT i AS img, CAST(count(*) AS BIGINT) AS n_px,
                   round(sum(tpi), 4) AS sum_tpi,
                   round(min(tpi), 4) AS min_tpi,
                   round(max(tpi), 4) AS max_tpi,
                   round(sum(tri), 4) AS sum_tri,
                   round(min(tri), 4) AS min_tri,
                   round(max(tri), 4) AS max_tri,
                   round(sum(rough), 4) AS sum_roughness,
                   round(min(rough), 4) AS min_roughness,
                   round(max(rough), 4) AS max_roughness
            FROM px GROUP BY i
        """,
        # zonal geometry: Manhattan-distance-1 self-join counts same-zone
        # rook adjacencies; perimeter = sum(4 - n_same)
        "zonal_geometry": f"""
            WITH base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y, 8 + img * 32 + x AS gx, 40 + y AS gy,
                     CASE WHEN (({_MD5_HEX2}) % 17) = 0 THEN NULL
                          ELSE img * 10 + (({_MD5_HEX1}) % 4) END AS zone
              FROM base),
            cells AS (SELECT * FROM raw WHERE zone IS NOT NULL),
            adj AS (
              SELECT a.zone, a.gx, a.gy, count(b.gx) AS n_same
              FROM cells a
              LEFT JOIN cells b
                ON b.zone = a.zone
               AND abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
              GROUP BY a.zone, a.gx, a.gy)
            SELECT CAST(zone AS BIGINT) AS zone,
                   CAST(count(*) AS BIGINT) AS area,
                   CAST(sum(4 - n_same) AS BIGINT) AS perimeter,
                   CAST(min(gx) AS BIGINT) AS min_gx,
                   CAST(max(gx) AS BIGINT) AS max_gx,
                   CAST(min(gy) AS BIGINT) AS min_gy,
                   CAST(max(gy) AS BIGINT) AS max_gy,
                   round(avg(gx), 4) AS cx,
                   round(avg(gy), 4) AS cy,
                   round(16.0 * count(*)
                         / (sum(4 - n_same) * sum(4 - n_same)), 4) AS iq
            FROM adj GROUP BY zone
        """,
        # R3 viewshed replayed relationally: integer floor/mod sightline
        # positions, 4-way z join for the bilinear numerator (x D^2), and
        # the cross-multiplied blocking predicate — all integer
        "viewshed": """
            WITH imgs AS (
              SELECT i, 12 + (i * 5) % 7 AS w, 12 + (i * 3) % 7 AS h,
                     1 + i % 3 AS s
              FROM range(8) t(i)),
            zt AS (
              SELECT i, r, c, m.w, m.h,
                     CAST(((3*r*r + 5*c*c + 7*r*c + i) % 31) * s
                          AS BIGINT) AS z
              FROM imgs m, range(0, 18) rr(r), range(0, 18) cc(c)
              WHERE r < m.h AND c < m.w),
            obs AS (SELECT i, z + 2 AS zo FROM zt WHERE r = 2 AND c = 3),
            tgt AS (SELECT zt.*,
                           greatest(abs(r - 2), abs(c - 3)) AS d
                    FROM zt),
            stp AS (
              SELECT t.i, t.r, t.c, t.z, t.d, k,
                     (2 * t.d + k * (t.r - 2)) // t.d AS fy,
                     (2 * t.d + k * (t.r - 2)) % t.d AS ry,
                     (3 * t.d + k * (t.c - 3)) // t.d AS fx,
                     (3 * t.d + k * (t.c - 3)) % t.d AS rx
              FROM tgt t, range(1, 18) kk(k) WHERE k < t.d),
            bil AS (
              SELECT s.*,
                     COALESCE(z00.z, 0) * (s.d - s.ry) * (s.d - s.rx)
                     + COALESCE(z01.z, 0) * (s.d - s.ry) * s.rx
                     + COALESCE(z10.z, 0) * s.ry * (s.d - s.rx)
                     + COALESCE(z11.z, 0) * s.ry * s.rx AS zk
              FROM stp s
              LEFT JOIN zt z00 ON z00.i = s.i AND z00.r = s.fy
                              AND z00.c = s.fx
              LEFT JOIN zt z01 ON z01.i = s.i AND z01.r = s.fy
                              AND z01.c = s.fx + 1
              LEFT JOIN zt z10 ON z10.i = s.i AND z10.r = s.fy + 1
                              AND z10.c = s.fx
              LEFT JOIN zt z11 ON z11.i = s.i AND z11.r = s.fy + 1
                              AND z11.c = s.fx + 1),
            blk AS (
              SELECT b.i, b.r, b.c, count(*) AS nblk
              FROM bil b JOIN obs o ON o.i = b.i
              WHERE (b.zk - o.zo * b.d * b.d) * b.d
                    > (b.z - o.zo) * b.k * b.d * b.d
              GROUP BY b.i, b.r, b.c)
            SELECT t.i AS img, t.r AS pr, t.c AS pc,
                   CAST(CASE WHEN COALESCE(nblk, 0) = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS visible
            FROM tgt t
            LEFT JOIN blk ON blk.i = t.i AND blk.r = t.r AND blk.c = t.c
        """,
        # exact EDT: brute-force all-pairs squared-distance minimum over
        # the GLOBAL lattice (tiles 32 columns apart interact)
        "euclid_distance": f"""
            WITH base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y,
                     8 + img * 32 + x AS ax, 40 + y AS ay,
                     ((({_MD5_HEX2}) % 29) = 0 OR (x = 0 AND y = 0))
                       AS is_src
              FROM base)
            SELECT t.img, t.x, t.y,
                   CAST(MIN((t.ax - s.ax) * (t.ax - s.ax)
                            + (t.ay - s.ay) * (t.ay - s.ay)) AS BIGINT)
                     AS d2
            FROM raw t JOIN raw s ON s.is_src
            GROUP BY t.img, t.x, t.y
        """,
        # allocation: MIN(zone) over all-pairs rows at the minimal d2 —
        # the lex (d2, id) tie-break the envelope folds into its integer
        # breakpoints
        "euclid_allocation": f"""
            WITH base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y,
                     8 + img * 32 + x AS ax, 40 + y AS ay,
                     ((({_MD5_HEX2}) % 29) = 0 OR (x = 0 AND y = 0))
                       AS is_src,
                     (x * 31 + y * 17 + img) % 100 AS zone
              FROM base),
            pairs AS (
              SELECT t.img, t.x, t.y,
                     (t.ax - s.ax) * (t.ax - s.ax)
                     + (t.ay - s.ay) * (t.ay - s.ay) AS d2,
                     s.zone
              FROM raw t JOIN raw s ON s.is_src),
            md AS (SELECT img, x, y, MIN(d2) AS d2
                   FROM pairs GROUP BY img, x, y)
            SELECT p.img, p.x, p.y, CAST(p.d2 AS BIGINT) AS d2,
                   CAST(MIN(p.zone) AS BIGINT) AS alloc
            FROM pairs p
            JOIN md ON md.img = p.img AND md.x = p.x AND md.y = p.y
                   AND md.d2 = p.d2
            GROUP BY p.img, p.x, p.y, p.d2
        """,
        "contour": _contour_sql(),
        "zonal_diversity": f"""
            WITH base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            q AS (
              SELECT img * 16 + (x // 4) * 4 + (y // 4) AS zone,
                     ({_MD5_HEX1}) % 6 AS cls
              FROM base WHERE ({_MD5_HEX2}) % 13 != 0),
            cnt AS (
              SELECT zone, cls, CAST(count(*) AS DOUBLE) AS c
              FROM q GROUP BY zone, cls),
            g AS (
              SELECT zone, sum(c) AS n, count(*) AS rich,
                     sum(c * ln(c)) AS clnc, sum(c * c) AS c2
              FROM cnt GROUP BY zone)
            SELECT CAST(zone AS BIGINT) AS zone,
                   CAST(n AS BIGINT) AS n_cells,
                   CAST(rich AS BIGINT) AS richness,
                   round(ln(n) - clnc / n, 6) + 0.0 AS shannon_h,
                   round(1.0 - c2 / (n * n), 6) + 0.0 AS simpson_d,
                   round(CASE WHEN rich > 1
                         THEN (ln(n) - clnc / n)
                              / ln(CAST(rich AS DOUBLE)) END, 6)
                     + 0.0 AS evenness
            FROM g
        """,
        "glcm": _glcm_sql(),
        "polygonize": _polygonize_sql(),
        "contour_stitch": _stitch_sql(),
        "edit_dist_join": """
            WITH s AS (
              SELECT c_custkey AS id,
                     regexp_replace(substring(c_name, 10, 9),
                                    '^0+', '') AS s
              FROM customer WHERE c_custkey % 7 = 0)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
            FROM s a JOIN s b ON a.id < b.id
            WHERE levenshtein(a.s, b.s) <= 1
        """,
        "region_group": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y,
                     CASE WHEN ({_MD5_HEX2}) % 17 = 0 THEN NULL
                          ELSE ({_MD5_HEX1}) % 4 END AS cls,
                     img * 256 + y * 16 + x AS pid
              FROM base),
            cl AS (SELECT * FROM raw WHERE cls IS NOT NULL),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by
              FROM cl a JOIN cl b
                ON a.img = b.img AND a.cls = b.cls
               AND abs(a.x - b.x) + abs(a.y - b.y) = 1),
            reach(img, x, y, rid) AS (
              SELECT img, x, y, pid FROM cl
              UNION
              SELECT e.img, e.bx, e.by, r.rid
              FROM reach r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y),
            lab AS (
              SELECT img, x, y, MIN(rid) AS clump
              FROM reach GROUP BY img, x, y)
            SELECT raw.img, raw.x, raw.y, CAST(lab.clump AS BIGINT) AS clump
            FROM raw LEFT JOIN lab
              ON lab.img = raw.img AND lab.x = raw.x AND lab.y = raw.y
        """,
        # sieve: the region_group closure + relational size / shared-
        # boundary counting / max-count-then-min-label argmax
        "sieve": f"""
            WITH RECURSIVE
            base AS (
              SELECT i // 256 AS img, (i % 256) % 16 AS x,
                     (i % 256) // 16 AS y,
                     md5(CAST(i // 256 AS VARCHAR) || ':' ||
                         CAST((i % 256) % 16 AS VARCHAR) || ':' ||
                         CAST((i % 256) // 16 AS VARCHAR)) AS h
              FROM range(1024) t(i)),
            raw AS (
              SELECT img, x, y,
                     CASE WHEN ({_MD5_HEX2}) % 17 = 0 THEN NULL
                          ELSE ({_MD5_HEX1}) % 4 END AS cls,
                     img * 256 + y * 16 + x AS pid
              FROM base),
            cl AS (SELECT * FROM raw WHERE cls IS NOT NULL),
            edges AS (
              SELECT a.img AS img, a.x AS ax, a.y AS ay,
                     b.x AS bx, b.y AS by
              FROM cl a JOIN cl b
                ON a.img = b.img AND a.cls = b.cls
               AND abs(a.x - b.x) + abs(a.y - b.y) = 1),
            reach(img, x, y, rid) AS (
              SELECT img, x, y, pid FROM cl
              UNION
              SELECT e.img, e.bx, e.by, r.rid
              FROM reach r
              JOIN edges e ON e.img = r.img AND e.ax = r.x AND e.ay = r.y),
            lab0 AS (
              SELECT img, x, y, MIN(rid) AS clump
              FROM reach GROUP BY img, x, y),
            lab2 AS (
              SELECT raw.img, raw.x, raw.y, raw.cls, lab0.clump
              FROM raw LEFT JOIN lab0
                ON lab0.img = raw.img AND lab0.x = raw.x
               AND lab0.y = raw.y),
            reg AS (SELECT clump, count(*) AS sz, MIN(cls) AS rcls
                    FROM lab2 WHERE clump IS NOT NULL GROUP BY clump),
            bedge AS (
              SELECT a.clump AS c1, b.clump AS c2, count(*) AS shared
              FROM lab2 a JOIN lab2 b
                ON a.img = b.img
               AND abs(a.x - b.x) + abs(a.y - b.y) = 1
               AND a.clump IS NOT NULL AND b.clump IS NOT NULL
               AND a.clump <> b.clump
              GROUP BY a.clump, b.clump),
            cand AS (
              SELECT e.c1, e.c2, e.shared
              FROM bedge e
              JOIN reg rs ON rs.clump = e.c1 AND rs.sz < 6
              JOIN reg rl ON rl.clump = e.c2 AND rl.sz >= 6),
            best AS (SELECT c1, MAX(shared) AS mx FROM cand GROUP BY c1),
            pick AS (SELECT c.c1, MIN(c.c2) AS winner
                     FROM cand c JOIN best b
                       ON b.c1 = c.c1 AND c.shared = b.mx
                     GROUP BY c.c1),
            rm AS (SELECT p.c1, r.rcls AS ncls
                   FROM pick p JOIN reg r ON r.clump = p.winner)
            SELECT l.img, l.x, l.y,
                   CAST(l.clump AS BIGINT) AS clump,
                   CAST(reg.sz AS BIGINT) AS clump_size,
                   CAST(COALESCE(rm.ncls, l.cls) AS BIGINT) AS sieved,
                   CAST(CASE WHEN rm.c1 IS NOT NULL THEN 1 ELSE 0 END
                        AS BIGINT) AS reassigned
            FROM lab2 l
            LEFT JOIN reg ON reg.clump = l.clump
            LEFT JOIN rm ON rm.c1 = l.clump
        """,
        # every ray replayed as a same-row/col/diagonal self-join with
        # the identical IEEE division; min/max/pos-count are exact
        # order-independent statistics (no float summation)
        "horizon_angles": f"""
            WITH t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s
              FROM range(16) r(i)),
            p AS (
              SELECT t.i, t.px,
                     CAST(rr.r AS BIGINT) AS r, CAST(cc.c AS BIGINT) AS c,
                     ((3 * rr.r * rr.r + 5 * cc.c * cc.c
                       + 7 * rr.r * cc.c + t.i) % 31) * t.s AS z,
                     sqrt(t.px * t.px + t.px * t.px) AS dd
              FROM t, range(0, 18) rr(r), range(0, 18) cc(c)
              WHERE rr.r <= t.h - 1 AND cc.c <= t.w - 1),
            hz AS (
              SELECT p1.i, p1.r, p1.c,
                MAX(CASE WHEN p2.r = p1.r AND p2.c > p1.c
                    THEN (p2.z - p1.z) / ((p2.c - p1.c) * p1.px) END)
                  AS te,
                MAX(CASE WHEN p2.r = p1.r AND p2.c < p1.c
                    THEN (p2.z - p1.z) / ((p1.c - p2.c) * p1.px) END)
                  AS tw,
                MAX(CASE WHEN p2.c = p1.c AND p2.r < p1.r
                    THEN (p2.z - p1.z) / ((p1.r - p2.r) * p1.px) END)
                  AS tn,
                MAX(CASE WHEN p2.c = p1.c AND p2.r > p1.r
                    THEN (p2.z - p1.z) / ((p2.r - p1.r) * p1.px) END)
                  AS ts,
                MAX(CASE WHEN p2.r - p1.r = p2.c - p1.c AND p2.r > p1.r
                    THEN (p2.z - p1.z) / ((p2.r - p1.r) * p1.dd) END)
                  AS tse
              FROM p p1
              LEFT JOIN p p2
                ON p2.i = p1.i
               AND (p2.r = p1.r OR p2.c = p1.c
                    OR p2.r - p1.r = p2.c - p1.c)
               AND NOT (p2.r = p1.r AND p2.c = p1.c)
              GROUP BY p1.i, p1.r, p1.c)
            SELECT i AS img, CAST(count(*) AS BIGINT) AS n_px,
                   round(MIN(te), 4) AS min_e, round(MAX(te), 4) AS max_e,
                   CAST(sum(CASE WHEN te > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS pos_e,
                   round(MIN(tw), 4) AS min_w, round(MAX(tw), 4) AS max_w,
                   CAST(sum(CASE WHEN tw > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS pos_w,
                   round(MIN(tn), 4) AS min_n, round(MAX(tn), 4) AS max_n,
                   CAST(sum(CASE WHEN tn > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS pos_n,
                   round(MIN(ts), 4) AS min_s, round(MAX(ts), 4) AS max_s,
                   CAST(sum(CASE WHEN ts > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS pos_s,
                   round(MIN(tse), 4) AS min_se,
                   round(MAX(tse), 4) AS max_se,
                   CAST(sum(CASE WHEN tse > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS pos_se
            FROM hz GROUP BY i
        """,
        # generic D8 replay (z recomputed in SQL, same IEEE drops and
        # scan-order argmax) + recursive path-following to the terminal
        # flow length: the watershed D8 construction + a recursive CTE
        # accumulating integer EW/NS/diagonal step counters; metric
        # length is one final dot product with the pitches
        "flow_length": f"""
            WITH RECURSIVE t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s
              FROM range(16) r(i)),
            p AS (
              SELECT t.i, t.w, t.h, t.px, t.s,
                     CAST(rr.r AS BIGINT) AS r, CAST(cc.c AS BIGINT) AS c,
                     sqrt(t.px * t.px + t.px * t.px) AS dd
              FROM t, range(1, 17) rr(r), range(1, 17) cc(c)
              WHERE rr.r <= t.h - 2 AND cc.c <= t.w - 2),
            d AS (
              SELECT *,
                {_BASIN_D8}
              FROM p),
            m AS (SELECT *,
                         greatest(d1, d2, d3, d4, d5, d6, d7, d8) AS g
                  FROM d),
            e AS (
              SELECT i, r, c,
                     r + {_BASIN_STEP_R} AS nr,
                     c + {_BASIN_STEP_C} AS nc
              FROM m
              WHERE g > 0
                AND r + {_BASIN_STEP_R} BETWEEN 1 AND h - 2
                AND c + {_BASIN_STEP_C} BETWEEN 1 AND w - 2),
            e2 AS (
              SELECT i, r, c, nr, nc,
                     CASE WHEN nr = r THEN 1 ELSE 0 END AS sew,
                     CASE WHEN nc = c THEN 1 ELSE 0 END AS sns,
                     CASE WHEN nr <> r AND nc <> c THEN 1 ELSE 0 END
                       AS sdg
              FROM e),
            path(i, r0, c0, r, c, ew, ns, dg) AS (
              SELECT i, r, c, r, c,
                     CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT)
              FROM p
              UNION ALL
              SELECT q.i, q.r0, q.c0, e2.nr, e2.nc,
                     q.ew + e2.sew, q.ns + e2.sns, q.dg + e2.sdg
              FROM path q
              JOIN e2 ON e2.i = q.i AND e2.r = q.r AND e2.c = q.c),
            term AS (
              SELECT pp.i, pp.r0, pp.c0, pp.ew, pp.ns, pp.dg
              FROM path pp
              LEFT JOIN e2 ON e2.i = pp.i AND e2.r = pp.r
                          AND e2.c = pp.c
              WHERE e2.i IS NULL)
            SELECT tm.i AS img, tm.r0 AS pr, tm.c0 AS pc,
                   CAST(tm.ew AS BIGINT) AS n_ew,
                   CAST(tm.ns AS BIGINT) AS n_ns,
                   CAST(tm.dg AS BIGINT) AS n_diag,
                   round(tm.ew * pp.px + tm.ns * pp.px + tm.dg * pp.dd, 4)
                     AS flow_len
            FROM term tm
            JOIN p pp ON pp.i = tm.i AND pp.r = tm.r0 AND pp.c = tm.c0
        """,
        "watershed_basins": f"""
            WITH RECURSIVE t AS (
              SELECT i,
                     12 + (i * 5) % 7 AS w,
                     12 + (i * 3) % 7 AS h,
                     CAST(50 + 10 * ((i * 7) % 8) AS DOUBLE) AS px,
                     CAST(1 + i % 3 AS DOUBLE) AS s
              FROM range(16) r(i)),
            p AS (
              SELECT t.i, t.w, t.h, t.px, t.s,
                     CAST(rr.r AS BIGINT) AS r, CAST(cc.c AS BIGINT) AS c,
                     sqrt(t.px * t.px + t.px * t.px) AS dd
              FROM t, range(1, 17) rr(r), range(1, 17) cc(c)
              WHERE rr.r <= t.h - 2 AND cc.c <= t.w - 2),
            d AS (
              SELECT *,
                {_BASIN_D8}
              FROM p),
            m AS (SELECT *,
                         greatest(d1, d2, d3, d4, d5, d6, d7, d8) AS g
                  FROM d),
            e AS (
              SELECT i, r, c,
                     r + {_BASIN_STEP_R} AS nr,
                     c + {_BASIN_STEP_C} AS nc
              FROM m
              WHERE g > 0
                AND r + {_BASIN_STEP_R} BETWEEN 1 AND h - 2
                AND c + {_BASIN_STEP_C} BETWEEN 1 AND w - 2),
            path(i, r0, c0, r, c) AS (
              SELECT i, r, c, r, c FROM p
              UNION ALL
              SELECT q.i, q.r0, q.c0, e.nr, e.nc
              FROM path q JOIN e ON e.i = q.i AND e.r = q.r AND e.c = q.c),
            term AS (
              SELECT pp.i, pp.r0, pp.c0, pp.r AS tr, pp.c AS tc
              FROM path pp
              LEFT JOIN e ON e.i = pp.i AND e.r = pp.r AND e.c = pp.c
              WHERE e.i IS NULL)
            SELECT tm.i AS img, tm.tr, tm.tc,
                   CAST(count(*) AS BIGINT) AS basin_px,
                   CAST(CASE WHEN mm.g <= 0 THEN 1 ELSE 0 END AS BIGINT)
                     AS is_pit
            FROM term tm
            JOIN m mm ON mm.i = tm.i AND mm.r = tm.tr AND mm.c = tm.tc
            GROUP BY tm.i, tm.tr, tm.tc, mm.g
        """,
        "regrid_geohash_maidenhead": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(floor(least(greatest((lon + 180.0) / 360.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                          * 256.0) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((lat + 90.0) / 180.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                          * 128.0) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            src AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            cen AS (
              SELECT v,
                     (CAST(gx AS DOUBLE) + 0.5) / 256.0 * 360.0 - 180.0
                         AS clon,
                     (CAST(gy AS DOUBLE) + 0.5) / 128.0 * 180.0 - 90.0
                         AS clat
              FROM src),
            wgt AS (
              SELECT *,
                     radians(360.0 / 256.0)
                     * (sin(radians(least(clat + (180.0 / 128.0) / 2.0,
                                          90.0)))
                        - sin(radians(greatest(clat - (180.0 / 128.0) / 2.0,
                                               -90.0))))
                     * 6371007.1809 * 6371007.1809 AS w
              FROM cen),
            mh AS (
              SELECT v, w,
                     floor(((clon + 180.0) / 360.0) * 18.0) AS fx1,
                     ((clon + 180.0) / 360.0) * 18.0
                         - floor(((clon + 180.0) / 360.0) * 18.0) AS rx1,
                     floor(((clat + 90.0) / 180.0) * 18.0) AS fy1,
                     ((clat + 90.0) / 180.0) * 18.0
                         - floor(((clat + 90.0) / 180.0) * 18.0) AS ry1
              FROM wgt),
            mh2 AS (
              SELECT v, w,
                     CAST(fx1 AS INT) AS dx1, CAST(fy1 AS INT) AS dy1,
                     CAST(floor(rx1 * 10.0) AS INT) AS dx2,
                     CAST(floor(ry1 * 10.0) AS INT) AS dy2
              FROM mh),
            loc AS (
              SELECT substring('ABCDEFGHIJKLMNOPQR', dx1 + 1, 1)
                     || substring('ABCDEFGHIJKLMNOPQR', dy1 + 1, 1)
                     || CAST(dx2 AS VARCHAR) || CAST(dy2 AS VARCHAR)
                         AS mh_02,
                     v, w
              FROM mh2)
            SELECT mh_02,
                   CAST(count(*) AS BIGINT) AS n_src,
                   round(sum(w) / 1000000.0, 4) AS w_km2,
                   round(sum(w * v) / sum(w), 4) AS v
            FROM loc
            GROUP BY mh_02
        """,
        "focal_mean_geohash": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(floor(least(greatest((lon + 180.0) / 360.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                          * 256.0) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((lat + 90.0) / 180.0, 0.0),
                                      {repr(__import__('math').nextafter(1.0, 0.0))})
                          * 128.0) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            f AS (
              SELECT a.gx, a.gy, a.v,
                     avg(b.v) AS fv, count(*) AS nw
              FROM c a JOIN c b
                ON ((b.gx - a.gx + 257) % 256) <= 2
               AND abs(b.gy - a.gy) <= 1
              GROUP BY a.gx, a.gy, a.v)
            SELECT gx, gy, round(v, 4) AS v, round(fv, 4) AS focal_v,
                   CAST(nw AS BIGINT) AS n_window
            FROM f
        """,
        "focal_mean_quadkey": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            f AS (
              SELECT a.gx, a.gy, a.v,
                     avg(b.v) AS fv, count(*) AS nw
              FROM c a JOIN c b
                ON ((b.gx - a.gx + 33) % 32) <= 2
               AND abs(b.gy - a.gy) <= 1
              GROUP BY a.gx, a.gy, a.v)
            SELECT gx, gy, round(v, 4) AS v, round(fv, 4) AS focal_v,
                   CAST(nw AS BIGINT) AS n_window
            FROM f
        """,
        "morphology": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy
              FROM p),
            c AS (SELECT DISTINCT gx, gy FROM q),
            o AS (SELECT dxt.dx AS dx, dyt.dy AS dy
                  FROM (SELECT unnest([-1, 0, 1]) AS dx) dxt,
                       (SELECT unnest([-1, 0, 1]) AS dy) dyt),
            dil AS (
              SELECT DISTINCT ((c.gx + o.dx + 32) % 32) AS gx,
                     (c.gy + o.dy) AS gy
              FROM c CROSS JOIN o
              WHERE c.gy + o.dy BETWEEN 0 AND 31),
            ero AS (
              SELECT a.gx, a.gy
              FROM c a CROSS JOIN o
              JOIN c b ON b.gx = ((a.gx + o.dx + 32) % 32)
                      AND b.gy = a.gy + o.dy
              GROUP BY a.gx, a.gy HAVING count(*) = 9),
            opn AS (
              SELECT DISTINCT ((e.gx + o.dx + 32) % 32) AS gx,
                     (e.gy + o.dy) AS gy
              FROM ero e CROSS JOIN o
              WHERE e.gy + o.dy BETWEEN 0 AND 31)
            SELECT 'dilate' AS op, gx, gy FROM dil
            UNION ALL SELECT 'erode' AS op, gx, gy FROM ero
            UNION ALL SELECT 'open' AS op, gx, gy FROM opn
        """,
        "variogram": f"""
            WITH t AS (SELECT t_id,
                              CAST((t_id * 13) % 101 AS DOUBLE) AS v,
                              lon, lat
                       FROM ({_SUPPLIER_POINTS_SQL})),
            d AS (
              SELECT a.t_id AS ia, b.t_id AS ib, a.v AS va, b.v AS vb,
                     2.0 * 6371007.1809 * asin(sqrt(
                       pow(sin(radians(b.lat - a.lat) / 2), 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                       * pow(sin(radians(b.lon - a.lon) / 2), 2)
                     )) AS dist_m
              FROM t a CROSS JOIN t b),
            p AS (SELECT CAST(floor(dist_m / 250000.0) AS BIGINT) AS bin,
                         vb - va AS diff
                  FROM d WHERE ia != ib AND dist_m < 2000000.0)
            SELECT bin,
                   round(bin * 250000.0, 4) AS bin_lo,
                   round((bin + 1) * 250000.0, 4) AS bin_hi,
                   round(avg(0.5 * (diff * diff)), 6) + 0.0 AS gamma,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM p GROUP BY bin
        """,
        "emerging_hotspots": """
            WITH e AS (
              SELECT CAST(((event_id * 37) % 344) - 172 + 0.3 AS DOUBLE)
                         AS lon,
                     CAST(((event_id * 53) % 160) - 80 + 0.3 AS DOUBLE)
                         AS lat,
                     CAST(floor(date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE)) / 5)
                          AS BIGINT) AS tbin
              FROM events),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 16.0), 0), 15)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 16.0), 0), 15) AS BIGINT) AS gy,
                     tbin
              FROM e),
            c AS (SELECT gx, gy, tbin, CAST(count(*) AS DOUBLE) AS v
                  FROM q GROUP BY gx, gy, tbin),
            st AS (SELECT tbin, count(*) AS n, avg(v) AS mu,
                          avg(v * v) AS m2raw
                   FROM c GROUP BY tbin),
            f AS (SELECT a.gx, a.gy, a.tbin, sum(b.v) AS sw,
                         count(*) AS nw
                  FROM c a JOIN c b ON a.tbin = b.tbin
                    AND ((b.gx - a.gx + 17) % 16) <= 2
                    AND abs(b.gy - a.gy) <= 1
                  GROUP BY a.gx, a.gy, a.tbin),
            gi AS (SELECT f.gx, f.gy, f.tbin,
                          round((sw - mu * nw)
                                / (sqrt(m2raw - mu * mu)
                                   * sqrt((n * nw - nw * nw) / (n - 1))),
                                6) AS gi
                   FROM f JOIN st ON st.tbin = f.tbin),
            mk AS (SELECT a.gx, a.gy,
                          CAST(sum(sign(b.gi - a.gi)) AS BIGINT) AS mk_s
                   FROM gi a JOIN gi b
                     ON a.gx = b.gx AND a.gy = b.gy AND a.tbin < b.tbin
                   GROUP BY a.gx, a.gy),
            per AS (SELECT gx, gy, count(*) AS n_bins, max(tbin) AS tmax
                    FROM gi GROUP BY gx, gy),
            lastgi AS (SELECT gi.gx, gi.gy, gi.gi AS gi_last
                       FROM gi JOIN per
                         ON gi.gx = per.gx AND gi.gy = per.gy
                        AND gi.tbin = per.tmax)
            SELECT per.gx, per.gy,
                   CAST(per.n_bins AS BIGINT) AS n_bins,
                   coalesce(mk.mk_s, 0) AS mk_s,
                   lastgi.gi_last + 0.0 AS gi_last,
                   CASE WHEN coalesce(mk.mk_s, 0) > 0 THEN 'intensifying'
                        WHEN coalesce(mk.mk_s, 0) < 0 THEN 'diminishing'
                        ELSE 'stable' END AS trend
            FROM per
            JOIN lastgi ON lastgi.gx = per.gx AND lastgi.gy = per.gy
            LEFT JOIN mk ON mk.gx = per.gx AND mk.gy = per.gy
        """,
        "idw_grid": f"""
            WITH c0 AS ({_CUSTOMER_POINTS_SQL.strip()}),
            cells AS (
              SELECT DISTINCT
                     CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 64.0), 0), 63)
                     AS BIGINT) AS tx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 64.0), 0), 63) AS BIGINT) AS ty
              FROM c0),
            ctr AS (
              SELECT tx, ty,
                     (CAST(tx AS DOUBLE) + 0.5) / 64.0 * 360.0 - 180.0
                         AS clon,
                     degrees(atan((exp(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5) / 64.0))
                       - exp(-(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5) / 64.0))))
                       / 2.0)) AS clat
              FROM cells),
            t AS (SELECT t_id,
                         CAST((t_id * 13) % 101 AS DOUBLE) AS v,
                         lon, lat
                  FROM ({_SUPPLIER_POINTS_SQL})),
            d AS (
              SELECT ctr.tx, ctr.ty, t.v,
                     2.0 * 6371007.1809 * asin(sqrt(
                       pow(sin(radians(t.lat - ctr.clat) / 2), 2)
                       + cos(radians(ctr.clat)) * cos(radians(t.lat))
                       * pow(sin(radians(t.lon - ctr.clon) / 2), 2)
                     )) AS dist_m
              FROM ctr CROSS JOIN t),
            g AS (
              SELECT tx, ty,
                     sum((1.0 / pow(greatest(dist_m, 0.001), 2.0)) * v)
                         AS wv,
                     sum(1.0 / pow(greatest(dist_m, 0.001), 2.0)) AS w,
                     count(*) AS n
              FROM d WHERE dist_m <= 500000.0
              GROUP BY tx, ty)
            SELECT """ + " || ".join(
                f"CAST(2 * ((ty >> {6 - 1 - i}) & 1)"
                f" + ((tx >> {6 - 1 - i}) & 1) AS VARCHAR)"
                for i in range(6)) + """ AS qk_6,
                   round(wv / w, 6) + 0.0 AS idw,
                   CAST(n AS BIGINT) AS n_contrib
            FROM g
        """,
        "buffer_cells": f"""
            WITH p AS ({_SUPPLIER_POINTS_SQL.strip()}),
            rg AS (
              SELECT t_id, lon, lat,
                     degrees(130000.0 / 6371007.1809) AS dpad
              FROM p),
            rg2 AS (
              SELECT *,
                     dpad / cos(radians(least(abs(lat) + dpad, 89.0)))
                       AS dlon
              FROM rg),
            bx AS (
              SELECT *,
                     CAST(floor((lon - dlon + 180.0) / 360.0 * 2048.0)
                          AS BIGINT) AS tx0,
                     CAST(floor((lon + dlon + 180.0) / 360.0 * 2048.0)
                          AS BIGINT) AS tx1,
                     CAST(floor(((1.0 - ln(tan(radians(least(greatest(
                            lat + dpad, -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat + dpad,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 2048.0) AS BIGINT) AS ty0,
                     CAST(floor(((1.0 - ln(tan(radians(least(greatest(
                            lat - dpad, -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat - dpad,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 2048.0) AS BIGINT) AS ty1
              FROM rg2),
            cand AS (
              SELECT b.t_id, b.lon, b.lat,
                     least(greatest(gx.k, 0), 2047) AS tx,
                     least(greatest(gy.k, 0), 2047) AS ty
              FROM bx b
              JOIN range(-1, 2049) gx(k)
                ON gx.k >= b.tx0 AND gx.k <= b.tx1
              JOIN range(-1, 2049) gy(k)
                ON gy.k >= b.ty0 AND gy.k <= b.ty1),
            ctr AS (
              SELECT DISTINCT t_id, lon, lat, tx, ty,
                     (CAST(tx AS DOUBLE) + 0.5) / 2048.0 * 360.0
                       - 180.0 AS clon,
                     degrees(atan((exp(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5) / 2048.0))
                       - exp(-(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5)
                           / 2048.0)))) / 2.0)) AS clat
              FROM cand),
            d AS (
              SELECT tx, ty,
                     2.0 * 6371007.1809 * asin(sqrt(
                       pow(sin(radians(clat - lat) / 2), 2)
                       + cos(radians(lat)) * cos(radians(clat))
                       * pow(sin(radians(clon - lon) / 2), 2)
                     )) AS dist
              FROM ctr),
            g AS (
              SELECT tx, ty, min(dist) AS dist_m, count(*) AS n
              FROM d WHERE dist <= 120000.0
              GROUP BY tx, ty)
            SELECT CAST(2 * ((ty >> 10) & 1) + ((tx >> 10) & 1) AS VARCHAR) || CAST(2 * ((ty >> 9) & 1) + ((tx >> 9) & 1) AS VARCHAR) || CAST(2 * ((ty >> 8) & 1) + ((tx >> 8) & 1) AS VARCHAR) || CAST(2 * ((ty >> 7) & 1) + ((tx >> 7) & 1) AS VARCHAR) || CAST(2 * ((ty >> 6) & 1) + ((tx >> 6) & 1) AS VARCHAR) || CAST(2 * ((ty >> 5) & 1) + ((tx >> 5) & 1) AS VARCHAR) || CAST(2 * ((ty >> 4) & 1) + ((tx >> 4) & 1) AS VARCHAR) || CAST(2 * ((ty >> 3) & 1) + ((tx >> 3) & 1) AS VARCHAR) || CAST(2 * ((ty >> 2) & 1) + ((tx >> 2) & 1) AS VARCHAR) || CAST(2 * ((ty >> 1) & 1) + ((tx >> 1) & 1) AS VARCHAR) || CAST(2 * ((ty >> 0) & 1) + ((tx >> 0) & 1) AS VARCHAR) AS qk_11,
                   CAST(floor(round(dist_m, 4)) AS BIGINT)
                     AS dist_floor_m,
                   CAST(n AS BIGINT) AS n_contrib
            FROM g
        """,
        "kde_grid": f"""
            WITH c0 AS ({_CUSTOMER_POINTS_SQL.strip()}),
            cells AS (
              SELECT DISTINCT
                     CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 64.0), 0), 63)
                     AS BIGINT) AS tx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 64.0), 0), 63) AS BIGINT) AS ty
              FROM c0),
            ctr AS (
              SELECT tx, ty,
                     (CAST(tx AS DOUBLE) + 0.5) / 64.0 * 360.0 - 180.0
                         AS clon,
                     degrees(atan((exp(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5) / 64.0))
                       - exp(-(pi() * (1.0
                         - 2.0 * (CAST(ty AS DOUBLE) + 0.5) / 64.0))))
                       / 2.0)) AS clat
              FROM cells),
            t AS (SELECT t_id,
                         CAST((t_id * 13) % 101 AS DOUBLE) AS v,
                         lon, lat
                  FROM ({_SUPPLIER_POINTS_SQL})),
            d AS (
              SELECT ctr.tx, ctr.ty, t.v,
                     2.0 * 6371007.1809 * asin(sqrt(
                       pow(sin(radians(t.lat - ctr.clat) / 2), 2)
                       + cos(radians(ctr.clat)) * cos(radians(t.lat))
                       * pow(sin(radians(t.lon - ctr.clon) / 2), 2)
                     )) AS dist_m
              FROM ctr CROSS JOIN t),
            g AS (
              SELECT tx, ty,
                     sum((1.0 - (dist_m / 800000.0) * (dist_m / 800000.0))
                         * (1.0 - (dist_m / 800000.0)
                                  * (dist_m / 800000.0)) * v) AS kw,
                     count(*) AS n
              FROM d WHERE dist_m < 800000.0
              GROUP BY tx, ty)
            SELECT """ + " || ".join(
                f"CAST(2 * ((ty >> {6 - 1 - i}) & 1)"
                f" + ((tx >> {6 - 1 - i}) & 1) AS VARCHAR)"
                for i in range(6)) + """ AS qk_6,
                   round(kw * (3.0 / (pi() * 800000.0 * 800000.0))
                         * 1.0e6, 6) + 0.0 AS density_km2,
                   CAST(n AS BIGINT) AS n_contrib
            FROM g
        """,
        "getis_gi_star": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            st AS (SELECT count(*) AS n, avg(v) AS mu,
                          avg(v * v) AS m2raw
                   FROM c),
            f AS (SELECT a.gx, a.gy, a.v, sum(b.v) AS sw,
                         count(*) AS nw
                  FROM c a JOIN c b
                    ON ((b.gx - a.gx + 33) % 32) <= 2
                   AND abs(b.gy - a.gy) <= 1
                  GROUP BY a.gx, a.gy, a.v)
            SELECT gx, gy, round(v, 4) + 0.0 AS v,
                   round(sw, 4) + 0.0 AS window_sum,
                   CAST(nw AS BIGINT) AS n_window,
                   round((sw - mu * nw)
                         / (sqrt(m2raw - mu * mu)
                            * sqrt((n * nw - nw * nw) / (n - 1))), 6)
                       + 0.0 AS gi_star
            FROM f, st
        """,
        "pansharpen": _pansharpen_sql(),
        "pyramid_rollup": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            b AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 1024.0), 0), 1023)
                     AS BIGINT) AS tx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 1024.0), 0), 1023) AS BIGINT) AS ty,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            q AS (SELECT """ + " || ".join(
                f"CAST(2 * ((ty >> {10 - 1 - i}) & 1)"
                f" + ((tx >> {10 - 1 - i}) & 1) AS VARCHAR)"
                for i in range(10)) + """ AS qk10, v FROM b)
            SELECT g.r AS res,
                   substr(qk10, 1, CAST(g.r AS INT)) AS qk,
                   round(sum(v), 4) AS v_sum,
                   CAST(count(v) AS BIGINT) AS v_count,
                   round(min(v), 4) + 0.0 AS v_min,
                   round(max(v), 4) + 0.0 AS v_max,
                   round(sum(v) / count(v), 6) + 0.0 AS v_mean
            FROM q, range(6, 11) g(r)
            GROUP BY g.r, substr(qk10, 1, CAST(g.r AS INT))
        """,
        "morans_i_local": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            st AS (SELECT avg(v) AS mu, avg(v * v) AS m2raw FROM c),
            z AS (SELECT gx, gy, v, v - mu AS z,
                         m2raw - mu * mu AS m2
                  FROM c, st),
            nb AS (SELECT a.gx, a.gy, sum(b.z) AS zsum,
                          count(*) AS nn
                   FROM z a JOIN z b
                     ON ((b.gx - a.gx + 33) % 32) <= 2
                    AND abs(b.gy - a.gy) <= 1
                    AND NOT (b.gx = a.gx AND b.gy = a.gy)
                   GROUP BY a.gx, a.gy)
            SELECT z.gx, z.gy,
                   round(z.v, 4) + 0.0 AS v,
                   round(z.z, 4) + 0.0 AS z,
                   round(zsum / nn, 4) + 0.0 AS lag,
                   round(z.z * (zsum / nn) / z.m2, 6) + 0.0 AS local_i,
                   CAST(nn AS BIGINT) AS n_neighbors
            FROM z JOIN nb ON z.gx = nb.gx AND z.gy = nb.gy
        """,
        "geary_c": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            st AS (SELECT avg(v) AS mu, count(*) AS n FROM c),
            nb AS (
              SELECT sum((a.v - b.v) * (a.v - b.v)) AS num,
                     count(*) AS w
              FROM c a JOIN c b
                ON ((b.gx - a.gx + 33) % 32) <= 2
               AND abs(b.gy - a.gy) <= 1
               AND NOT (b.gx = a.gx AND b.gy = a.gy)),
            den AS (SELECT sum((c.v - st.mu) * (c.v - st.mu)) AS ss,
                           max(st.n) AS n
                    FROM c, st)
            SELECT round((den.n - 1) * nb.num / (2.0 * nb.w * den.ss),
                         6) + 0.0 AS geary_c,
                   CAST(den.n AS BIGINT) AS n_cells,
                   CAST(nb.w AS BIGINT) AS w_sum
            FROM nb, den
        """,
        "morans_i_global": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            q AS (
              SELECT CAST(least(greatest(
                       floor(((lon + 180.0) / 360.0) * 32.0), 0), 31)
                     AS BIGINT) AS gx,
                     CAST(least(greatest(floor(
                       ((1.0 - ln(tan(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))
                          + 1.0 / cos(radians(least(greatest(lat,
                            -85.05112878), 85.05112878)))) / pi())
                        / 2.0) * 32.0), 0), 31) AS BIGINT) AS gy,
                     CAST((point_id * 11) % 97 AS DOUBLE) AS v
              FROM p),
            c AS (SELECT gx, gy, avg(v) AS v FROM q GROUP BY gx, gy),
            st AS (SELECT avg(v) AS mu, avg(v * v) AS m2raw FROM c),
            z AS (SELECT gx, gy, v - mu AS z, m2raw - mu * mu AS m2
                  FROM c, st),
            nb AS (SELECT a.gx, a.gy, sum(b.z) AS zsum,
                          count(*) AS nn
                   FROM z a JOIN z b
                     ON ((b.gx - a.gx + 33) % 32) <= 2
                    AND abs(b.gy - a.gy) <= 1
                    AND NOT (b.gx = a.gx AND b.gy = a.gy)
                   GROUP BY a.gx, a.gy),
            n AS (SELECT count(*) AS n_cells FROM c)
            SELECT round(sum(z.z * (nb.zsum / nb.nn))
                         / (count(*) * max(z.m2)), 6) + 0.0 AS moran_i,
                   CAST(max(n.n_cells) AS BIGINT) AS n_cells,
                   CAST(count(*) AS BIGINT) AS s0
            FROM z JOIN nb ON z.gx = nb.gx AND z.gy = nb.gy, n
        """,
        "focal_metric_points": f"""
            WITH p0 AS ({_CUSTOMER_POINTS_SQL.strip()}),
            p AS (SELECT point_id AS key, lon, lat,
                         CAST((point_id * 11) % 97 AS DOUBLE) AS v
                  FROM p0),
            j AS (
              SELECT a.key, a.v, b.v AS bv
              FROM p a JOIN p b
                ON round(2.0 * 6371007.1809 * asin(sqrt(least(
                     sin((radians(b.lat) - radians(a.lat)) / 2)
                       * sin((radians(b.lat) - radians(a.lat)) / 2)
                     + cos(radians(a.lat)) * cos(radians(b.lat))
                       * sin((radians(b.lon) - radians(a.lon)) / 2)
                       * sin((radians(b.lon) - radians(a.lon)) / 2),
                     1.0))), 4) <= 750000.0
            )
            SELECT key, round(v, 4) AS v, round(avg(bv), 4) AS focal_v,
                   CAST(count(*) AS BIGINT) AS n_window
            FROM j GROUP BY key, v
        """,
        "composite_best_quality": f"""
            WITH sc AS (
              SELECT image_id, scene_ts, hex7_06,
                     band_1, band_2, band_3, band_4
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet')
            ), r AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY hex7_06
                       ORDER BY round(band_4, 4) DESC, scene_ts DESC,
                                image_id DESC) AS rn,
                     count(*) OVER (PARTITION BY hex7_06) AS n_sc
              FROM sc
            )
            SELECT hex7_06, image_id AS scene,
                   CAST(scene_ts AS BIGINT) AS scene_ts,
                   round(band_4, 4) AS qa,
                   round(band_1, 4) AS band_1,
                   round(band_2, 4) AS band_2,
                   round(band_3, 4) AS band_3,
                   CAST(n_sc AS BIGINT) AS n_scenes
            FROM r WHERE rn = 1
        """,
        "composite_median": f"""
            SELECT hex7_06,
                   round(median(band_1), 4) AS band_1,
                   round(median(band_2), 4) AS band_2,
                   round(median(band_3), 4) AS band_3,
                   CAST(count(*) AS BIGINT) AS n_scenes
            FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet')
            GROUP BY hex7_06
        """,
        "change_detection": f"""
            WITH g AS (
              SELECT hex7_06,
                     count(CASE WHEN scene_ts < 1700086400 THEN 1 END)
                         AS n_before,
                     count(CASE WHEN scene_ts >= 1700086400 THEN 1 END)
                         AS n_after,
                     {", ".join(
                         f"avg(CASE WHEN scene_ts < 1700086400 "
                         f"THEN band_{i} END) AS b{i}b, "
                         f"avg(CASE WHEN scene_ts >= 1700086400 "
                         f"THEN band_{i} END) AS b{i}a"
                         for i in range(1, 4))}
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet')
              GROUP BY hex7_06)
            SELECT hex7_06,
                   CAST(n_before AS BIGINT) AS n_before,
                   CAST(n_after AS BIGINT) AS n_after,
                   {", ".join(
                       f"round(b{i}b, 4) AS band_{i}_before, "
                       f"round(b{i}a, 4) AS band_{i}_after, "
                       f"round(b{i}a - b{i}b, 4) AS band_{i}_delta, "
                       f"CASE WHEN b{i}b IS NULL AND b{i}a IS NULL THEN NULL "
                       f"WHEN b{i}b IS NULL THEN 'new' "
                       f"WHEN b{i}a IS NULL THEN 'gone' "
                       f"WHEN abs(b{i}b) > 0 "
                       f"AND abs(b{i}a - b{i}b) / abs(b{i}b) <= 0.1 "
                       f"THEN 'stable' "
                       f"WHEN NOT (abs(b{i}b) > 0) AND b{i}a = b{i}b "
                       f"THEN 'stable' "
                       f"WHEN b{i}a > b{i}b THEN 'gain' "
                       f"ELSE 'loss' END AS band_{i}_class"
                       for i in range(1, 4))}
            FROM g
        """,
        "line_intersect": """
            WITH l AS (
              SELECT i AS a_id, 3 + i % 4 AS m,
                     CAST(-170 + (i * 7) % 340 AS DOUBLE) AS a,
                     CAST(-55 + (i * 11) % 110 AS DOUBLE) AS b
              FROM range(200) r(i)),
            sa AS (
              SELECT a_id, s.j AS a_seg,
                     a + 0.25 * CAST(s.j AS DOUBLE) AS ax0,
                     b + 0.125 * CAST(s.j % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j AS DOUBLE) AS ay0,
                     a + 0.25 * CAST(s.j + 1 AS DOUBLE) AS ax1,
                     b + 0.125 * CAST((s.j + 1) % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j + 1 AS DOUBLE) AS ay1
              FROM l, range(7) s(j) WHERE s.j < m),
            sb AS (
              SELECT i AS b_id, 0 AS b_seg,
                     CAST(-170 + (i * 7) % 340 AS DOUBLE) + 0.15 AS bx0,
                     CAST(-55 + (i * 11) % 110 AS DOUBLE) - 1.0
                       + 0.05 AS by0,
                     CAST(-170 + (i * 7) % 340 AS DOUBLE) + 0.15
                       + 2.6 AS bx1,
                     CAST(-55 + (i * 11) % 110 AS DOUBLE) + 2.4
                       + 0.05 AS by1
              FROM range(200) r(i)),
            c0 AS (
              SELECT sa.*, sb.b_id, sb.b_seg, sb.bx0, sb.by0,
                     sb.bx1, sb.by1,
                     (ax1 - ax0) * (by1 - by0)
                       - (ay1 - ay0) * (bx1 - bx0) AS den
              FROM sa CROSS JOIN sb),
            c1 AS (
              SELECT *,
                     ((bx0 - ax0) * (by1 - by0)
                      - (by0 - ay0) * (bx1 - bx0)) / den AS t,
                     ((bx0 - ax0) * (ay1 - ay0)
                      - (by0 - ay0) * (ax1 - ax0)) / den AS u
              FROM c0 WHERE den != 0.0)
            SELECT CAST(a_id AS BIGINT) AS a_id,
                   CAST(a_seg AS BIGINT) AS a_seg,
                   CAST(b_id AS BIGINT) AS b_id,
                   CAST(b_seg AS BIGINT) AS b_seg,
                   round(ax0 + t * (ax1 - ax0), 6) + 0.0 AS ix,
                   round(ay0 + t * (ay1 - ay0), 6) + 0.0 AS iy
            FROM c1
            WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0
        """,
        "snap_points": f"""
            WITH p AS ({_CUSTOMER_POINTS_SQL.strip()}),
            l AS (
              SELECT i AS line_id, 3 + i % 4 AS m,
                     CAST(-170 + (i * 7) % 340 AS DOUBLE) AS a,
                     CAST(-55 + (i * 11) % 110 AS DOUBLE) AS b
              FROM range(200) r(i)),
            seg AS (
              SELECT line_id, s.j AS j,
                     a + 0.25 * CAST(s.j AS DOUBLE) AS lon0,
                     b + 0.125 * CAST(s.j % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j AS DOUBLE) AS lat0,
                     a + 0.25 * CAST(s.j + 1 AS DOUBLE) AS lon1,
                     b + 0.125 * CAST((s.j + 1) % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j + 1 AS DOUBLE) AS lat1
              FROM l, range(7) s(j) WHERE s.j < m),
            d0 AS (
              SELECT p.point_id, p.lon, p.lat, seg.line_id, seg.j,
                     seg.lon0, seg.lat0, seg.lon1, seg.lat1,
                     cos(radians(p.lat))
                       * (radians(1.0) * 6371007.1809) AS k
              FROM p CROSS JOIN seg),
            d1 AS (
              SELECT *,
                     (((lon0 - lon + 540.0) % 360.0) - 180.0) * k AS axm,
                     (lat0 - lat) * (radians(1.0) * 6371007.1809) AS aym,
                     (((lon0 - lon + 540.0) % 360.0) - 180.0) * k
                       + ((((lon1 - lon0 + 540.0) % 360.0) - 180.0)
                          * k) AS bxm,
                     (lat1 - lat) * (radians(1.0) * 6371007.1809) AS bym
              FROM d0),
            d2 AS (
              SELECT *, bxm - axm AS vx, bym - aym AS vy FROM d1),
            d3 AS (
              SELECT *,
                     CASE WHEN vx * vx + vy * vy > 0.0
                          THEN greatest(0.0, least(1.0,
                               -(axm * vx + aym * vy)
                               / (vx * vx + vy * vy)))
                          ELSE 0.0 END AS t
              FROM d2),
            d4 AS (
              SELECT point_id, lon, lat, line_id, j, k, t,
                     axm + t * vx AS cx, aym + t * vy AS cy
              FROM d3),
            d5 AS (
              SELECT *, sqrt(cx * cx + cy * cy) AS dist
              FROM d4 WHERE sqrt(cx * cx + cy * cy) <= 500000.0),
            rk AS (
              SELECT *,
                     row_number() OVER (PARTITION BY point_id
                       ORDER BY round(dist, 4), line_id, j) AS rn
              FROM d5)
            SELECT CAST(point_id AS BIGINT) AS point_id,
                   round(dist, 4) + 0.0 AS dist_m,
                   CAST(line_id AS BIGINT) AS line_id,
                   CAST(j AS BIGINT) AS seg_idx,
                   round(t, 6) + 0.0 AS t_frac,
                   round(lon + (cx / k), 6) + 0.0 AS snap_lon,
                   round(lat + cy / (radians(1.0) * 6371007.1809), 6)
                     + 0.0 AS snap_lat
            FROM rk WHERE rn = 1
        """,
        "line_cells_quadkey": """
            WITH l AS (
              SELECT i AS line_id, 3 + i % 4 AS m,
                     CAST(-170 + (i * 7) % 340 AS DOUBLE) AS a,
                     CAST(-55 + (i * 11) % 110 AS DOUBLE) AS b
              FROM range(200) r(i)),
            seg AS (
              SELECT line_id, s.j AS j,
                     a + 0.25 * CAST(s.j AS DOUBLE) AS lon0,
                     b + 0.125 * CAST(s.j % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j AS DOUBLE) AS lat0,
                     a + 0.25 * CAST(s.j + 1 AS DOUBLE) AS lon1,
                     b + 0.125 * CAST((s.j + 1) % 2 AS DOUBLE)
                       + 0.0625 * CAST(s.j + 1 AS DOUBLE) AS lat1
              FROM l, range(7) s(j) WHERE s.j < m),
            uv AS (
              SELECT line_id, j,
                     (lon0 + 180.0) / 360.0 * 4096.0 AS u0,
                     (lon1 + 180.0) / 360.0 * 4096.0 AS u1,
                     ((1.0 - ln(tan(radians(lat0))
                                + 1.0 / cos(radians(lat0))) / pi())
                      / 2.0) * 4096.0 AS v0,
                     ((1.0 - ln(tan(radians(lat1))
                                + 1.0 / cos(radians(lat1))) / pi())
                      / 2.0) * 4096.0 AS v1
              FROM seg),
            cr AS (
              SELECT *,
                     CAST(floor(least(u0, u1)) AS BIGINT) AS fu0,
                     CAST(floor(greatest(u0, u1)) AS BIGINT) AS fu1,
                     CAST(floor(least(v0, v1)) AS BIGINT) AS fv0,
                     CAST(floor(greatest(v0, v1)) AS BIGINT) AS fv1
              FROM uv),
            ts AS (
              SELECT line_id, j, u0, v0, u1, v1, 0.0 AS t FROM cr
              UNION ALL
              SELECT line_id, j, u0, v0, u1, v1, 1.0 FROM cr
              UNION ALL
              SELECT line_id, j, u0, v0, u1, v1,
                     (CAST(g.k AS DOUBLE) - u0) / (u1 - u0)
              FROM cr JOIN range(0, 4097) g(k)
                ON g.k >= fu0 + 1 AND g.k <= fu1
              UNION ALL
              SELECT line_id, j, u0, v0, u1, v1,
                     (CAST(g.k AS DOUBLE) - v0) / (v1 - v0)
              FROM cr JOIN range(0, 4097) g(k)
                ON g.k >= fv0 + 1 AND g.k <= fv1),
            mid AS (
              SELECT *,
                     lead(t) OVER (PARTITION BY line_id, j
                                   ORDER BY t) AS t2
              FROM ts),
            px AS (
              SELECT line_id,
                     u0 + (u1 - u0) * (0.5 * (t + t2)) AS um,
                     v0 + (v1 - v0) * (0.5 * (t + t2)) AS vm
              FROM mid WHERE t2 IS NOT NULL),
            xy AS (
              SELECT DISTINCT line_id,
                     CAST(least(greatest(floor(um), 0), 4095) AS BIGINT)
                         AS tx,
                     CAST(least(greatest(floor(vm), 0), 4095) AS BIGINT)
                         AS ty
              FROM px)
            SELECT DISTINCT CAST(line_id AS BIGINT) AS line_id,
                   """ + " || ".join(
                       f"CAST(2 * ((ty >> {12 - 1 - i}) & 1)"
                       f" + ((tx >> {12 - 1 - i}) & 1) AS VARCHAR)"
                       for i in range(12)) + """ AS qk_12
            FROM xy
        """,
        "polyfill_quadkey": """
            WITH s AS (
              SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
                     CAST(((s_suppkey * 41) % 330) - 165 AS DOUBLE) AS lon0,
                     CAST(((s_suppkey * 23) % 130) - 65 AS DOUBLE) AS lat0
              FROM supplier),
            v AS (
              SELECT poly_id, r.k AS k,
                     lon0 + CASE r.k WHEN 1 THEN 12.0 WHEN 2 THEN 12.0
                                     WHEN 3 THEN 5.0 WHEN 4 THEN 5.0
                                     ELSE 0.0 END AS lon,
                     lat0 + CASE r.k WHEN 2 THEN 4.0 WHEN 3 THEN 4.0
                                     WHEN 4 THEN 9.0 WHEN 5 THEN 9.0
                                     ELSE 0.0 END AS lat
              FROM s, range(6) r(k)),
            e AS (
              SELECT a.poly_id,
                     (a.lon + 180.0) / 360.0 * 256.0 AS u0,
                     ((1.0 - ln(tan(radians(a.lat))
                                + 1.0 / cos(radians(a.lat))) / pi())
                      / 2.0) * 256.0 AS v0,
                     (b.lon + 180.0) / 360.0 * 256.0 AS u1,
                     ((1.0 - ln(tan(radians(b.lat))
                                + 1.0 / cos(radians(b.lat))) / pi())
                      / 2.0) * 256.0 AS v1
              FROM v a JOIN v b
                ON a.poly_id = b.poly_id AND b.k = (a.k + 1) % 6),
            cr AS (
              SELECT poly_id, g.iy AS iy,
                     u0 + (u1 - u0)
                        * ((CAST(g.iy AS DOUBLE) + 0.5 - v0)
                           / (v1 - v0)) AS uc
              FROM e JOIN range(0, 256) g(iy)
                ON CAST(g.iy AS DOUBLE) + 0.5 >= least(v0, v1)
               AND CAST(g.iy AS DOUBLE) + 0.5 <  greatest(v0, v1)),
            p AS (
              SELECT poly_id, iy, uc,
                     row_number() OVER (PARTITION BY poly_id, iy
                                        ORDER BY uc) AS rn,
                     lead(uc) OVER (PARTITION BY poly_id, iy
                                    ORDER BY uc) AS ur
              FROM cr),
            cell AS (
              SELECT DISTINCT poly_id,
                     CAST(g.ix AS BIGINT) AS tx, CAST(iy AS BIGINT) AS ty
              FROM p JOIN range(0, 256) g(ix)
                ON g.ix >= CAST(ceil(uc - 0.5) AS BIGINT)
               AND g.ix <= CAST(ceil(ur - 0.5) AS BIGINT) - 1
              WHERE rn % 2 = 1)
            SELECT poly_id, """ + " || ".join(
                f"CAST(2 * ((ty >> {8 - 1 - i}) & 1)"
                f" + ((tx >> {8 - 1 - i}) & 1) AS VARCHAR)"
                for i in range(8)) + """ AS qk_8
            FROM cell
        """,
        # both layers rasterized relationally (scanline spans for the
        # hexes, half-open (lon, fy) span arithmetic for the rects),
        # joined on (tx, ty), then the same count/fraction algebra
        "polygon_overlay": """
            WITH s AS (
              SELECT CAST(s_suppkey AS BIGINT) AS pid,
                     CAST(((s_suppkey * 41) % 330) - 165 AS DOUBLE) AS lon0,
                     CAST(((s_suppkey * 23) % 130) - 65 AS DOUBLE) AS lat0
              FROM supplier),
            v AS (
              SELECT pid, r.k AS k,
                     lon0 + CASE r.k WHEN 1 THEN 12.0 WHEN 2 THEN 12.0
                                     WHEN 3 THEN 5.0 WHEN 4 THEN 5.0
                                     ELSE 0.0 END AS lon,
                     lat0 + CASE r.k WHEN 2 THEN 4.0 WHEN 3 THEN 4.0
                                     WHEN 4 THEN 9.0 WHEN 5 THEN 9.0
                                     ELSE 0.0 END AS lat
              FROM s, range(6) r(k)),
            e AS (
              SELECT a.pid,
                     (a.lon + 180.0) / 360.0 * 256.0 AS u0,
                     ((1.0 - ln(tan(radians(a.lat))
                                + 1.0 / cos(radians(a.lat))) / pi())
                      / 2.0) * 256.0 AS v0,
                     (b.lon + 180.0) / 360.0 * 256.0 AS u1,
                     ((1.0 - ln(tan(radians(b.lat))
                                + 1.0 / cos(radians(b.lat))) / pi())
                      / 2.0) * 256.0 AS v1
              FROM v a JOIN v b ON a.pid = b.pid AND b.k = (a.k + 1) % 6),
            cr AS (
              SELECT pid, g.iy AS iy,
                     u0 + (u1 - u0)
                        * ((CAST(g.iy AS DOUBLE) + 0.5 - v0)
                           / (v1 - v0)) AS uc
              FROM e JOIN range(0, 256) g(iy)
                ON CAST(g.iy AS DOUBLE) + 0.5 >= least(v0, v1)
               AND CAST(g.iy AS DOUBLE) + 0.5 <  greatest(v0, v1)),
            p AS (
              SELECT pid, iy, uc,
                     row_number() OVER (PARTITION BY pid, iy
                                        ORDER BY uc) AS rn,
                     lead(uc) OVER (PARTITION BY pid, iy
                                    ORDER BY uc) AS ur
              FROM cr),
            cella AS (
              SELECT DISTINCT pid AS a_id,
                     CAST(g.ix AS BIGINT) AS tx, CAST(iy AS BIGINT) AS ty
              FROM p JOIN range(0, 256) g(ix)
                ON g.ix >= CAST(ceil(uc - 0.5) AS BIGINT)
               AND g.ix <= CAST(ceil(ur - 0.5) AS BIGINT) - 1
              WHERE rn % 2 = 1),
            rb AS (
              SELECT pid AS b_id,
                     lon0 + (pid % 7) - 3.0 AS blon0,
                     lat0 + (pid % 5) - 2.0 AS blat0
              FROM s),
            rbuv AS (
              SELECT b_id,
                     (blon0 + 180.0) / 360.0 * 256.0 AS u0,
                     (blon0 + 10.0 + 180.0) / 360.0 * 256.0 AS u1,
                     ((1.0 - ln(tan(radians(blat0 + 6.0))
                                + 1.0 / cos(radians(blat0 + 6.0))) / pi())
                      / 2.0) * 256.0 AS vn,
                     ((1.0 - ln(tan(radians(blat0))
                                + 1.0 / cos(radians(blat0))) / pi())
                      / 2.0) * 256.0 AS vs
              FROM rb),
            cellb AS (
              SELECT b_id, CAST(gx.ix AS BIGINT) AS tx,
                     CAST(gy.iy AS BIGINT) AS ty
              FROM rbuv
              JOIN range(0, 256) gy(iy)
                ON CAST(gy.iy AS DOUBLE) + 0.5 >= vn
               AND CAST(gy.iy AS DOUBLE) + 0.5 <  vs
              JOIN range(0, 256) gx(ix)
                ON gx.ix >= CAST(ceil(u0 - 0.5) AS BIGINT)
               AND gx.ix <= CAST(ceil(u1 - 0.5) AS BIGINT) - 1),
            inter AS (
              SELECT a_id, b_id, count(*) AS n_shared
              FROM cella a JOIN cellb b
                ON a.tx = b.tx AND a.ty = b.ty
              GROUP BY a_id, b_id),
            na AS (SELECT a_id, count(*) AS n_a FROM cella GROUP BY a_id),
            nb AS (SELECT b_id, count(*) AS n_b FROM cellb GROUP BY b_id)
            SELECT i.a_id, i.b_id,
                   CAST(i.n_shared AS BIGINT) AS n_shared,
                   CAST(na.n_a AS BIGINT) AS n_a,
                   CAST(nb.n_b AS BIGINT) AS n_b,
                   round(i.n_shared / na.n_a, 6) AS frac_a,
                   round(i.n_shared / nb.n_b, 6) AS frac_b,
                   round(i.n_shared / (na.n_a + nb.n_b - i.n_shared), 6)
                     AS jaccard
            FROM inter i
            JOIN na ON na.a_id = i.a_id
            JOIN nb ON nb.b_id = i.b_id
        """,
        "rolling_smooth": f"""
            WITH sc AS (
              SELECT hex7_06,
                     CAST(right(image_id, 1) AS INT) AS epoch,
                     band_1, band_2, band_3
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet'))
            SELECT hex7_06, CAST(epoch AS BIGINT) AS epoch,
                   {", ".join(
                       f"round(avg(band_{i}) OVER w, 4) + 0.0 "
                       f"AS band_{i}_smooth" for i in range(1, 4))},
                   CAST(count(*) OVER w AS BIGINT) AS n_in_window
            FROM sc
            WINDOW w AS (PARTITION BY hex7_06
                         ORDER BY CAST(epoch AS BIGINT)
                         RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        """,
        "interpolate_gaps": f"""
            WITH sc AS (
              SELECT hex7_06,
                     CAST(right(image_id, 1) AS INT) AS epoch,
                     CAST(substr(image_id, 11, 4) AS INT) AS fp,
                     band_1, band_2, band_3
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet')),
            g AS (SELECT * FROM sc
                  WHERE NOT (epoch = 1 AND fp % 2 = 0)),
            cg AS (SELECT hex7_06, CAST(r.x AS DOUBLE) AS x
                   FROM (SELECT DISTINCT hex7_06 FROM g), range(3) r(x)),
            pn AS (
              SELECT cg.hex7_06, cg.x,
                     max(g.epoch) FILTER (g.epoch <= cg.x) AS px,
                     min(g.epoch) FILTER (g.epoch >= cg.x) AS nx
              FROM cg JOIN g USING (hex7_06)
              GROUP BY cg.hex7_06, cg.x)
            SELECT pn.hex7_06, CAST(pn.x AS BIGINT) AS epoch,
                   {", ".join(
                       f"round(CASE "
                       f"WHEN pn.px IS NULL THEN nv.band_{i} "
                       f"WHEN pn.nx IS NULL THEN pv.band_{i} "
                       f"WHEN pn.px = pn.nx THEN pv.band_{i} "
                       f"ELSE pv.band_{i} + (nv.band_{i} - pv.band_{i})"
                       f" * ((pn.x - pn.px) / (pn.nx - pn.px)) END, 4)"
                       f" + 0.0 AS band_{i}"
                       for i in range(1, 4))}
            FROM pn
            LEFT JOIN g pv ON pv.hex7_06 = pn.hex7_06 AND pv.epoch = pn.px
            LEFT JOIN g nv ON nv.hex7_06 = pn.hex7_06 AND nv.epoch = pn.nx
        """,
        "anomaly": f"""
            WITH sc AS (
              SELECT hex7_06, image_id, band_1, band_2, band_3
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet')),
            clim AS (
              SELECT hex7_06,
                     {", ".join(
                         f"avg(band_{i}) AS m{i}, "
                         f"stddev_samp(band_{i}) AS s{i}"
                         for i in range(1, 4))}
              FROM sc GROUP BY hex7_06)
            SELECT sc.hex7_06, sc.image_id,
                   {", ".join(
                       f"CASE WHEN s{i} > 0 THEN "
                       f"round((band_{i} - m{i}) / s{i}, 4) + 0.0 "
                       f"END AS band_{i}_z"
                       for i in range(1, 4))}
            FROM sc JOIN clim ON clim.hex7_06 = sc.hex7_06
        """,
        "robust_trend": f"""
            WITH base AS MATERIALIZED (
              SELECT i % 200 AS cell, i // 200 AS ep
              FROM range(1600) t(i)),
            hh AS MATERIALIZED (
              SELECT cell, ep,
                     md5(CAST(cell AS VARCHAR) || ':'
                         || CAST(ep AS VARCHAR)) AS h
              FROM base),
            d AS MATERIALIZED (
              SELECT cell, CAST(ep AS DOUBLE) AS x,
                     CAST(({_MD5_HEX1}) % 50
                          + ep * (cell % 7) AS DOUBLE) AS v
              FROM hh),
            p AS (
              SELECT a.cell,
                     (b.v - a.v) / (b.x - a.x) AS slope,
                     sign(b.v - a.v) AS sg
              FROM d a JOIN d b
                ON b.cell = a.cell AND b.x > a.x),
            pa AS (
              SELECT cell, quantile_cont(slope, 0.5) AS sen_slope,
                     sum(sg) AS mk_s, count(*) AS n_pairs
              FROM p GROUP BY cell),
            tt AS (SELECT cell, v, count(*) AS t FROM d
                   GROUP BY cell, v),
            tg AS (SELECT cell, sum(t) AS n_obs,
                          sum(t * (t - 1) * (2 * t + 5)) AS tc
                   FROM tt GROUP BY cell),
            j AS (
              SELECT pa.cell, pa.sen_slope, pa.mk_s, pa.n_pairs,
                     tg.n_obs,
                     (CAST(tg.n_obs AS DOUBLE) * (tg.n_obs - 1)
                      * (2 * CAST(tg.n_obs AS DOUBLE) + 5) - tg.tc)
                       / 18.0 AS var_s
              FROM pa JOIN tg USING (cell))
            SELECT CAST(cell AS BIGINT) AS cell,
                   CAST(n_obs AS BIGINT) AS n_obs,
                   CAST(n_pairs AS BIGINT) AS n_pairs,
                   round(sen_slope, 6) + 0.0 AS sen_slope,
                   CAST(mk_s AS BIGINT) AS mk_s,
                   round(CASE WHEN var_s > 0 THEN
                         CASE WHEN mk_s > 0
                              THEN (mk_s - 1) / sqrt(var_s)
                              WHEN mk_s < 0
                              THEN (mk_s + 1) / sqrt(var_s)
                              ELSE 0.0 END END, 6) + 0.0 AS mk_z
            FROM j
        """,
        "trend": f"""
            WITH sc AS (
              SELECT hex7_06,
                     CAST(right(image_id, 1) AS DOUBLE) AS x,
                     band_1, band_2, band_3, band_4
              FROM read_parquet('{_FIXDIR}/composite_stack_6x3.parquet'))
            SELECT hex7_06, CAST(count(*) AS BIGINT) AS n_obs,
                   {", ".join(
                       f"round(regr_slope(band_{i}, x), 4) + 0.0 "
                       f"AS band_{i}_slope, "
                       f"round(regr_intercept(band_{i}, x), 4) + 0.0 "
                       f"AS band_{i}_intercept, "
                       f"round(regr_r2(band_{i}, x), 4) + 0.0 AS band_{i}_r2"
                       for i in range(1, 5))}
            FROM sc GROUP BY hex7_06
        """,
        "e9r_pixel_index": f"""
            SELECT e9r_07, e9r_02, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/e9r_pixel_index_16.parquet')
        """,
        "e4r_pixel_index": f"""
            SELECT e4r_11, e4r_03, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/e4r_pixel_index_16.parquet')
        """,
        "compact_cells_e4r": """
            WITH dv AS (SELECT l_orderkey % 10 AS d,
                               round(sum(l_extendedprice), 4) AS v
                        FROM lineitem GROUP BY 1),
            g AS (SELECT d, v, t1.r AS r, t2.c2 AS c2
                  FROM dv,
                       (SELECT unnest(range(0, 4)) AS r) t1,
                       (SELECT unnest(range(0, 4)) AS c2) t2
                  WHERE NOT (d >= 8 AND t1.r = 3 AND t2.c2 = 3))
            SELECT CAST(
                     d * (1::BIGINT << 57) + (2::BIGINT << 52)
                     + r * (1::BIGINT << 26) + c2
                   AS BIGINT) AS cell, v
            FROM g
        """,
        "i9r_pixel_index": f"""
            SELECT i9r_07, i9r_02, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 5))}
            FROM read_parquet('{_FIXDIR}/i9r_pixel_index_16.parquet')
        """,
        "compact_cells_i9r": """
            WITH dv AS (SELECT l_orderkey % 10 AS d,
                               round(sum(l_extendedprice), 4) AS v
                        FROM lineitem GROUP BY 1),
            g AS (SELECT d, v, t1.r AS r, t2.c2 AS c2
                  FROM dv,
                       (SELECT unnest(range(0, 9)) AS r) t1,
                       (SELECT unnest(range(0, 9)) AS c2) t2
                  WHERE NOT (d >= 8 AND t1.r = 8 AND t2.c2 = 8))
            SELECT CAST(
                     d * (1::BIGINT << 57) + (2::BIGINT << 52)
                     + r * (1::BIGINT << 26) + c2
                   AS BIGINT) AS cell, v
            FROM g
        """,
        "geotiff_pixel_index": f"""
            SELECT hex7_11, hex7_05, CAST(n_px AS BIGINT) AS n_px,
                   {", ".join(f"round(band_{i}, 4) AS band_{i}"
                              for i in range(1, 4))}
            FROM read_parquet('{_FIXDIR}/geotiff_pixel_index.parquet')
        """,
        "conic_pixel_index": f"""
            SELECT hex7_09, hex7_03, CAST(n_px AS BIGINT) AS n_px,
                   round(band_1, 4) AS band_1
            FROM read_parquet('{_FIXDIR}/conic_pixel_index_16.parquet')
        """,
        "polar_pixel_index": f"""
            SELECT hex7_07, hex7_01, CAST(n_px AS BIGINT) AS n_px,
                   round(band_1, 4) AS band_1
            FROM read_parquet('{_FIXDIR}/polar_pixel_index_16.parquet')
        """,
        "utm_pixel_index": f"""
            SELECT hex7_09, hex7_03, CAST(n_px AS BIGINT) AS n_px,
                   round(band_1, 4) AS band_1
            FROM read_parquet('{_FIXDIR}/utm_pixel_index_16.parquet')
        """,
        "sinusoidal_pixel_index": f"""
            SELECT hex7_07, hex7_02, CAST(n_px AS BIGINT) AS n_px,
                   round(band_1, 4) AS band_1
            FROM read_parquet('{_FIXDIR}/sinu_pixel_index_16.parquet')
        """,
        "jpeg_pixel_index": f"""
            SELECT hex7_07, hex7_02, CAST(n_px AS BIGINT) AS n_px,
                   round(band_1, 4) AS band_1, round(band_2, 4) AS band_2,
                   round(band_3, 4) AS band_3
            FROM read_parquet('{_FIXDIR}/jpeg_pixel_index.parquet')
        """,
        "sample_points_lanczos": """
            WITH p AS (
              SELECT c_custkey AS point_id,
                     (((c_custkey * 43) % 500 + 60) / 1000.0) / 0.013 - 0.5
                         AS col_f,
                     (((c_custkey * 61) % 340 + 60) / 1000.0) / 0.013 - 0.5
                         AS row_f
              FROM customer),
            ks AS (SELECT range AS k FROM range(-2, 4)),
            wgt AS (
              SELECT point_id, col_f, row_f, k,
                     CASE WHEN abs(col_f - floor(col_f) - k) < 1e-12 THEN 1.0
                          ELSE sin(pi()*(col_f - floor(col_f) - k))
                               / (pi()*(col_f - floor(col_f) - k))
                             * sin(pi()*(col_f - floor(col_f) - k)/3)
                               / (pi()*(col_f - floor(col_f) - k)/3)
                     END AS wx,
                     CASE WHEN abs(row_f - floor(row_f) - k) < 1e-12 THEN 1.0
                          ELSE sin(pi()*(row_f - floor(row_f) - k))
                               / (pi()*(row_f - floor(row_f) - k))
                             * sin(pi()*(row_f - floor(row_f) - k)/3)
                               / (pi()*(row_f - floor(row_f) - k)/3)
                     END AS wy
              FROM p CROSS JOIN ks),
            eff AS (
              SELECT point_id,
                     max(floor(col_f)) + sum(wx * k) / sum(wx) AS col_eff,
                     max(floor(row_f)) + sum(wy * k) / sum(wy) AS row_eff
              FROM wgt GROUP BY point_id)
            SELECT point_id, round(row_eff * 64 + col_eff, 4) AS v FROM eff
        """,
        "overlay_list": f"""
            WITH v AS (SELECT * FROM
                 read_parquet('{_FIXDIR}/overlay_values_16.parquet'))
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   array_to_string(
                       list(CAST(CAST(value AS BIGINT) AS VARCHAR)
                            ORDER BY value), ',') AS values_str,
                   CAST(count(*) AS BIGINT) AS n_values
            FROM v GROUP BY cell, parent
        """,
        "point_list": f"""
            WITH v AS (SELECT * FROM
                 read_parquet('{_FIXDIR}/point_list_8.parquet'))
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   {", ".join(
                       "coalesce(array_to_string("
                       f"list(CAST(CAST(round(band_{b} * 10000) AS BIGINT) "
                       f"AS VARCHAR) ORDER BY band_{b}) "
                       f"FILTER (WHERE NOT isnan(band_{b})), ','), '') "
                       f"AS values_str_b{b}" for b in (1, 2, 3, 4))},
                   CAST(count(*) FILTER (WHERE NOT isnan(band_1)) AS BIGINT)
                       AS n_b1,
                   CAST(count(*) FILTER (WHERE NOT isnan(band_4)) AS BIGINT)
                       AS n_b4
            FROM v GROUP BY cell, parent
        """,
        "overlay_list_b2": f"""
            WITH v AS (SELECT * FROM
                 read_parquet('{_FIXDIR}/overlay_values_multi_16.parquet'))
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   coalesce(array_to_string(
                       list(CAST(CAST(round(value_b1 * 10000) AS BIGINT)
                                 AS VARCHAR) ORDER BY value_b1)
                       FILTER (WHERE NOT isnan(value_b1)), ','), '')
                       AS values_str_b1,
                   coalesce(array_to_string(
                       list(CAST(CAST(round(value_b2 * 10000) AS BIGINT)
                                 AS VARCHAR) ORDER BY value_b2)
                       FILTER (WHERE NOT isnan(value_b2)), ','), '')
                       AS values_str_b2,
                   CAST(count(*) FILTER (WHERE NOT isnan(value_b1)) AS BIGINT)
                       AS n_b1,
                   CAST(count(*) FILTER (WHERE NOT isnan(value_b2)) AS BIGINT)
                       AS n_b2
            FROM v GROUP BY cell, parent
        """,
        "sample_bilinear": f"""
            SELECT hex7_06, hex7_00,
                   band_1, band_2, band_3, band_4
            FROM read_parquet('{_FIXDIR}/sample_bilinear_hex7_24.parquet')
        """,
        "sample_bilinear_s2": f"""
            SELECT s2_10, s2_02,
                   band_1, band_2, band_3, band_4
            FROM read_parquet('{_FIXDIR}/sample_bilinear_s2_24.parquet')
        """,
        "sample_bilinear_e4r": f"""
            SELECT e4r_09, e4r_01,
                   band_1, band_2, band_3, band_4
            FROM read_parquet('{_FIXDIR}/sample_bilinear_e4r_24.parquet')
        """,
        "sample_bilinear_a5": f"""
            SELECT a5_09, a5_01,
                   band_1, band_2, band_3, band_4
            FROM read_parquet('{_FIXDIR}/sample_bilinear_a5_24.parquet')
        """,
        "sample_cells_maidenhead": _sample_cells_mh_sql(),
        "maidenhead_pixel_index": _maidenhead_sql(),
        "maidenhead_pixel_median": _maidenhead_median_sql(),
        "geohash_pixel_index": _geohash_sql(6, 3),
        "quadkey_pixel_index": _quadkey_sql(12, 4),
        "rhp_pixel_index": _rhp_sql(6, 1),
        "hist_area_normalized": _hist_area_sql(5, 256.0),
        "sample_points_bilinear": """
            WITH p AS (
              SELECT c_custkey AS point_id,
                     (((c_custkey * 37) % 620 + 10) / 1000.0) / 0.013 - 0.5
                         AS col_f,
                     (((c_custkey * 53) % 460 + 10) / 1000.0) / 0.013 - 0.5
                         AS row_f
              FROM customer)
            SELECT point_id, round(row_f * 64 + col_f, 4) AS v FROM p
        """,
        "sample_points_bicubic": """
            WITH p AS (
              SELECT c_custkey AS point_id,
                     (((c_custkey * 41) % 560 + 40) / 1000.0) / 0.013 - 0.5
                         AS col_f,
                     (((c_custkey * 59) % 380 + 40) / 1000.0) / 0.013 - 0.5
                         AS row_f
              FROM customer)
            SELECT point_id, round(row_f * 64 + col_f, 4) AS v FROM p
        """,
        "image_stats": f"""
            SELECT image_id,
                   CAST(bands_decoded AS BIGINT) AS bands_decoded,
                   CAST(px AS BIGINT) AS px,
                   round(b1_mean, 6) AS b1_mean,
                   round(b1_std, 6) AS b1_std,
                   round(nan_frac, 6) AS nan_frac,
                   CAST(phash_recomputed AS BIGINT) AS phash_recomputed
            FROM read_parquet('{_FIXDIR}/image_stats_64.parquet')
        """,
        "image_thumbnails": f"""
            SELECT image_id, thumb_i16
            FROM read_parquet('{_FIXDIR}/image_stats_64.parquet')
        """,
        "overlay_weighted_mean": f"""
            WITH p AS (SELECT * FROM
                       read_parquet('{_FIXDIR}/overlay_partials_24.parquet')),
            g AS (
              SELECT parent, cell,
                     {", ".join(
                         f"CASE WHEN count(band_{i}_num_area) = count(*) "
                         f"THEN sum(band_{i}_num_area) END AS n{i}, "
                         f"CASE WHEN count(band_{i}_den_area) = count(*) "
                         f"THEN sum(band_{i}_den_area) END AS d{i}"
                         for i in range(1, 5))}
              FROM p GROUP BY parent, cell)
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   {", ".join(
                       f"CASE WHEN d{i} > 0 THEN round(n{i} / d{i}, 4) END "
                       f"AS band_{i}" for i in range(1, 5))}
            FROM g
        """,
        "overlay_vct": f"""
            WITH p AS (SELECT * FROM
                       read_parquet('{_FIXDIR}/overlay_partials_24.parquet')),
            g AS (
              SELECT parent, cell, sum(cov_total) AS ct,
                     {", ".join(
                         f"CASE WHEN count(band_{i}_num_area) = count(*) "
                         f"THEN sum(band_{i}_num_area) END AS n{i}, "
                         f"CASE WHEN count(band_{i}_den_area) = count(*) "
                         f"THEN sum(band_{i}_den_area) END AS d{i}, "
                         f"CASE WHEN count(band_{i}_cov_valid) = count(*) "
                         f"THEN sum(band_{i}_cov_valid) END AS cv{i}"
                         for i in range(1, 5))}
              FROM p GROUP BY parent, cell)
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   {", ".join(
                       f"CASE WHEN cv{i} / ct >= 0.9 THEN "
                       f"(CASE WHEN d{i} > 0 THEN round(n{i} / d{i}, 4) END) "
                       f"END AS band_{i}" for i in range(1, 5))}
            FROM g
        """,
        "overlay_majority": f"""
            WITH p AS (SELECT * FROM
                 read_parquet('{_FIXDIR}/overlay_class_partials_16.parquet')),
            g AS (SELECT parent, cell, class, sum(cov_area) AS w
                  FROM p GROUP BY parent, cell, class)
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00,
                   class AS majority_class
            FROM (SELECT parent, cell, class,
                         row_number() OVER (PARTITION BY parent, cell
                                            ORDER BY w DESC, class ASC) AS rn
                  FROM g)
            WHERE rn = 1
        """,
        "overlay_fractions": f"""
            WITH p AS (SELECT * FROM
                 read_parquet('{_FIXDIR}/overlay_class_partials_16.parquet')),
            g AS (SELECT parent, cell, class, sum(cov_area) AS w
                  FROM p GROUP BY parent, cell, class)
            SELECT printf('%x', cell) AS hex7_06,
                   printf('%x', parent) AS hex7_00, class,
                   round(w / sum(w) OVER (PARTITION BY parent, cell), 6)
                       AS fraction
            FROM g
        """,
        "embedding_knn": """
            WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 30),
            t AS (SELECT vec_id AS t_id, embedding::DOUBLE[] AS tv FROM embeddings),
            d AS (SELECT q_id, t_id,
                         list_dot_product(qv, tv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(tv, tv))) AS cosine
                  FROM q CROSS JOIN t WHERE q_id != t_id)
            SELECT q_id, t_id,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cosine DESC, t_id ASC)
                        AS BIGINT) AS rank
            FROM d QUALIFY rank <= 5
        """,
    }
    # second-grid spatial joins: PIP is exact point membership and kNN is
    # exact haversine top-k — both grid-independent, so the hex7 oracles
    # apply verbatim to the geohash-routed variants
    out["pip_join_geohash"] = out["pip_join"]
    out["knn_join_geohash"] = out["knn_join"]
    out["pip_join_a5"] = out["pip_join"]
    out["knn_join_i4r"] = out["knn_join"]
    # both sample_points strategies define identical semantics — the
    # join (scale) strategy must match the same closed-form ramp oracle
    out["sample_points_join"] = out["sample_points_bilinear"]
    # recall eval: intersect the two existing replays as subqueries
    out["knn_recall"] = f"""
        SELECT CAST(q_id AS BIGINT) AS q_id,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_hit AS BIGINT) AS n_hit,
               round(n_hit / CAST(n_ref AS DOUBLE), 6) + 0.0 AS recall
        FROM (
          SELECT r.q_id, count(*) AS n_ref,
                 sum(CASE WHEN c.t_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS n_hit
          FROM ({out["embedding_knn"]}) r
          LEFT JOIN ({out["embedding_knn_ivf"]}) c
            ON c.q_id = r.q_id AND c.t_id = r.t_id
          GROUP BY r.q_id) g
    """
    return out
