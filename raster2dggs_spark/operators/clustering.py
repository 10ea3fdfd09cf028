"""Density-based spatial clustering (DBSCAN) over point tables.

The classic Ester et al. 1996 algorithm as ArcGIS "Density-based
Clustering" / PostGIS ST_ClusterDBSCAN run it on geodetic points,
composed entirely from this engine's existing distributed primitives:

1. **eps-neighborhood enumeration** — the geodesic distance-band join
   (:func:`~raster2dggs_spark.operators.joins.within_distance_join`):
   disk-cover routing cells + native parent equi-join + exact
   haversine, never |P|^2.  Self-pairs (d = 0) count, so the
   neighborhood size INCLUDES the point itself (the textbook
   |N_eps(p)| >= minPts definition).
2. **core points** — one groupBy degree count.
3. **clusters** — connected components of the core-core eps-graph via
   hash-to-min pointer jumping
   (:func:`~raster2dggs_spark.operators.dedup.connected_components`,
   O(log diameter) rounds); a core with no core neighbour keeps its
   own id (singleton cluster).
4. **border points** — non-core points adopt the MINIMUM cluster id
   among their core neighbours (a total tie-break: DBSCAN's border
   assignment is famously order-dependent in sequential
   implementations — this one is deterministic and
   schedule-independent, the repo's total-order rule).
5. everything else is **noise** (cluster NULL).

Cluster ids are the minimum member point id of the core skeleton —
stable under repartitioning and engine choice, so the whole labelling
is relationally replayable (the oracle runs the same closure as a
recursive CTE).

At 100 TB: the range join shuffles O(candidate pairs within eps), the
degree count and border assignment are plain aggregations, and the
only iteration is the pointer-jumping loop on the CORE skeleton —
``connected_components``, whose rounds run on the ``plans/loops.py``
superstep driver.  eps >> cell pitch or pathological density means the pair
list itself is the cost, exactly as in any distributed DBSCAN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster2dggs_spark.operators.dedup import connected_components
from raster2dggs_spark.operators.joins import within_distance_join


def dbscan_points(points: DataFrame, eps_m: float, min_pts: int,
                  id_col: str = "point_id", lon_col: str = "lon",
                  lat_col: str = "lat", res: int = 9,
                  dggs: str = "quadkey") -> DataFrame:
    """Label every point with ``is_core`` and a deterministic
    ``cluster`` id (NULL = noise).  See the module docstring for the
    exact semantics; ``res``/``dggs`` tune the range join's routing
    grid only (results are invariant to them)."""
    q = points.select(F.col(id_col).alias("q_id"),
                      F.col(lon_col).alias("lon"),
                      F.col(lat_col).alias("lat"))
    t = points.select(F.col(id_col).alias("t_id"),
                      F.col(lon_col).alias("lon"),
                      F.col(lat_col).alias("lat"))
    pairs = within_distance_join(q, t, radius_m=eps_m, res=res,
                                 dggs=dggs).select("q_id", "t_id")
    deg = pairs.groupBy("q_id").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.where(F.col("deg") >= min_pts).select(
        F.col("q_id").alias("cid"))
    core_edges = (pairs
                  .join(core.withColumnRenamed("cid", "q_id"), "q_id")
                  .join(core.withColumnRenamed("cid", "t_id"), "t_id")
                  .where(F.col("q_id") != F.col("t_id"))
                  .select(F.col("q_id").alias("id_a"),
                          F.col("t_id").alias("id_b")))
    comp = connected_components(core_edges)
    core_lab = (core.join(comp, core.cid == comp.vertex, "left")
                .select(F.col("cid"),
                        F.coalesce(F.col("component"), F.col("cid"))
                        .alias("cluster")))
    border = (pairs
              .join(core_lab.withColumnRenamed("cid", "t_id"), "t_id")
              .groupBy("q_id")
              .agg(F.min("cluster").alias("bcluster")))
    out = (points
           .join(core_lab.withColumnRenamed("cid", id_col), id_col,
                 "left")
           .join(border.withColumnRenamed("q_id", id_col), id_col,
                 "left"))
    return out.select(
        *[points[c] for c in points.columns],
        F.col("cluster").isNotNull().alias("is_core"),
        F.coalesce(F.col("cluster"), F.col("bcluster")).alias("cluster"))
