"""Graph analytics over edge tables (PageRank, triangle counting).

Cell adjacency, document near-dup pairs, LSH buckets and OD matrices
all produce edge lists; these operators close the loop with the two
canonical graph workloads:

- :func:`pagerank` — the standard damped power iteration with
  dangling-mass redistribution, as ``iters`` rounds of (join ranks to
  edges -> groupBy dst -> map).  Each round is one shuffle over the
  edge list; the rounds run on the ``plans/loops.py`` superstep driver,
  which materializes every round so the lineage never deepens.
  Deterministic given the graph: per-round float sums
  are order-dependent only in the last ulps, which the 4dp gate
  rounding absorbs (the oracle unrolls the SAME iterations as chained
  CTEs).
- :func:`triangle_count` — triangles via DEGREE-ORIENTED wedge
  closing (the Chiba–Nishizeki / "compact-forward" formulation):
  each undirected edge is oriented from its lower-(degree, id)
  endpoint to the higher one before the wedge self-join, so wedge
  candidates are bounded by the sum of squared OUT-degrees —
  O(m^1.5) on any graph — instead of a hot vertex's full degree^2
  (a single degree-d celebrity vertex in the naive a<b<c plan emits
  ~d^2/4 wedge rows; oriented, its out-degree is at most ~sqrt(2m)).

No GraphX / graphframes dependency — plain DataFrame algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 8, damping: float = 0.85) -> DataFrame:
    """Damped PageRank over a directed edge list; vertices are the
    union of endpoints, ranks start uniform at 1/N and renormalize
    through the dangling term each round.  Output: (vertex, rank)."""
    from raster2dggs_spark.plans.loops import fixpoint

    e = edges.select(F.col(src).alias("src"),
                     F.col(dst).alias("dst")).distinct()
    verts = (e.select(F.col("src").alias("vertex"))
             .unionByName(e.select(F.col("dst").alias("vertex")))
             .distinct().localCheckpoint(eager=True))
    n = verts.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    base = (1.0 - damping) / n

    def step(ranks: DataFrame, _seen) -> DataFrame:
        # the dangling aggregate and the contribution join both read the
        # round's checkpointed frame (no driver scalar sync, no
        # recomputation of the round's lineage)
        contrib = (ranks.join(outdeg,
                              ranks.vertex == outdeg.src, "left")
                   .select("vertex", "rank", "odeg"))
        # dangling vertices spread their rank uniformly (1-row frame,
        # broadcast into the update expression — stays lazy)
        dang_df = (contrib.where(F.col("odeg").isNull())
                   .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                        .alias("dang")))
        inc = (contrib.where(F.col("odeg").isNotNull())
               .join(e, F.col("vertex") == F.col("src"))
               .groupBy("dst")
               .agg(F.sum(F.col("rank") / F.col("odeg")).alias("msum")))
        return (verts.crossJoin(F.broadcast(dang_df))
                .join(inc, verts.vertex == inc.dst, "left")
                .select("vertex",
                        ((F.lit(base)
                          + F.lit(damping) * F.col("dang")
                          / F.lit(float(n)))
                         + F.lit(damping)
                         * F.coalesce(F.col("msum"), F.lit(0.0)))
                        .alias("rank")))

    return fixpoint(step, verts.withColumn("rank", F.lit(1.0 / n)),
                    max_rounds=iters, name="pagerank")


def _oriented_edges(e: DataFrame) -> DataFrame:
    """Orient each undirected simple edge (a, b) from its LOWER
    (degree, id) endpoint to the higher one (degree = simple-graph
    degree; ids are unique, so the struct order is total).  Returns
    (x, y, oy) where x -> y is the oriented edge and ``oy`` is y's
    (degree, id) struct — the wedge join orders out-neighbour pairs by
    it so the closing edge is probed in its own orientation.  Work
    downstream is bounded by sum(out_deg^2) <= O(m^1.5) (out-degree
    never exceeds ~sqrt(2m) under degree orientation)."""
    deg = (e.select(F.col("a").alias("v"))
           .unionByName(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    sa = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    sb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    asc = sa < sb
    return ed.select(
        F.when(asc, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(asc, F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(asc, sb).otherwise(sa).alias("oy"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Total triangle count of the UNDIRECTED simple graph induced by
    the edge list (self-loops dropped, directions folded), via
    degree-oriented wedge closing.  Output: one row (n_triangles).

    Every triangle {u, v, w} with (deg, id)-order u < v < w carries
    oriented edges u->v, u->w, v->w, so it is found EXACTLY once: as
    the wedge (v, w) at apex u closed by the oriented edge v->w.  The
    count is identical to the naive a<b<c three-way self-join; only
    the candidate volume changes (see :func:`_oriented_edges`)."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    e = (edges.select(a, b).where(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=True))
    # checkpoint: referenced three times below (both wedge sides + the
    # closing-edge probe) — materialize the degree join once
    oe = _oriented_edges(e).localCheckpoint(eager=True)
    lft, rgt = oe.alias("l"), oe.alias("r")
    wedges = (lft.join(rgt, "x")
              .where(F.col("l.oy") < F.col("r.oy"))
              .select(F.col("l.y").alias("p"), F.col("r.y").alias("q")))
    closing = oe.select(F.col("x").alias("p"), F.col("y").alias("q"))
    tri = wedges.join(closing, ["p", "q"])
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def _shortest_paths(edges: DataFrame, sources, keys: list[str],
                    src: str, dst: str, w: str, max_rounds: int,
                    directed: bool, stats: dict | None,
                    name: str) -> DataFrame:
    """Frontier Bellman-Ford shared by :func:`sssp` (``keys=[]``) and
    :func:`sssp_multi` (``keys=["source"]``): the state is one frame of
    ``(*keys, node, dist, fresh)`` rows, ``fresh`` marking the labels
    improved last round — the frontier.  Each round relaxes the edges
    leaving the frontier and folds the candidates into the labels with
    ONE ``groupBy(*keys, node)`` min over ``(dist, is_candidate)``, so a
    candidate wins (and turns fresh) only when strictly shorter than the
    label it competes with."""
    from raster2dggs_spark.plans.loops import fixpoint

    e = edges.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"),
                     F.col(w).cast("double").alias("ew"))
    if not directed:
        e = e.unionByName(edges.select(
            F.col(dst).alias("esrc"), F.col(src).alias("edst"),
            F.col(w).cast("double").alias("ew")))
    e = e.localCheckpoint(eager=True)
    node_t = edges.schema[src].dataType
    cols = [*keys, "node"]
    seeds = edges.sparkSession.createDataFrame(
        [(s,) * len(cols) + (0.0,) for s in sources],
        T.StructType([T.StructField(c, node_t, False) for c in cols]
                     + [T.StructField("dist", T.DoubleType(), False)]))
    init = (seeds.groupBy(*cols).agg(F.min("dist").alias("dist"))
            .withColumn("fresh", F.lit(True)))

    def relax(dist: DataFrame, _improved) -> DataFrame:
        frontier = dist.where("fresh")
        cand = (frontier.join(e, frontier.node == e.esrc)
                .select(*keys, F.col("edst").alias("node"),
                        (F.col("dist") + F.col("ew")).alias("dist"),
                        F.lit(1).alias("c")))
        best = (dist.select(*cols, "dist", F.lit(0).alias("c"))
                .unionByName(cand)
                .groupBy(*cols)
                .agg(F.min(F.struct("dist", "c")).alias("b")))
        return best.select(*cols, F.col("b.dist").alias("dist"),
                           (F.col("b.c") == 1).alias("fresh"))

    # max_rounds caps IMPROVEMENT rounds; the +1 grants the final round
    # that finds the frontier empty (a graph needing exactly max_rounds
    # relaxations must converge, not raise — code-review finding), so
    # the driver's cap error counts max_rounds + 1 rounds
    run: dict = {}
    dist = fixpoint(relax, init, max_rounds=max_rounds + 1, name=name,
                    stats=run,
                    probe=F.sum(F.col("fresh").cast("long")))
    if stats is not None:
        stats["rounds"] = run["rounds"] - 1
    return dist.select(*cols, "dist")


def sssp(edges: DataFrame, sources, src: str = "src", dst: str = "dst",
         w: str = "w", max_rounds: int = 64, directed: bool = True,
         stats: dict | None = None) -> DataFrame:
    """Single-source (or multi-source) shortest path lengths over a
    weighted edge table — the network-analysis staple (GRASS
    ``v.net.path`` / pgRouting / Network Analyst reach), the edge-list
    twin of the engine's lattice ``cost_distance``.

    Frontier Bellman-Ford supersteps (delta-stepping without the
    bucket refinement): each round relaxes ONLY edges leaving nodes
    improved last round and folds candidate distances into the running
    labels with one ``groupBy(node).min``.  Non-negative weights
    assumed (negative cycles would never converge; the round cap RAISES
    rather than return wrong labels).  Converges in (max edges on any
    shortest path) rounds — O(diameter) worst case, far fewer on
    expander-ish transport graphs.

    Scale shape (100-TB): per round two bounded shuffles (frontier-edge
    equi-join + min-combine); the rounds run on the ``plans/loops.py``
    superstep driver, which checkpoints each round and stops on the
    improved-node count observed on that checkpoint.

    ``sources``: iterable of node ids (distance 0 seeds).
    ``stats``: pass a dict to receive {"rounds": n} — the improvement
    rounds (``max_rounds`` caps these; the final round that finds
    nothing to improve is not counted).
    Returns (node, dist) for REACHED nodes only.
    """
    return _shortest_paths(edges, sources, [], src, dst, w, max_rounds,
                           directed, stats, "sssp")


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    2007; the GraphX/GraphFrames ``labelPropagation`` contract): every
    vertex starts as its own label; each round every vertex adopts the
    most frequent label among its NEIGHBOURS (undirected multigraph —
    parallel edges count), ties broken by the SMALLEST label, isolated
    vertices keep their label.  Synchronous LPA can oscillate, so the
    round count is part of the semantics (fixed ``rounds``, no
    convergence probe) — exactly what the unrolled SQL oracle replays.

    Scale shape (100-TB): per round one edge-label equi-join, one
    (vertex, label) count with map-side combine, one per-vertex
    lexicographic min (no window over a global key), one left-join
    label merge; the rounds run on the ``plans/loops.py`` superstep
    driver, which materializes every round so the plan stays flat.
    Returns (vertex, community).
    """
    from raster2dggs_spark.plans.loops import fixpoint

    e = edges.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"))
    e = e.unionByName(edges.select(F.col(dst).alias("esrc"),
                                   F.col(src).alias("edst")))
    e = e.localCheckpoint(eager=True)
    verts = (e.select(F.col("esrc").alias("vertex")).distinct()
             .localCheckpoint(eager=True))

    def step(labels: DataFrame, _seen) -> DataFrame:
        nb = (e.join(labels, e.esrc == labels.vertex)
              .select(F.col("edst").alias("vertex"), "lab"))
        cnt = (nb.groupBy("vertex", "lab")
               .agg(F.count(F.lit(1)).alias("c")))
        pick = (cnt.groupBy("vertex")
                .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                    F.col("lab").alias("lab")))
                     .alias("b"))
                .select("vertex", F.col("b.lab").alias("newlab")))
        return (labels.join(pick, "vertex", "left")
                .select("vertex", F.coalesce("newlab", "lab").alias("lab")))

    labels = fixpoint(step, verts.withColumn("lab", F.col("vertex")),
                      max_rounds=rounds, name="label_propagation")
    return labels.select("vertex", F.col("lab").alias("community"))


def sssp_multi(edges: DataFrame, sources, src: str = "src",
               dst: str = "dst", w: str = "w", max_rounds: int = 64,
               directed: bool = True,
               stats: dict | None = None) -> DataFrame:
    """K-source shortest-path matrix (the travel-time / accessibility
    matrix of network analysis — one row per (source, reached node))
    in ONE superstep loop: the state is keyed by (source, node), so K
    Bellman-Ford frontiers advance simultaneously through shared
    relaxation joins instead of K sequential :func:`sssp` runs — the
    round count is the MAX over sources, not the sum.

    Same contract and loop as :func:`sssp` otherwise: non-negative
    weights, frontier-proportional work, convergence that raises at the
    cap.  Returns ``(source, node, dist)`` for reached pairs only.
    """
    return _shortest_paths(edges, sources, ["source"], src, dst, w,
                           max_rounds, directed, stats, "sssp_multi")
