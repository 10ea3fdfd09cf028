"""Cost-distance (accumulated-cost surface) over a cell-indexed raster.

The classic GIS "cost surface" workflow (GRASS ``r.cost``, ArcGIS
CostDistance/CostAllocation, Tomlin's map-algebra SPREAD): given a
per-cell traversal cost and a set of source cells, compute for every
cell the minimum accumulated cost of an 8-connected path from any
source — and, with ``id_col``, WHICH source wins (cost allocation /
weighted Voronoi, ties to the minimum source id via an exact
lexicographic (cost, id) order).  The reference (raster2dggs) stops at
per-cell indexing/aggregation; cost distance is the canonical *global*
operation users run on the resulting lattice (least-cost corridors,
accessibility, wildfire/evacuation reach, facility catchments).

Semantics
---------
Weights use the chamfer-(10, 14) mask — the standard integer-exact
approximation of Euclidean step lengths (14/10 ~= sqrt(2)):

    w(u, v) = (cost_u + cost_v) * (5 rook | 7 diagonal)

i.e. the usual "average of the two endpoint costs times step length",
scaled by 10 so INTEGER cell costs give INTEGER path sums — bit-exact
across engines and relaxation orders (no float tie ulps).  Cells with
NULL/NaN or non-positive cost are impassable (excluded from the graph;
their output ``dist`` is NULL, as is any cell unreachable from every
source).  Sources must be passable.

Distributed algorithm — block-synchronous Dijkstra
--------------------------------------------------
Shortest path is inherently sequential along the wavefront, so a naive
per-cell Bellman-Ford needs O(path length in CELLS) supersteps — a
non-starter on a continental lattice.  This operator uses the
block-parallel formulation (GRASS's segment strategy; delta-stepping
with block-sized buckets):

1. Cells tile into 2^b x 2^b lattice blocks (``block_bits``).
2. Each superstep settles every ACTIVE block EXACTLY in memory
   (``applyInPandas`` over the block key) by vectorized lex-min
   relaxation sweeps on a dense grid — no per-cell Python — with the
   rim cells exported by neighbouring blocks last superstep on a halo
   as fixed boundary conditions (external->internal relaxation;
   external-external edges are unnecessary — a path that leaves and
   re-enters a block is settled by the next superstep's seeds).
3. Only cells whose distance improved are re-exported, and only blocks
   that received a seed are re-run — quiescent blocks ride through.

The correct wavefront therefore advances at least one full BLOCK per
superstep: rounds scale with the block-graph diameter (world extent /
block size), not the cell count, and each round is two bounded
shuffles (seed scatter + block regroup) over the ACTIVE frontier only.
The supersteps run on the ``plans/loops.py`` driver: each round is
checkpointed, the next active-block set is observed on that checkpoint,
and the driver stops when it is empty and raises if ``max_rounds`` is
hit (returning unconverged distances would silently overestimate).
Distances are monotone non-increasing over a finite set of path sums,
so the fixpoint is the exact Dijkstra answer.

At 100 TB the state is one row per CELL (already aggregated, orders of
magnitude below pixel scale), the per-block solve is O(n log n) on at
most 4^b cells, and the scatter moves only changed rim cells — the
Pregel/GraphX SSSP shape, but with exact block-local relaxation
instead of per-vertex hops (2^b x fewer supersteps).

Longitude wraps at the antimeridian (lattice and block indices both);
latitude clips (geohash poles / quadkey Mercator edge).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2dggs_spark.operators.focal import (
    lattice_indices, _lattice_extent_exprs,
)

_ROOK = 5       # chamfer scale: 10/2 per endpoint-cost unit
_DIAG = 7       # 14/2
_OFFS = ((-1, -1, _DIAG), (0, -1, _ROOK), (1, -1, _DIAG),
         (-1, 0, _ROOK), (1, 0, _ROOK),
         (-1, 1, _DIAG), (0, 1, _ROOK), (1, 1, _DIAG))


_NO_ALLOC = np.iinfo(np.int64).max   # lex-max: any real id beats it


def _shift_in(a: np.ndarray, dy: int, dx: int, wrap_x: bool, fill):
    """``s[y, x] = a[y + dy, x + dx]``; out-of-range reads ``fill``
    (x wraps instead when ``wrap_x`` — a block spanning the whole lon
    extent)."""
    b = a
    if dx:
        if wrap_x:
            b = np.roll(b, -dx, axis=1)
        else:
            c = np.full_like(b, fill)
            if dx > 0:
                c[:, :-dx] = b[:, dx:]
            else:
                c[:, -dx:] = b[:, :dx]
            b = c
    if dy:
        c = np.full_like(b, fill)
        if dy > 0:
            c[:-dy, :] = b[dy:, :]
        else:
            c[-dy:, :] = b[:dy, :]
        b = c
    return b


def _relax_block(pdf: pd.DataFrame, wlon: int, W: int,
                 nbx: int = 1, nby: int = 1,
                 clump: bool = False,
                 offs: tuple = _OFFS) -> pd.DataFrame:
    """Exact block-local settle by VECTORIZED lex-min relaxation sweeps.

    ``pdf``: internal cells (``ext == 0``) + rim cells imported from
    neighbouring blocks (``ext == 1``), columns bx/by/cell/gx/gy/cost/
    dist/alloc/seen/seena.  Cells scatter into a dense (W+2)^2 grid
    with the external pairs on a 1-cell halo as FIXED boundary
    conditions, then Gauss-Seidel-ordered full-array sweeps (8 shifted
    numpy relaxations per sweep, no per-cell Python) run to the unique
    fixpoint: per cell the LEXICOGRAPHIC minimum over paths of
    (cost, source id) — exact cost-allocation tie-breaking, total by
    construction, so the result is sweep-order independent.  Sweeps
    needed scale with the longest in-block shortest-path hop count,
    and each is O(block cells) vectorized — orders of magnitude
    cheaper than a Python heap at production block sizes.  Returns
    internal rows with the settled pair and ``improved`` = 1 where it
    is lex-below (``seen``, ``seena``) — the pair last exported to
    neighbouring blocks (+inf if never exported, so a SOURCE sitting
    on a block rim still seeds the next block).
    """
    internal = pdf[pdf["ext"] == 0]
    x0 = int(pdf["bx"].iloc[0]) * W
    y0 = int(pdf["by"].iloc[0]) * W
    wrap_x = wlon <= W          # degenerate: one block spans all lons
    width = wlon if wrap_x else W + 2
    height = W + 2
    xoff = 0 if wrap_x else 1
    dist = np.full((height, width), np.inf)
    alloc = np.full((height, width), _NO_ALLOC, np.int64)
    cost = np.full((height, width), np.nan)
    upd = np.zeros((height, width), bool)

    igx = internal["gx"].to_numpy(np.int64)
    igy = internal["gy"].to_numpy(np.int64)
    ily = igy - y0 + 1
    ilx = igx if wrap_x else igx - x0 + xoff
    cost[ily, ilx] = internal["cost"].to_numpy(np.float64)
    dist[ily, ilx] = internal["dist"].to_numpy(np.float64)
    alloc[ily, ilx] = internal["alloc"].to_numpy(np.int64)
    upd[ily, ilx] = True

    ext = pdf[pdf["ext"] == 1]
    if len(ext):
        ed = ext["dist"].to_numpy(np.float64)
        ea = ext["alloc"].to_numpy(np.int64)
        ec = ext["cost"].to_numpy(np.float64)
        egx = ext["gx"].to_numpy(np.int64)
        ely = ext["gy"].to_numpy(np.int64) - y0 + 1
        if wrap_x:
            elx = egx
        else:
            dxs = (egx - x0) % wlon
            elx = np.where(dxs == wlon - 1, 0, dxs + xoff)
        # duplicate imports of one rim cell (two source blocks) fold to
        # the lex-min pair: scatter worst-first so the best writes last
        order = np.lexsort((ea, ed))[::-1]
        oy, ox = ely[order], elx[order]
        cost[oy, ox] = ec[order]
        # never regress a position the halo shares with internal state
        # (in-block wrap can alias a seed onto its own exporter)
        keep = ((ed[order] < dist[oy, ox])
                | ((ed[order] == dist[oy, ox]) & (ea[order] < alloc[oy, ox])))
        dist[oy[keep], ox[keep]] = ed[order][keep]
        alloc[oy[keep], ox[keep]] = ea[order][keep]

    for _ in range(4 * height * width):
        changed = False
        for dx, dy, m in offs:
            nd_src = _shift_in(dist, dy, dx, wrap_x, np.inf)
            nc_src = _shift_in(cost, dy, dx, wrap_x, np.nan)
            na_src = _shift_in(alloc, dy, dx, wrap_x, _NO_ALLOC)
            if clump:
                # zero-weight edges between SAME-CLASS neighbours (the
                # cost plane carries the class value); the lex order
                # degenerates to min-label propagation per region
                nd = np.where(nc_src == cost, nd_src, np.inf)
            else:
                nd = nd_src + (nc_src + cost) * m
            better = ((nd < dist) | ((nd == dist) & (na_src < alloc))) & upd
            if better.any():
                dist[better] = nd[better]
                alloc[better] = na_src[better]
                changed = True
        if not changed:
            break
    else:  # pragma: no cover - bounded by in-block path hop count
        raise RuntimeError("cost_distance: block relaxation diverged")

    out = internal[["cell", "gx", "gy", "cost"]].copy()
    best = dist[ily, ilx]
    balloc = alloc[ily, ilx]
    seen0 = internal["seen"].to_numpy(np.float64)
    seena0 = internal["seena"].to_numpy(np.int64)
    out["dist"] = best
    out["alloc"] = balloc
    # export when neighbours have never seen a pair this low — covers
    # both strict improvements AND never-yet-exported finite cells
    improved = (best < seen0) | ((best == seen0) & (balloc < seena0))
    out["seen"] = np.where(improved, best, seen0)
    out["seena"] = np.where(improved, balloc, seena0)
    out["improved"] = improved.astype(np.int64)
    bx = int(pdf["bx"].iloc[0])
    by = int(pdf["by"].iloc[0])
    out["bx"] = np.int64(bx)
    out["by"] = np.int64(by)
    out["ext"] = np.int64(0)
    # rim exports emitted HERE (vectorized, the same mask algebra the
    # old driver-side rim_seeds expressed in Spark columns): improved
    # cells on a block edge ship their settled pair to each adjacent
    # block, tagged ext=1 — so one checkpoint materializes state AND
    # next-round seeds in a single job (guide §1.2/§2.4: the per-round
    # seed scatter no longer needs its own explode + checkpoint pass)
    if improved.any():
        m0 = improved
        egx, egy = igx[m0], igy[m0]
        ed, ea = best[m0], balloc[m0]
        ec = internal["cost"].to_numpy(np.float64)[m0]
        onxlo, onxhi = (egx % W) == 0, (egx % W) == W - 1
        onylo, onyhi = (egy % W) == 0, (egy % W) == W - 1
        ones = np.ones(egx.shape[0], bool)
        exp = []
        for dbx in (-1, 0, 1):
            x_ok = onxlo if dbx < 0 else (onxhi if dbx > 0 else ones)
            tbx = ((bx + dbx) % nbx + nbx) % nbx
            for dby in (-1, 0, 1):
                if (dbx, dby) == (0, 0):
                    continue
                tby = by + dby
                if tby < 0 or tby >= nby:
                    continue
                m = x_ok & (onylo if dby < 0
                            else (onyhi if dby > 0 else ones))
                if not m.any():
                    continue
                exp.append(pd.DataFrame({
                    "cell": np.full(int(m.sum()), -1, np.int64),
                    "gx": egx[m], "gy": egy[m], "cost": ec[m],
                    "dist": ed[m], "alloc": ea[m],
                    "seen": np.inf,
                    "seena": np.int64(_NO_ALLOC),
                    "improved": np.int64(0),
                    "bx": np.int64(tbx), "by": np.int64(tby),
                    "ext": np.int64(1),
                }))
        if exp:
            out = pd.concat([out] + exp, ignore_index=True)
    return out


_STATE_SCHEMA = T.StructType([
    T.StructField("cell", T.LongType()),
    T.StructField("gx", T.LongType()), T.StructField("gy", T.LongType()),
    T.StructField("cost", T.DoubleType()),
    T.StructField("dist", T.DoubleType()),
    T.StructField("alloc", T.LongType()),
    T.StructField("seen", T.DoubleType()),
    T.StructField("seena", T.LongType()),
    T.StructField("improved", T.LongType()),
])

# solver output: state rows (ext=0, own block) + rim exports (ext=1,
# NEIGHBOUR block ids) — one frame carries both, so a superstep is one
# materialization instead of a state pass plus a seed-scatter pass
_STATE_EXT_SCHEMA = T.StructType(
    _STATE_SCHEMA.fields + [
        T.StructField("bx", T.LongType()), T.StructField("by", T.LongType()),
        T.StructField("ext", T.LongType()),
    ])


def _superstep_fixpoint(state: DataFrame, guard: Observation,
                        guard_msg: str, wlon: int, W: int,
                        nbx: int, nby: int, max_rounds: int,
                        stats: dict | None, op: str,
                        clump: bool = False,
                        offs: tuple = _OFFS) -> DataFrame:
    """Run block-synchronous supersteps (see module docstring) from an
    initial ``_STATE_SCHEMA``+bx/by state to the global fixpoint.
    Shared by :func:`cost_distance` (chamfer relaxation) and
    :func:`clump_cells` (zero-weight same-class label propagation).

    ``state`` arrives lazy: the driver's init checkpoint is its one
    materialization, and the caller's input check (``guard``, a count
    of bad rows raising ``ValueError(guard_msg)``) and the first
    active-block set both ride that job as Observations.
    """
    from raster2dggs_spark.plans.loops import fixpoint

    spark = state.sparkSession
    packed = F.col("bx") * int(nby) + F.col("by")
    # initial active set: blocks holding sources (improved>0); every
    # later round's set is the probe the driver observed on the
    # previous round's checkpoint: the blocks a rim export landed in
    first = Observation()
    init = (state.withColumn("ext", F.lit(0).cast("long"))
            .observe(first, F.collect_set(
                F.when(F.col("improved") > 0, packed)).alias("act")))
    blocks_run = 0

    def superstep(full: DataFrame, act) -> DataFrame:
        nonlocal blocks_run
        if act is None:
            if int(guard.get["n"] or 0):
                raise ValueError(guard_msg)
            act = first.get["act"]
            if not act:
                raise ValueError(
                    f"{op}: no active cells (empty or no sources)")
        act_keys = sorted(int(k) for k in act)
        blocks_run += len(act_keys)
        if len(act_keys) <= 65536:
            # the usual case: the active-block id set is small — an
            # InSet predicate on the packed key costs one hashed
            # lookup per row and NO broadcast build / join stages
            is_act = packed.isin(act_keys)
            run = full.where(is_act)
            hold = (full.where(~is_act & (F.col("ext") == 0))
                    .withColumn("improved", F.lit(0).cast("long")))
        else:
            # continental frontiers: join against a broadcast relation
            # instead of an enormous literal list
            active = F.broadcast(spark.createDataFrame(
                [(k // nby, k % nby) for k in act_keys],
                "bx long, by long"))
            run = full.join(active, ["bx", "by"])
            hold = (full.where(F.col("ext") == 0)
                    .join(active, ["bx", "by"], "left_anti")
                    .withColumn("improved", F.lit(0).cast("long")))
        # seeds land only where a passable cell can hear them, but
        # re-running an all-impassable block is a harmless no-op.
        # The solver emits next-round seeds itself (ext=1 rows with
        # neighbour block ids) — one checkpoint per superstep total,
        # with the next active set observed on the same job.
        solved = run.groupBy("bx", "by").applyInPandas(
            lambda key, pdf: _relax_block(pdf, wlon, W, nbx, nby,
                                          clump=clump, offs=offs),
            _STATE_EXT_SCHEMA)
        return hold.unionByName(solved)

    # a rim-export-free round == global fixpoint: improved interior
    # cells cannot affect any other block, and their own block is
    # already exactly settled
    full = fixpoint(superstep, init, max_rounds=max_rounds, name=op,
                    stats=stats,
                    probe=F.collect_set(F.when(F.col("ext") == 1, packed)))
    if stats is not None:
        stats["blocks_run"] = blocks_run
    return full.where(F.col("ext") == 0).drop("ext")


def cost_distance(cells_df: DataFrame, cost_col: str = "cost",
                  source_col: str = "is_source", cell_col: str = "cell",
                  dggs: str = "quadkey", block_bits: int = 6,
                  max_rounds: int = 128,
                  id_col: str | None = None,
                  stats: dict | None = None) -> DataFrame:
    """Accumulated cost distance from source cells over the lattice.

    Input: one row per cell (single-resolution ``geohash``/``quadkey``
    table) with a traversal cost and a source flag.  Output: the input
    columns + ``dist`` — the chamfer-(10,14)-scaled minimum path cost
    (NULL for impassable/unreachable cells) — and, when ``id_col`` is
    given, ``alloc`` — COST ALLOCATION (ArcGIS CostAllocation /
    GRASS r.cost start_points attribute): the ``id_col`` value of the
    source whose least-cost path wins, ties broken by the MINIMUM id
    (the settled label is the exact lexicographic minimum of
    (path cost, source id) over all paths — a total order, so the
    result is engine- and schedule-independent).  See module docstring
    for semantics and the block-synchronous algorithm.

    ``stats``: pass a dict to receive ``{"rounds": n, "blocks_run": m}``
    — supersteps executed and cumulative active-block count (evidence
    for the frontier restriction: quiescent blocks are never re-run).
    """
    if block_bits < 1:
        raise ValueError("block_bits >= 1 required")
    src_id = (F.col(id_col).cast("long") if id_col is not None
              else F.lit(0).cast("long"))
    g = lattice_indices(
        cells_df.select(F.col(cell_col).alias("cell"),
                        F.col(cost_col).cast("double").alias("cost"),
                        F.col(source_col).cast("boolean").alias("src"),
                        src_id.alias("sid")),
        "cell", dggs)
    wlon_c, wlat_c = _lattice_extent_exprs(dggs)
    head = g.select(wlon_c.alias("w"), wlat_c.alias("h")).first()
    if head is None:
        raise ValueError("cost_distance: empty input")
    wlon, wlat = int(head["w"]), int(head["h"])
    W = 1 << block_bits
    nbx = max(1, wlon // W)   # extents are powers of two: W divides
    nby = max(1, wlat // W)
    bxy = (F.shiftright(F.col("gx"), block_bits).alias("bx"),
           F.shiftright(F.col("gy"), block_bits).alias("by"))

    passable = (F.col("cost").isNotNull() & ~F.isnan("cost")
                & (F.col("cost") > 0))
    no_alloc = F.lit(int(_NO_ALLOC)).cast("long")
    # the bad-source guard rides the init checkpoint as an Observation
    # instead of its own limit(1).count() scan — the lattice-index
    # Arrow pass over the input runs once, not twice (guide §1.2)
    bad_src = Observation()
    state = (g.observe(bad_src, F.sum(
                 (F.col("src") & (~passable | F.col("sid").isNull()))
                 .cast("long")).alias("n"))
             .where(passable)
             .select("cell", "gx", "gy", "cost", *bxy,
                     F.when(F.col("src"), F.lit(0.0))
                     .otherwise(F.lit(float("inf"))).alias("dist"),
                     F.when(F.col("src"), F.col("sid"))
                     .otherwise(no_alloc).alias("alloc"),
                     F.lit(float("inf")).alias("seen"),
                     no_alloc.alias("seena"),
                     F.col("src").cast("long").alias("improved")))
    state = _superstep_fixpoint(
        state, bad_src,
        "cost_distance: source cell is impassable or has a NULL id",
        wlon, W, nbx, nby, max_rounds, stats, op="cost_distance")

    reached = F.col("dist") != float("inf")
    out_cols = [F.when(reached, F.col("dist")).alias("dist")]
    if id_col is not None:
        out_cols.append(F.when(reached, F.col("alloc")).alias("alloc"))
    dist = state.select("cell", *out_cols)
    keep = ["dist"] + (["alloc"] if id_col is not None else [])
    return cells_df.join(dist, cells_df[cell_col] == dist["cell"], "left") \
                   .select(*[cells_df[c] for c in cells_df.columns], *keep)


def cost_corridor(cells_df: DataFrame, cost_col: str = "cost",
                  source_a_col: str = "is_a", source_b_col: str = "is_b",
                  cell_col: str = "cell", dggs: str = "quadkey",
                  block_bits: int = 6, max_rounds: int = 128) -> DataFrame:
    """Least-cost corridor between two source sets (ArcGIS Corridor,
    the classic connectivity-planning composition): ``corridor`` =
    cost distance FROM the A set + cost distance FROM the B set — the
    total cost of the cheapest A->B path CONSTRAINED through each cell
    (edge costs are disjoint across the two legs, so the sum is exact,
    not a bound).  Its minimum over all cells is the unconstrained
    least-cost A->B distance, returned per row as ``best`` so callers
    can threshold (``corridor <= best + slack``) without a second
    pass.  NULL where either leg is unreachable/impassable.  Two
    independent block-synchronous sweeps — the state fits one row per
    cell each, so this is 2x cost_distance, not a new scaling class.
    """
    da = cost_distance(cells_df, cost_col=cost_col,
                       source_col=source_a_col, cell_col=cell_col,
                       dggs=dggs, block_bits=block_bits,
                       max_rounds=max_rounds)
    db = (cost_distance(cells_df, cost_col=cost_col,
                        source_col=source_b_col, cell_col=cell_col,
                        dggs=dggs, block_bits=block_bits,
                        max_rounds=max_rounds)
          .select(F.col(cell_col).alias("_cc_cell"),
                  F.col("dist").alias("_cc_db")))
    both = (da.join(db, da[cell_col] == db["_cc_cell"], "left")
            .withColumn("corridor", F.col("dist") + F.col("_cc_db"))
            .drop("_cc_cell", "_cc_db", "dist"))
    best = both.agg(F.min("corridor")).first()[0]
    if best is None:
        raise ValueError("cost_corridor: A and B are mutually unreachable")
    return both.withColumn("best", F.lit(float(best)))


_ROOK_OFFS = tuple(o for o in _OFFS if o[0] == 0 or o[1] == 0)


def clump_cells(cells_df: DataFrame, class_col: str, id_col: str,
                cell_col: str = "cell", dggs: str = "quadkey",
                block_bits: int = 6, diagonal: bool = False,
                max_rounds: int = 128,
                stats: dict | None = None) -> DataFrame:
    """Region grouping (GRASS ``r.clump`` / ArcGIS RegionGroup): label
    every cell with the MINIMUM ``id_col`` value of its connected
    component of equal ``class_col`` cells — rook adjacency by default,
    queen with ``diagonal=True`` (the r.clump ``-d`` flag).  Cells with
    NULL class are inert (label NULL); absent cells break connectivity.

    Same block-synchronous superstep machinery as :func:`cost_distance`
    with ZERO-WEIGHT edges gated on class equality: every cell starts
    as its own dist-0 source carrying its id, and the lexicographic
    relaxation degenerates to min-label propagation per region — the
    hash-to-min connected-components idiom, but with the lattice
    structure exploited (an entire block settles per superstep, so
    rounds scale with the region's BLOCK diameter, not its cell
    diameter).  Output: the input columns + ``clump`` (long).
    """
    if block_bits < 1:
        raise ValueError("block_bits >= 1 required")
    g = lattice_indices(
        cells_df.select(F.col(cell_col).alias("cell"),
                        F.col(class_col).cast("double").alias("cost"),
                        F.col(id_col).cast("long").alias("sid")),
        "cell", dggs)
    wlon_c, wlat_c = _lattice_extent_exprs(dggs)
    head = g.select(wlon_c.alias("w"), wlat_c.alias("h")).first()
    if head is None:
        raise ValueError("clump_cells: empty input")
    wlon = int(head["w"])
    W = 1 << block_bits
    nbx = max(1, wlon // W)
    nby = max(1, int(head["h"]) // W)
    bxy = (F.shiftright(F.col("gx"), block_bits).alias("bx"),
           F.shiftright(F.col("gy"), block_bits).alias("by"))

    ok = (F.col("cost").isNotNull() & ~F.isnan("cost")
          & F.col("sid").isNotNull())
    # NULL-id guard rides the init checkpoint (Observation) — one
    # lattice-index pass, not two (see cost_distance)
    bad_id = Observation()
    state = (g.observe(bad_id, F.sum(
                 (F.col("cost").isNotNull() & ~F.isnan("cost")
                  & F.col("sid").isNull()).cast("long")).alias("n"))
             .where(ok)
             .select("cell", "gx", "gy", "cost", *bxy,
                     F.lit(0.0).alias("dist"),
                     F.col("sid").alias("alloc"),
                     F.lit(float("inf")).alias("seen"),
                     F.lit(int(_NO_ALLOC)).cast("long").alias("seena"),
                     F.lit(1).cast("long").alias("improved")))
    state = _superstep_fixpoint(
        state, bad_id, "clump_cells: NULL id on a classed cell",
        wlon, W, nbx, nby, max_rounds, stats, op="clump_cells",
        clump=True, offs=_OFFS if diagonal else _ROOK_OFFS)

    lab = state.select("cell", F.col("alloc").alias("clump"))
    return cells_df.join(lab, cells_df[cell_col] == lab["cell"], "left") \
                   .select(*[cells_df[c] for c in cells_df.columns], "clump")


def sieve_cells(cells_df: DataFrame, class_col: str, id_col: str,
                min_size: int, cell_col: str = "cell",
                dggs: str = "quadkey", block_bits: int = 6,
                diagonal: bool = False) -> DataFrame:
    """Single-pass sieve filter (the ``gdal_sieve`` workflow): regions
    of equal-class cells smaller than ``min_size`` are reassigned the
    class of the ADJACENT LARGE region sharing the longest rook
    boundary with them (ties to the minimum neighbouring region
    label — total order); a small region touching no large region
    keeps its class.  ONE pass — unlike gdal_sieve's heap loop it does
    not cascade merges of small-into-small (documented semantics, not
    a gdal bit-twin): the common "remove speckle from a classified
    raster" call is min_size of a few cells against large background
    regions, where one pass and the cascade agree.

    Plan: :func:`clump_cells` labels regions (block-synchronous
    supersteps), then everything is relational — region sizes via one
    groupBy, boundary edges via the 4-direction scatter + position
    equi-join (zonal_geometry's idiom), argmax shared-boundary via
    max-count-then-min-label (no windows; hot regions are just bigger
    counts).  Output: input columns + ``clump``, ``clump_size``,
    ``sieved`` (the post-sieve class), ``reassigned``.
    """
    from raster2dggs_spark.operators.focal import lattice_indices

    lab = clump_cells(cells_df, class_col, id_col, cell_col=cell_col,
                      dggs=dggs, block_bits=block_bits,
                      diagonal=diagonal)
    regions = (lab.where(F.col("clump").isNotNull())
               .groupBy("clump")
               .agg(F.count(F.lit(1)).alias("clump_size"),
                    F.min(class_col).alias("rcls")))
    g = lattice_indices(
        lab.select(cell_col, class_col, "clump"), cell_col, dggs)
    base = (g.where(F.col("clump").isNotNull())
            .select("gx", "gy", "clump"))
    msgs = None
    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        m = base.select((F.col("gx") + dx).alias("gx"),
                        (F.col("gy") + dy).alias("gy"),
                        F.col("clump").alias("nclump"))
        msgs = m if msgs is None else msgs.unionAll(m)
    edges = (base.join(msgs, ["gx", "gy"])
             .where(F.col("clump") != F.col("nclump"))
             .groupBy("clump", "nclump")
             .agg(F.count(F.lit(1)).alias("shared")))
    small = regions.where(F.col("clump_size") < min_size) \
                   .select("clump")
    large = regions.where(F.col("clump_size") >= min_size) \
                   .select(F.col("clump").alias("nclump"),
                           F.col("rcls").alias("ncls"))
    cand = (edges.join(small, "clump").join(large, "nclump"))
    best = cand.groupBy("clump").agg(F.max("shared").alias("mx"))
    pick = (cand.join(best, "clump")
            .where(F.col("shared") == F.col("mx"))
            .groupBy("clump")
            .agg(F.min("nclump").alias("winner")))
    remap = pick.join(large.withColumnRenamed("nclump", "winner"),
                      "winner").select("clump", "ncls")
    # unhinted joins: region-count tables can be anything from tiny to
    # huge — AQE picks broadcast when they fit (repo broadcast rule)
    out = (lab.join(regions.select("clump", "clump_size"),
                    "clump", "left")
           .join(remap, "clump", "left"))
    return out.select(
        *[out[c] for c in lab.columns],
        F.col("clump_size"),
        F.coalesce(F.col("ncls"), F.col(class_col)).alias("sieved"),
        F.col("ncls").isNotNull().alias("reassigned"))


def least_cost_path(cells_df: DataFrame, cost_col: str = "cost",
                    source_col: str = "is_source",
                    target_col: str = "is_target",
                    id_col: str = "id", cell_col: str = "cell",
                    dggs: str = "quadkey", block_bits: int = 6,
                    max_rounds: int = 128) -> DataFrame:
    """Least-cost PATH extraction (GRASS ``r.drain`` over an ``r.cost``
    surface / ArcGIS CostPath): solve the accumulated-cost surface,
    then trace each target cell back to its nearest source, returning
    one row per path cell: ``(tgt, cell, <id_col>, dist, step)`` with
    ``tgt`` the target's id and ``step`` counting from the target (0)
    to the source.

    Determinism: a backtrace predecessor of cell c is any neighbour p
    with ``dist(p) + w(p, c) == dist(c)``; ties break to the MINIMUM
    ``id_col`` — a total order, so the traced path is engine- and
    schedule-independent.  The equality is exact for integer cell
    costs (the chamfer sums are integer-valued doubles).

    Distributed shape: the predecessor pointer table is ONE relational
    8-neighbour join (no Python); the trace then runs pointer DOUBLING
    — jump table J doubles its stride each round while the small
    target frontier unions in newly reached nodes — so rounds scale
    with log2(path length), not path length, and the frontier side of
    every join is broadcast-sized (|targets| x path cells).  The rounds
    run on the ``plans/loops.py`` superstep driver, which stops on the
    count of newly reached path nodes.
    """
    base = cells_df.select(
        F.col(cell_col).alias("cell"), F.col(cost_col).alias("cost"),
        F.col(source_col).alias("src"), F.col(target_col).alias("tgtf"),
        F.col(id_col).cast("long").alias("pid"))
    d = cost_distance(base, cost_col="cost", source_col="src",
                      cell_col="cell", dggs=dggs, block_bits=block_bits,
                      max_rounds=max_rounds)
    gi = lattice_indices(d.where(F.col("dist").isNotNull()), "cell", dggs)
    wlon_c, _wlat_c = _lattice_extent_exprs(dggs)
    wlon = int(gi.select(wlon_c.alias("w")).first()["w"])
    g = gi.select("cell", "gx", "gy", "cost", "src", "tgtf", "pid", "dist")
    g = g.localCheckpoint(eager=True)

    # predecessor pointers: explode the 8-neighbour stencil once and
    # equi-join on shifted grid coords (one shuffle); keep neighbours
    # that exactly witness c's settled distance, then min-id per cell
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(5 if dx == 0 or dy == 0 else 7).alias("m"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)])
    cand = (g.select("gx", "gy", "cost", "dist", "pid",
                     F.explode(offs).alias("o"))
            .select(F.pmod(F.col("gx") + F.col("o.dx"), F.lit(wlon))
                    .alias("ngx"),
                    (F.col("gy") + F.col("o.dy")).alias("ngy"),
                    F.col("o.m").alias("m"),
                    F.col("cost").alias("pcost"),
                    F.col("dist").alias("pdist"),
                    F.col("pid").alias("ppid")))
    nxt = (g.where(~F.col("src"))
           .join(cand, (F.col("gx") == F.col("ngx"))
                 & (F.col("gy") == F.col("ngy")))
           .where(F.col("pdist")
                  + (F.col("pcost") + F.col("cost")) * F.col("m")
                  == F.col("dist"))
           .groupBy("pid")
           .agg(F.min("ppid").alias("np"))
           .select(F.col("pid").alias("u"), F.col("np").alias("v")))

    # pointer doubling: frontier P = nodes known on some target's path,
    # ``fresh`` marking the nodes the round added (the probe).  The
    # jump/path self-joins are the driver's stats-reset case
    # (plans/loops.py).
    from raster2dggs_spark.plans.loops import fixpoint

    def trace(state, _fresh):
        path, jump = state
        # frontier side broadcast into the big jump table, result small
        reach = (jump.join(F.broadcast(path.select(F.col("node")
                                                   .alias("u")).distinct()),
                           "u")
                 .select("u", "v"))
        stepped = (path.join(F.broadcast(reach),
                             F.col("node") == F.col("u"))
                   .select("tgt", F.col("v").alias("node")))
        grown = (path.select("tgt", "node", F.lit(0).alias("fresh"))
                 .unionByName(stepped.withColumn("fresh", F.lit(1)))
                 .groupBy("tgt", "node")
                 .agg(F.min("fresh").alias("fresh")))
        # double the stride: J2(u) = J(J(u)) (absorbing at chain ends)
        doubled = (jump.alias("a")
                   .join(jump.alias("b"),
                         F.col("a.v") == F.col("b.u"), "left")
                   .select(F.col("a.u").alias("u"),
                           F.coalesce(F.col("b.v"), F.col("a.v"))
                           .alias("v")))
        return grown, doubled

    targets = g.where(F.col("tgtf")).select(
        F.col("pid").alias("tgt"), F.col("pid").alias("node"))
    path, _jump = fixpoint(trace, (targets, nxt), max_rounds=max_rounds,
                           name="least_cost_path",
                           probe=F.sum("fresh"))

    w = Window.partitionBy("tgt").orderBy(F.col("dist").desc())
    out = (path.join(d.withColumnRenamed("pid", "node_pid"),
                     F.col("node") == F.col("node_pid"))
           .select("tgt", "cell", F.col("node_pid").alias(id_col),
                   "dist", (F.row_number().over(w) - 1).alias("step")))
    return out
