"""Hierarchical cell compaction (SURVEY.md §2.4 A16).

Reference semantics (rasterindexer.py:474-513): bottom-up from res to
parent_res, a parent replaces its children iff ALL expected children are
present AND every value column is uniform across them; repeat per level.
The expected count per level is the grid's ``n_cells(r) // n_cells(r-1)``
(every nested grid here refines uniformly — hex7's H3 layout is 7-ary
everywhere, unlike libh3's pentagon-aware count; a5 is 5-ary at res 1).

Spark expression of one level: groupBy(native-bitwise parent) with
count + per-column distinct-count; qualifying groups collapse to one
parent row.  The loop runs res−target levels; each level is one
exchange over a strictly shrinking frame.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster2dggs_spark.dggs import MULTI_PARENT_GRIDS, grid_lib
from raster2dggs_spark.operators.joins import parent_expr


def _nested_lib(dggs: str):
    """The grid module, for grids whose children partition their parent
    (multi-parent grids compact through :func:`compact_cells_3h`)."""
    lib = grid_lib(dggs)
    if dggs in MULTI_PARENT_GRIDS:
        raise ValueError(
            f"compact: {dggs!r} children are shared between parents; "
            "use compact_cells_3h")
    return lib


def compact_cells(df: DataFrame, value_cols: list[str], res: int,
                  min_res: int = 0, dggs: str = "hex7",
                  cell_col: str = "cell") -> DataFrame:
    """Compact a single-resolution cell frame bottom-up to ``min_res``.

    Returns the mixed-resolution frame (cell ids carry their res in
    their packed layout).  Exact-equality uniformity, NaN-safe via
    null-safe comparison on a canonical struct.  Every nested grid
    compacts; parent derivation is the grid's native ``parent_col``
    (joins.parent_expr), zero Python in the loop."""
    lib = _nested_lib(dggs)
    out_parts: list[DataFrame] = []
    cur = df
    for r in range(res, min_res, -1):
        parent = parent_expr(cell_col, r - 1, dggs, from_res=r).alias("__parent")
        val_struct = F.struct(*[F.col(c) for c in value_cols])
        g = cur.select(parent, F.col(cell_col), val_struct.alias("__v"))
        stats = g.groupBy("__parent").agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.col("__v")).alias("__d"),
            F.first("__v").alias("__fv"),
        )
        compactable = stats.where(
            (F.col("__n") == lib.n_cells(r) // lib.n_cells(r - 1))
            & (F.col("__d") == 1)
        )
        parents = compactable.select(
            F.col("__parent").alias(cell_col),
            *[F.col("__fv")[c].alias(c) for c in value_cols],
        )
        kept = (
            g.join(compactable.select("__parent"), "__parent", "left_anti")
            .select(
                F.col(cell_col), *[F.col("__v")[c].alias(c) for c in value_cols]
            )
        )
        out_parts.append(kept)
        cur = parents  # parents may compact further at the next level
    out_parts.append(cur.select(cell_col, *value_cols))
    return reduce(lambda a, b: a.unionByName(b), out_parts)


def uncompact_cells(df: DataFrame, res: int, dggs: str = "hex7",
                    cell_col: str = "cell") -> DataFrame:
    """Inverse: expand every cell to its res-``res`` descendants (values
    replicated).  Used by the round-trip invariant test; the descendant
    enumeration is the grid's ``cell_to_children`` in a vectorized UDF."""
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd
    from typing import Iterator

    lib = _nested_lib(dggs)
    other = [c for c in df.columns if c != cell_col]
    schema = T.StructType(
        [T.StructField(cell_col, T.LongType(), False)]
        + [df.schema[c] for c in other]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf[cell_col].values
            cr = lib.get_resolution(cells)
            out_cells = []
            out_idx = []
            idx = np.arange(len(cells))
            for r_cur in np.unique(cr):
                m = cr == r_cur
                group = cells[m].astype(np.int64)
                if r_cur == res:
                    out_cells.append(group)
                    out_idx.append(idx[m])
                    continue
                kids = lib.cell_to_children(group, res)
                out_cells.append(kids)
                out_idx.append(np.repeat(idx[m], kids.size // group.size))
            cells_all = np.concatenate(out_cells)
            idx_all = np.concatenate(out_idx)
            data = {cell_col: cells_all}
            for c in other:
                data[c] = pdf[c].values[idx_all]
            yield pd.DataFrame(data)

    return df.mapInPandas(fn, schema)


def compact_cells_3h(df: DataFrame, value_cols: list[str], res: int,
                     min_res: int = 0,
                     cell_col: str = "cell") -> DataFrame:
    """A17 — multi-parent compaction for the aperture-3 ``i3h`` grid
    (ref semantics: dggalrasterindexer.py:236-372, `_compaction_3h`).

    On refinement-ratio-3 hex grids children do not nest: a parent's 7
    children are its center child plus its 6 VERTEX children, each
    vertex child shared by 3 parents.  Per level, fine → coarse:

    1. a parent compacts iff ALL 7 of its children are present with
       identical values (vertex children may contribute to several
       parents simultaneously);
    2. a child is removed iff EVERY one of its parents compacted;
    3. compacted parents join the active set (eligible next level).

    The reference runs this as a driver-side dict fixpoint; here each
    level is three bounded shuffles over a shrinking frame — the child→
    parents edge explode (vectorized lattice arithmetic, ≤3 edges/row),
    the per-parent completeness+uniformity aggregate, and the per-child
    all-parents-compacted aggregate — with a localCheckpoint per level
    so the lineage never deepens.  Seam parents (some expected children
    on a neighbouring face) never reach 7 present children and are
    conservatively left uncompacted.

    Input: single-resolution frame at ``res``.  Output: mixed
    resolutions in [min_res, res] (ids carry their res)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    val_struct = F.struct(*[F.col(c) for c in value_cols])
    active = df.select(F.col(cell_col), val_struct.alias("__v"))

    def _parents_of(c):
        from raster2dggs_spark.dggs import i3hlib

        cells = c.values.astype(np.int64)
        par = i3hlib.cell_to_parents(cells)          # (n, 3)
        return pd.Series([row[row != i3hlib.NO_PARENT]
                          for row in par])

    parents_of = F.pandas_udf(_parents_of, T.ArrayType(T.LongType()))

    for r in range(res, min_res, -1):
        lv = active.where(
            (F.shiftrightunsigned(F.col(cell_col), 54)
             .bitwiseAND(F.lit(0x1F))) == r
        )
        rest = active.where(
            (F.shiftrightunsigned(F.col(cell_col), 54)
             .bitwiseAND(F.lit(0x1F))) != r
        )

        # child -> parents explode as a column-native posexplode over a
        # vectorized parent-array UDF: child VALUES stay on the row, so
        # the former (edge UDF -> shuffle join back to lv) round trip —
        # one exchange + a cached edge frame per level — disappears;
        # the persist only saves the cheap UDF from running twice
        # (parent aggregate + removal pass)
        e = lv.select(cell_col, "__v",
                      F.explode(parents_of(F.col(cell_col)))
                      .alias("__parent")).persist()
        stats = e.groupBy("__parent").agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.col("__v")).alias("__d"),
            F.first("__v").alias("__fv"),
        )
        comp = stats.where((F.col("__n") == 7) & (F.col("__d") == 1)) \
                    .select("__parent", "__fv")
        # child removed iff ALL its parents compacted — ONE aggregate
        # over the flag-joined edges (total vs compacted-parent count)
        flagged = e.select(cell_col, "__parent").join(
            comp.select("__parent").withColumn("__c", F.lit(1)),
            "__parent", "left",
        )
        per_child = flagged.groupBy(cell_col).agg(
            F.count(F.lit(1)).alias("__t"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).alias("__m"),
        )
        removed = per_child.where(F.col("__t") == F.col("__m")) \
                           .select(cell_col)
        kept = lv.join(removed, cell_col, "left_anti")
        parents = comp.select(
            F.col("__parent").alias(cell_col), F.col("__fv").alias("__v")
        )
        active = rest.unionByName(kept).unionByName(parents) \
                     .localCheckpoint(eager=True)
        e.unpersist()
    return active.select(
        cell_col, *[F.col("__v")[c].alias(c) for c in value_cols]
    )
