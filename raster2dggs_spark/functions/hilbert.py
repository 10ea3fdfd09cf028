"""Hilbert space-filling-curve keys for spatial data clustering.

The Lakehouse layout trick (Delta OPTIMIZE ZORDER, Hudi/Iceberg
Hilbert clustering): sorting a cell table by a space-filling-curve key
before writing makes spatially-close cells land in the same Parquet
files, so bbox queries prune files instead of scanning everything.
Quadkey/geohash ids are already Morton (Z-order) keys; the Hilbert
curve strictly improves locality (no Z-order "seams" — every
consecutive pair of curve positions is a rook-adjacent cell pair).

The classic Wikipedia xy2d walk, unrolled over the ``order`` bit
levels.  Each level is ONE ``select`` materializing named columns —
naive Column nesting would copy the x/y subtrees into every reference
and blow the expression tree up 4^order-fold (the same trap exists in
SQL, so the oracle twin is a generated CTE CHAIN, one per level,
linear too).  Pure when/bitwise arithmetic — no UDF, codegen friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_hilbert_key(df: DataFrame, gx_col: str, gy_col: str,
                     order: int, out_col: str = "hkey") -> DataFrame:
    """Add the Hilbert curve position of (gx, gy) on the 2^order x
    2^order grid.  Inputs must lie in [0, 2^order); the mapping is a
    bijection onto [0, 4^order).  One narrow select per bit level."""
    if not 1 <= order <= 31:
        raise ValueError("order in 1..31")
    keep = df.columns
    cur = df.select(*keep,
                    F.col(gx_col).cast("long").alias("__hx"),
                    F.col(gy_col).cast("long").alias("__hy"),
                    F.lit(0).cast("long").alias("__hd"))
    for i in range(order - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("__hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
              .otherwise(F.lit(0))
        ry = F.when(F.col("__hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
              .otherwise(F.lit(0))
        x, y = F.col("__hx"), F.col("__hy")
        cur = cur.select(
            *keep,
            # rotate the quadrant frame (classic rot(): reflect, swap)
            F.when(ry == 1, x)
             .otherwise(F.when(rx == 1, F.lit(s - 1) - y).otherwise(y))
             .alias("__hx"),
            F.when(ry == 1, y)
             .otherwise(F.when(rx == 1, F.lit(s - 1) - x).otherwise(x))
             .alias("__hy"),
            (F.col("__hd")
             + F.lit(s) * F.lit(s)
             * (F.lit(3) * rx).bitwiseXOR(ry)).alias("__hd"))
    return cur.select(*keep, F.col("__hd").alias(out_col))


def hilbert_sql_ctes(base: str, carry: list, order: int,
                     first_cte: str = "hl") -> tuple[str, str]:
    """Generated SQL twin: a chain of CTE definitions (one per bit
    level, linear size) mapping the columns (``carry``..., hx, hy) of
    CTE/relation ``base`` to the same carry columns + ``hkey``.
    Returns (cte_block, final_cte_name); DuckDB dialect (&, xor())."""
    cols = ", ".join(carry)
    defs = [f"{first_cte}{order} AS (SELECT {cols}, hx, hy, "
            f"CAST(0 AS BIGINT) AS hd FROM {base})"]
    for i in range(order - 1, -1, -1):
        s = 1 << i
        prev = f"{first_cte}{i + 1}"
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        defs.append(
            f"""{first_cte}{i} AS (
              SELECT {cols},
                     CASE WHEN {ry} = 1 THEN hx
                          WHEN {rx} = 1 THEN {s - 1} - hy
                          ELSE hy END AS hx,
                     CASE WHEN {ry} = 1 THEN hy
                          WHEN {rx} = 1 THEN {s - 1} - hx
                          ELSE hx END AS hy,
                     hd + {s * s} * xor(3 * {rx}, {ry}) AS hd
              FROM {prev})""")
    return ",\n            ".join(defs), f"{first_cte}0"
