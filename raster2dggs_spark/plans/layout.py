"""Physical-layout helpers: input fan-out and the partitioned sink.

Input-layout guard (guide §2.5 "input skew").

A single parquet file — the common shape of a small dimension table or a
freshly-exported corpus — scans as ONE partition, so any CPU-heavy
derivation planned before the first exchange (shingle explode + 16-way
md5 in the minhash pipeline, dot products in the similarity operators)
runs on one core regardless of cluster size.  :func:`fan_out` widens
such inputs to the session's shuffle parallelism BEFORE the heavy map
work, keyed by the downstream grouping key so the following
``groupBy``/join reuses the exchange (guide §2.4: one exchange shared
across keyed operations — the shuffle count is unchanged, only the
heavy work moves behind it).

The guard is a NO-OP whenever the input already has at least half the
session's shuffle partitions — at production scale inputs arrive as
thousands of files and the extra exchange would be pure cost, so this
only fires on the coarse-scan shape it exists for.

Sink layout: :func:`write_partitioned` is the one hive-partitioned
writer.  ``partitionBy(col)`` opens a file for every partition value a
write task holds, so writing a frame whose last exchange is keyed by
another column (an aggregate hashed on ``cell``, written by ``parent``)
leaves about one file per (task, value) pair.  The helper rebalances on
the partition column first; AQE then sizes the write tasks by bytes,
coalescing small values into shared tasks (one file each) and splitting
a hot value into several advisory-sized files instead of one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a too-coarse input up to the session's shuffle
    parallelism (hash-partitioned by ``key_cols`` when given, so a
    downstream ``groupBy(key)`` plans no second exchange; round-robin
    otherwise).  No-op when the scan is already parallel enough —
    results are unchanged either way (pure physical layout)."""
    if df.isStreaming:
        # no RDD inspection on streaming frames; micro-batch callers
        # (foreachBatch) pass batch frames and still get the guard
        return df
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() * 2 > p:
        return df
    if key_cols:
        return df.repartition(p, *[F.col(c) for c in key_cols])
    return df.repartition(p)


def write_partitioned(df: DataFrame, path: str, partition_col: str,
                      mode: str = "overwrite",
                      compression: str | None = None) -> None:
    """Write ``df`` as Parquet hive-partitioned on ``partition_col``,
    one file per partition value (several for a value hotter than the
    AQE advisory partition size).  The rebalance exchange runs over the
    rows being written, after any aggregation upstream."""
    w = df.hint("rebalance", partition_col).write.mode(mode)
    if compression is not None:
        w = w.option("compression", compression)
    w.partitionBy(partition_col).parquet(path)
