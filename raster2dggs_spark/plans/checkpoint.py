"""Checkpointed, resumable writes (north rule: "checkpoint per Iceberg
partition with lineage + row-count metrics for resumability").

Built on the IceTable snapshot layer: a resumable job writes hive
partitions; a re-run after failure skips partitions already committed in
the latest snapshot and commits only the missing ones — the Spark-native
version of the reference's idempotent stage-1 store
(/root/reference/raster2dggs/common.py:858-876 deterministic file names
+ overwrite_or_ignore).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster2dggs_spark.plans.layout import (
    _DEFAULT_PARTITION,
    unescape_path_name,
    write_partitioned,
)
from raster2dggs_spark.sources.icetable import IceTable


def checkpointed_write(
    df: DataFrame,
    table: IceTable,
    partition_by: str,
    lineage: dict | None = None,
    fail_after_partitions: int | None = None,
    fail_before_commit: bool = False,
) -> dict:
    """Write ``df`` partition-by-partition groups with resume support.

    Already-committed partitions (from the latest snapshot) are skipped —
    the input is filtered *before* any work happens, so a resumed run
    recomputes only the missing slice.  Appends are snapshot-isolated
    (only the files THIS run wrote join the new snapshot; see
    IceTable.write), so a crash between the data write and the commit
    leaves only invisible orphans — the rerun's recompute cannot publish
    duplicates.

    Test hooks: ``fail_after_partitions`` commits only the first N
    partitions then raises (crash after a partial COMMIT);
    ``fail_before_commit`` writes the data files then raises (crash
    before any commit — the orphan-duplication scenario)."""
    done = table.committed_partitions()
    # committed names are escaped (a/b -> a%2Fb); compare raw values
    done_vals = [unescape_path_name(p.split("=", 1)[1]) for p in done]
    # null-safe partition key: isin() is NULL (dropped) for null keys,
    # which would silently lose the __HIVE_DEFAULT_PARTITION__ rows on
    # resume — map null and "" to the hive null-partition token first
    # (the writer files both under that directory name)
    key = F.coalesce(F.nullif(F.col(partition_by).cast("string"), F.lit("")),
                     F.lit(_DEFAULT_PARTITION))
    todo = df
    if done_vals:
        todo = df.where(~key.isin(done_vals))
    if fail_after_partitions is not None:
        keep = [
            r[0]
            for r in (
                todo.select(key.alias("__k")).distinct()
                .orderBy("__k").limit(fail_after_partitions).collect()
            )
        ]
        partial = todo.where(key.isin(keep))
        table.write(partial, partition_by, mode="append",
                    lineage={**(lineage or {}), "partial": True})
        raise RuntimeError("simulated failure after partial commit")
    if fail_before_commit:
        write_partitioned(todo, table.data_dir, partition_by, mode="append")
        raise RuntimeError("simulated failure before commit")
    return table.write(
        todo, partition_by, mode="append",
        lineage={**(lineage or {}), "resumed_from": sorted(done)},
    )
