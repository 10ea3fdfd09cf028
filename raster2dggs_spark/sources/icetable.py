"""Iceberg-style manifest/snapshot layer over partitioned Parquet.

No Iceberg jars are available offline (SURVEY.md §7.0d), so we implement
the subset the north rule requires: versioned snapshots with per-partition
manifests carrying row counts and lineage, enabling

- atomic publish (write data files, then commit ``metadata/vN.json``),
- partition-level resumability (a re-run skips partitions already
  committed — the Spark analogue of the reference's idempotent
  overwrite-or-ignore stage-1 store, /root/reference/raster2dggs/
  common.py:858-876),
- audit metrics (rows per partition per snapshot).

Layout::

    <root>/data/<partition_col>=<value>/part-*.parquet
    <root>/metadata/v1.json, v2.json, ...   (vN = snapshot N)
    <root>/metadata/CURRENT                 (text: latest N)
"""

from __future__ import annotations

import json
import os
import posixpath
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from raster2dggs_spark.plans.layout import write_partitioned


class IceTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # -- snapshot bookkeeping -------------------------------------------
    def current_version(self) -> int:
        cur = os.path.join(self.meta_dir, "CURRENT")
        if not os.path.exists(cur):
            return 0
        with open(cur) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v == 0:
            return None
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def committed_partitions(self) -> set[str]:
        snap = self.snapshot()
        if not snap:
            return set()
        return {m["partition"] for m in snap["manifests"]}

    # -- write path ------------------------------------------------------
    def _list_data_files(self) -> set[str]:
        out: set[str] = set()
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(dirpath, fn),
                                            self.root))
        return out

    def write(
        self,
        df: DataFrame,
        partition_by: str,
        mode: str = "overwrite",
        lineage: dict | None = None,
    ) -> dict:
        """Write ``df`` hive-partitioned on ``partition_by`` and commit a new
        snapshot whose manifest records per-partition file lists + row
        counts.  ``lineage`` is free-form provenance (inputs, operator,
        params) stored verbatim in the snapshot.

        Append mode is snapshot-isolated: only files THIS write produced
        join the previous snapshot's manifests, so orphans from a run
        that crashed between its data write and its commit are never
        published (readers select manifest files, not the directory)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        files = write_partitioned(df, self.data_dir, partition_by, mode=mode)
        carried = self._untouched(self.snapshot(), set()) \
            if mode == "append" else {}
        return self._commit(partition_by, lineage, carried, files)

    @staticmethod
    def _untouched(snap: dict | None, rewritten: set[str]) -> dict[str, dict]:
        """Copies of ``snap``'s manifests, minus the ``rewritten``
        partitions."""
        return {m["partition"]: {"partition": m["partition"],
                                 "files": list(m["files"]),
                                 "row_count": m["row_count"]}
                for m in (snap or {}).get("manifests", [])
                if m["partition"] not in rewritten}

    def _commit(self, partition_by: str, lineage, manifests: dict,
                new_files) -> dict:
        """Commit a snapshot of ``manifests`` plus the writer's manifest
        ``new_files`` ((path relative to ``data_dir``, rows) pairs).
        Only files this write produced are published, so orphans of a
        crashed writer stay invisible."""
        os.makedirs(self.meta_dir, exist_ok=True)
        for rel, nrows in new_files:
            part = posixpath.dirname(rel)
            m = manifests.setdefault(
                part, {"partition": part, "files": [], "row_count": 0})
            m["files"].append(posixpath.join("data", rel))
            m["row_count"] += nrows
        prev = self.current_version()
        version = prev + 1
        snap = {
            "snapshot_id": uuid.uuid4().hex,
            "version": version,
            "parent_version": prev or None,
            "created_ms": int(time.time() * 1000),
            "partition_by": partition_by,
            "total_rows": sum(m["row_count"] for m in manifests.values()),
            "manifests": sorted(manifests.values(), key=lambda m: m["partition"]),
            "lineage": lineage or {},
        }
        tmp = os.path.join(self.meta_dir, f".v{version}.json.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.meta_dir, f"v{version}.json"))
        with open(os.path.join(self.meta_dir, "CURRENT.tmp"), "w") as f:
            f.write(str(version))
        os.replace(
            os.path.join(self.meta_dir, "CURRENT.tmp"),
            os.path.join(self.meta_dir, "CURRENT"),
        )
        return snap

    # -- read path ---------------------------------------------------------
    def read(self, spark: SparkSession,
             version: int | None = None,
             partition_values=None) -> DataFrame:
        """Snapshot-isolated scan: reads exactly the files the selected
        snapshot's manifests list (orphans from crashed writers are
        invisible until committed).  ``version`` time-travels to an
        older snapshot (Iceberg ``VERSION AS OF`` semantics): append
        snapshots carry the previous manifests forward, so an old
        version reproduces exactly the rows committed then — provided
        ``vacuum`` has not removed files newer overwrites orphaned.

        ``partition_values`` (iterable of partition-column values)
        prunes at the MANIFEST, not the filesystem: only the matching
        partitions' files are handed to the reader — Iceberg's
        metadata-level partition pruning.  On a parent-partitioned
        100-TB table a point lookup then opens a handful of files
        instead of listing 10⁵-10⁶ directories; an empty selection
        returns an empty frame with the snapshot's schema rather than
        a scan."""
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        manifests = snap["manifests"]
        if partition_values is not None:
            col = snap["partition_by"]
            want = {f"{col}={v}" for v in partition_values}
            pruned = [m for m in manifests if m["partition"] in want]
            if not pruned:
                # typed empty frame: take the schema from one real file
                any_file = next((f for m in manifests for f in m["files"]),
                                None)
                if any_file is None:
                    raise FileNotFoundError(
                        f"snapshot v{snap['version']} lists no files")
                schema = spark.read.option("basePath", self.data_dir) \
                    .parquet(os.path.join(self.root, any_file)).schema
                return spark.createDataFrame([], schema)
            manifests = pruned
        files = [os.path.join(self.root, f)
                 for m in manifests for f in m["files"]]
        if not files:
            raise FileNotFoundError(f"snapshot v{snap['version']} lists no files")
        return spark.read.option("basePath", self.data_dir).parquet(*files)

    def merge(self, updates: DataFrame, key_cols,
              lineage: dict | None = None) -> dict:
        """MERGE / upsert (Iceberg ``MERGE INTO`` copy-on-write): rows of
        ``updates`` REPLACE current rows with the same key, new keys
        INSERT; everything commits as one atomic snapshot.

        Partition-pruned rewrite — the scale contract: only partitions
        whose partition VALUE appears in ``updates`` are read (manifest
        pruning), anti-joined on the key, unioned with their updates
        and rewritten; every other partition's manifests carry forward
        byte-identical, so merge cost is O(touched partitions), not
        O(table).  Old files stay on disk for time travel (``read(
        version=...)`` reproduces the pre-merge table) until
        ``vacuum``.  Keys must be unique within ``updates`` and a row's
        key must determine its partition value (an update may not MOVE
        a row between partitions — the Iceberg identity-partition
        assumption; violating it duplicates the row, as in Iceberg).

        Single-writer assumption as the rest of the layer."""
        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        spark = updates.sparkSession
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(
                f"merge target has no snapshot under {self.root}; "
                "write() an initial version first")
        part_col = snap["partition_by"]
        pvals = [r[0] for r in
                 updates.select(part_col).distinct().collect()]
        current = self.read(spark, partition_values=pvals)
        if set(current.columns) != set(updates.columns):
            raise ValueError(
                f"merge schema mismatch: table {sorted(current.columns)} "
                f"vs updates {sorted(updates.columns)}")
        survivors = current.join(
            updates.select(*keys).distinct(), keys, "left_anti")
        merged = survivors.unionByName(updates.select(*current.columns))

        files = write_partitioned(merged, self.data_dir, part_col,
                                  mode="append")
        affected = {f"{part_col}={v}" for v in pvals}
        lin = dict(lineage or {})
        lin.setdefault("operation", "merge")
        lin.setdefault("merge_keys", keys)
        lin.setdefault("partitions_rewritten", sorted(affected))
        return self._commit(part_col, lin, self._untouched(snap, affected),
                            files)

    def delete_where(self, spark: SparkSession, condition,
                     lineage: dict | None = None) -> dict:
        """Copy-on-write DELETE: drop rows matching ``condition`` (a
        Column or SQL string) and commit one atomic snapshot.  One scan
        finds the partitions that actually contain matches; only those
        rewrite (manifest-pruned, as in :meth:`merge`) — a delete that
        touches nothing commits a no-op snapshot with zero rewrites."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(
                f"delete target has no snapshot under {self.root}")
        part_col = snap["partition_by"]
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cur = self.read(spark)
        pvals = [r[0] for r in
                 cur.where(cond).select(part_col).distinct().collect()]
        affected = {f"{part_col}={v}" for v in pvals}
        files = []
        if pvals:
            keep = self.read(spark, partition_values=pvals).where(~cond)
            files = write_partitioned(keep, self.data_dir, part_col,
                                      mode="append")
        lin = dict(lineage or {})
        lin.setdefault("operation", "delete")
        lin.setdefault("partitions_rewritten", sorted(affected))
        return self._commit(part_col, lin, self._untouched(snap, affected),
                            files)

    def optimize(self, spark: SparkSession, min_files: int = 2) -> dict:
        """Small-file compaction (the Iceberg ``rewrite_data_files`` /
        OPTIMIZE maintenance pass): partitions whose current manifest
        lists ``min_files`` or more data files are rewritten into one
        coalesced file each and committed as a new snapshot; compact
        partitions carry forward untouched.  After N streaming
        micro-batch appends a partition holds N tiny files — at
        production batch cadence the read amplification, not the data
        volume, becomes the scan bottleneck; this is the standing
        answer.

        Snapshot-isolated like every write: the rewritten files land
        beside the old ones and the commit swaps the manifests, so
        concurrent readers of older versions (time travel) keep
        working until ``vacuum`` reclaims the superseded files.
        Scale shape: ONE rebalance shuffle on the partition column over
        only the affected partitions' rows (compact partitions are not
        read at all; a partition past the AQE advisory size splits into
        a few advisory-sized files).  Returns the new snapshot (or the
        current one unchanged if nothing needed rewriting)."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(
                f"no committed snapshot under {self.root}")
        part_col = snap["partition_by"]
        rewrite = [m for m in snap["manifests"]
                   if len(m["files"]) >= min_files]
        if not rewrite:
            return snap
        old = [os.path.join(self.root, f)
               for m in rewrite for f in m["files"]]
        df = spark.read.option("basePath", self.data_dir).parquet(*old)
        files = write_partitioned(df, self.data_dir, part_col, mode="append")
        return self._commit(
            part_col,
            {"operator": "optimize",
             "rewrote_partitions": len(rewrite),
             "rewrote_files": sum(len(m["files"]) for m in rewrite),
             "parent_snapshot": snap["version"]},
            self._untouched(snap, {m["partition"] for m in rewrite}), files)

    def vacuum(self, min_age_s: float = 0.0) -> list[str]:
        """Delete data files not referenced by the current snapshot
        (orphans from crashed appends).  Returns the removed paths.

        SAFETY: only run while no writer is active — an in-flight append
        between its parquet write and its commit looks exactly like an
        orphan (the same window snapshot isolation protects readers
        from).  Refuses to run on a table with no committed snapshot
        (every file would be "orphan").  For shared tables pass
        ``min_age_s`` so only files older than a retention window are
        removed (the Iceberg remove_orphan_files pattern)."""
        snap = self.snapshot()
        if snap is None:
            raise RuntimeError(
                f"refusing to vacuum {self.root}: no committed snapshot — "
                "every data file would be treated as an orphan"
            )
        live = {f for m in snap["manifests"] for f in m["files"]}
        now = time.time()
        removed = []
        for rel in self._list_data_files() - live:
            fp = os.path.join(self.root, rel)
            if min_age_s > 0 and now - os.path.getmtime(fp) < min_age_s:
                continue
            os.remove(fp)
            crc = os.path.join(os.path.dirname(fp),
                               f".{os.path.basename(fp)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            removed.append(rel)
        return removed

    # below this many files the audit reads footers on the driver; above
    # it the footer scan is fanned out to the executors (shared-filesystem
    # assumption, same as the data path)
    _DRIVER_FOOTER_LIMIT = 256

    def _file_row_counts(self, files, spark: SparkSession) -> dict[str, int]:
        """rows per data file (paths relative to the root), read from the
        Parquet footers: on the driver up to ``_DRIVER_FOOTER_LIMIT``
        files, on the executors beyond it."""
        files = sorted(set(files))
        root = self.root

        def _read(rels):
            import pyarrow.parquet as _pq
            for rel in rels:
                yield (rel,
                       _pq.ParquetFile(
                           os.path.join(root, rel)).metadata.num_rows)

        if len(files) <= self._DRIVER_FOOTER_LIMIT:
            return dict(_read(files))
        sc = spark.sparkContext
        nslices = min(len(files), sc.defaultParallelism * 4)
        return dict(sc.parallelize(files, nslices)
                    .mapPartitions(lambda it: _read(it)).collect())

    def verify_counts(self, spark: SparkSession) -> bool:
        """Audit: recount every manifest file's rows from its Parquet
        footer and compare each partition's sum to the manifest.  Only
        (file, rows) pairs reach the driver, as many as the snapshot
        already lists; a missing file raises."""
        snap = self.snapshot()
        if snap is None:
            return False
        counts = self._file_row_counts(
            [f for m in snap["manifests"] for f in m["files"]], spark)
        return all(sum(counts[f] for f in m["files"]) == m["row_count"]
                   for m in snap["manifests"])
