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
        carried = self._untouched(self.snapshot()) if mode == "append" else {}
        return self._commit(partition_by, lineage, carried, files)

    @staticmethod
    def _untouched(snap: dict | None) -> dict[str, dict]:
        """Copies of ``snap``'s manifests."""
        return {m["partition"]: {"partition": m["partition"],
                                 "files": list(m["files"]),
                                 "row_count": m["row_count"]}
                for m in (snap or {}).get("manifests", [])}

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
             version: int | None = None) -> DataFrame:
        """Snapshot-isolated scan: reads exactly the files the selected
        snapshot's manifests list (orphans from crashed writers are
        invisible until committed).  ``version`` time-travels to an
        older snapshot (Iceberg ``VERSION AS OF`` semantics): append
        snapshots carry the previous manifests forward, so an old
        version reproduces exactly the rows committed then — provided
        ``vacuum`` has not removed files newer overwrites orphaned."""
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        files = [os.path.join(self.root, f)
                 for m in snap["manifests"] for f in m["files"]]
        if not files:
            raise FileNotFoundError(f"snapshot v{snap['version']} lists no files")
        return spark.read.option("basePath", self.data_dir).parquet(*files)

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
