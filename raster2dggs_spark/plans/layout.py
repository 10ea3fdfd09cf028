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
writer.  A write task that holds many partition values leaves one file
per (task, value) pair, so writing a frame whose last exchange is keyed
by another column (an aggregate hashed on ``cell``, written by
``parent``) scatters every value over many small files.  The writer
rebalances on the partition column first; AQE then sizes the write
tasks by bytes, coalescing small values into shared tasks (one file
each) and splitting a hot value into several advisory-sized files
instead of one task.

The files are written with pyarrow inside the tasks, and the driver
only commits them from the tasks' manifest.  Spark's own Parquet sink
goes through Hadoop's local filesystem, which without the native
Hadoop library forks a ``chmod`` process for every data file, checksum
sidecar and partition directory it creates.
"""

from __future__ import annotations

import os
import posixpath
import re
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a too-coarse input up to the session's shuffle
    parallelism (hash-partitioned by ``key_cols`` when given, so a
    downstream ``groupBy(key)`` plans no second exchange; round-robin
    otherwise).  No-op when the scan is already parallel enough —
    results are unchanged either way (pure physical layout)."""
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() * 2 > p:
        return df
    if key_cols:
        return df.repartition(p, *[F.col(c) for c in key_cols])
    return df.repartition(p)


# Spark's ExternalCatalogUtils.escapePathName character set: these ASCII
# characters are written as %XX in partition directory names
_ESCAPED = (frozenset(chr(c) for c in range(1, 32))
            | frozenset('"#%\'*/:=?\\\x7f{[]^'))
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# Hadoop's object-store schemes that pyarrow serves under another name
_SCHEMES = {"s3a": "s3", "s3n": "s3"}


def escape_path_name(name: str) -> str:
    """A partition column or value as Spark writes it in a path."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in name)


def unescape_path_name(name: str) -> str:
    """The partition column or value a path name was escaped from."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)),
                  name)


def _dictionary_columns(t: pa.Table) -> list[str]:
    """The flat columns worth a dictionary: at most half their values
    distinct.  parquet-mr drops a dictionary that does not pay for
    itself; pyarrow would keep one as large as a unique id column."""
    return [f.name for f, c in zip(t.schema, t.columns)
            if not (pa.types.is_nested(f.type) or pa.types.is_null(f.type))
            and 2 * pc.count_distinct(c).as_py() <= len(t)]


def _part_name(ctx, job: str, codec: str) -> str:
    """A task's file name.  ``taskAttemptId`` is unique in the
    application; ``attemptNumber`` restarts at 0 when a stage is
    resubmitted, so an old and a new attempt of one partition, both
    still running, would write the same file."""
    ext = "" if codec == "none" else f".{codec}"
    return (f"part-{ctx.partitionId():05d}-{job}-"
            f"a{ctx.taskAttemptId()}{ext}.parquet")


def _write_file(fs, path: str, batches, codec: str, stamp) -> int:
    """Write one output file from its buffered batches: at most one
    AQE-sized task input.  Buffering to the close lets ``stamp`` see the
    file's rows, since pyarrow fixes the footer metadata when the writer
    opens."""
    t = pa.Table.from_batches(batches)
    meta = stamp(t) if stamp else None
    if meta:
        t = t.replace_schema_metadata({**(t.schema.metadata or {}), **meta})
    fs.create_dir(posixpath.dirname(path))
    # pyarrow 16 writes footer key-values only beside its own
    # ARROW:schema blob, which unstamped files leave out
    pq.write_table(t, path, filesystem=fs, compression=codec,
                   use_dictionary=_dictionary_columns(t),
                   store_schema=bool(meta))
    return t.num_rows


def _write_task(batches, fs, stage: str, col: str, codec: str, stamp,
                job: str):
    """mapInArrow body: ``batches`` arrive sorted on the string partition
    value ``col``; every run of one value goes to that value's file.
    Yields the task's manifest, one (relative path, rows) per file."""
    from pyspark import TaskContext

    name = _part_name(TaskContext.get(), job, codec)
    prefix = escape_path_name(col) + "="
    cur, buf, done = None, [], []

    def close():
        rel = f"{cur}/{name}"
        done.append((rel, _write_file(fs, f"{stage}/{rel}", buf, codec,
                                      stamp)))

    for b in batches:
        runs = pc.run_end_encode(b.column(col))
        data = b.drop_columns([col])
        start = 0
        for end, v in zip(runs.run_ends.to_pylist(),
                          runs.values.to_pylist()):
            d = prefix + (escape_path_name(v) if v else _DEFAULT_PARTITION)
            if d != cur:
                if buf:
                    close()
                cur, buf = d, []
            buf.append(data.slice(start, end - start))
            start = end
    if buf:
        close()
    yield pa.RecordBatch.from_arrays(
        [pa.array([p for p, _ in done], pa.string()),
         pa.array([n for _, n in done], pa.int64())], ["path", "rows"])


def _filesystem(path: str):
    """The ``pyarrow.fs`` filesystem and root for a Spark output path:
    a plain or ``file:`` path is local, ``s3a://``/``s3n://`` are
    ``s3://``, any other ``scheme://`` is whatever pyarrow serves."""
    if path[:5].lower() == "file:":
        path = path[5:]
        if path.startswith("//"):
            host, _, rest = path[2:].partition("/")
            if host not in ("", "localhost"):
                raise ValueError(f"cannot write Parquet to {host!r} "
                                 f"through a file: path")
            path = "/" + rest
    if "://" not in path:
        return pafs.LocalFileSystem(), os.path.abspath(path)
    scheme, rest = path.split("://", 1)
    try:
        return pafs.FileSystem.from_uri(
            f"{_SCHEMES.get(scheme.lower(), scheme)}://{rest}")
    except pa.ArrowException as e:
        raise ValueError(f"cannot write Parquet to {path!r}: {e}") from e


def _remove(fs, path: str) -> None:
    info = fs.get_file_info(path)
    if info.type == pafs.FileType.Directory:
        fs.delete_dir(path)
    elif info.type == pafs.FileType.File:
        fs.delete_file(path)


def write_partitioned(df: DataFrame, path: str, partition_col: str,
                      mode: str = "overwrite",
                      compression: str | None = None,
                      stamp=None) -> list[tuple[str, int]]:
    """Write ``df`` as Parquet hive-partitioned on ``partition_col``,
    one file per partition value (several for a value hotter than the
    AQE advisory partition size), and return the manifest: one
    ``(path relative to path, rows)`` per file written, sorted.

    The rebalance exchange runs over the rows being written, after any
    aggregation upstream.  Each task sorts its rows on the partition
    value (cast to string, so Spark formats it) and writes its files
    with pyarrow under ``path/_temporary/<job>/``; the driver then
    applies ``mode`` (``overwrite`` removes the old data only once every
    task has succeeded, ``append`` keeps it), renames the manifest's
    files into place, deletes ``_temporary`` with any orphans of failed
    attempts and writes ``_SUCCESS``.  Every filesystem call goes
    through the one ``pyarrow.fs`` filesystem resolved from ``path``.

    ``stamp(table) -> {key: value}`` merges footer metadata computed
    from each file's own rows.  Each file is buffered in its task up to
    its close: at most one AQE-sized task input."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    spark = df.sparkSession
    codec = (compression
             or spark.conf.get("spark.sql.parquet.compression.codec")).lower()
    if codec == "uncompressed":
        codec = "none"
    if codec != "none" and not pa.Codec.is_available(codec):
        raise ValueError(f"Parquet codec {codec!r} is not available")
    fs, root = _filesystem(path)
    job = uuid.uuid4().hex
    stage = f"{root}/_temporary/{job}"
    fs.create_dir(stage)

    hinted = df.hint("rebalance", partition_col)
    keyed = hinted.select(
        *[hinted[c] for c in df.columns if c != partition_col],
        hinted[partition_col].cast("string").alias(partition_col),
    ).sortWithinPartitions(partition_col)
    try:
        written = keyed.mapInArrow(
            lambda it: _write_task(it, fs, stage, partition_col, codec,
                                   stamp, job),
            "path string, rows long").collect()
    except BaseException:
        _remove(fs, stage)
        raise

    if mode == "overwrite":
        for info in fs.get_file_info(pafs.FileSelector(root)):
            if info.base_name != "_temporary":
                _remove(fs, info.path)
    manifest = sorted((r.path, r.rows) for r in written)
    for d in sorted({posixpath.dirname(p) for p, _ in manifest}):
        fs.create_dir(f"{root}/{d}")
    for p, _ in manifest:
        fs.move(f"{stage}/{p}", f"{root}/{p}")
    _remove(fs, f"{root}/_temporary")
    fs.open_output_stream(f"{root}/_SUCCESS").close()
    return manifest
