"""GeoParquet 1.1.0 sink (reference S7: /root/reference/raster2dggs/
common.py:329-391) — WKB geometry column + ``geo`` schema metadata,
hive-partitioned on the parent cell.

WKB is encoded vectorized in NumPy (no shapely offline): little-endian
Point (type 1) for cell centres, Polygon (type 3, one closed ring of the
6 hex vertices) for cell boundaries.
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def wkb_points(lon: np.ndarray, lat: np.ndarray) -> list[bytes]:
    head = b"\x01\x01\x00\x00\x00"  # LE, Point
    return [head + struct.pack("<dd", float(x), float(y)) for x, y in zip(lon, lat)]


def wkb_polygons(vlon: np.ndarray, vlat: np.ndarray) -> list[bytes]:
    """(n, k) vertex arrays -> closed-ring WKB polygons."""
    out = []
    k = vlon.shape[1]
    head = b"\x01\x03\x00\x00\x00" + struct.pack("<I", 1) + struct.pack("<I", k + 1)
    for i in range(vlon.shape[0]):
        ring = b"".join(
            struct.pack("<dd", float(vlon[i, j]), float(vlat[i, j])) for j in range(k)
        )
        ring += struct.pack("<dd", float(vlon[i, 0]), float(vlat[i, 0]))
        out.append(head + ring)
    return out


def add_cell_geometry(df: DataFrame, dggs: str = "hex7",
                      geometry: str = "polygon") -> DataFrame:
    """Append a WKB ``geometry`` BinaryType column derived from ``cell``."""
    kind = geometry

    from raster2dggs_spark.dggs import grid_lib

    lib = grid_lib(dggs)

    @F.pandas_udf(T.BinaryType())
    def geom(cell: pd.Series) -> pd.Series:
        if kind == "polygon":
            vlon, vlat = lib.cell_to_boundary(cell.values)
            return pd.Series(wkb_polygons(vlon, vlat))
        lon, lat = lib.cell_to_lonlat(cell.values)
        return pd.Series(wkb_points(lon, lat))

    return df.withColumn("geometry", geom(F.col("cell")))


def geo_metadata(bbox: list[float], geometry_types: list[str]) -> bytes:
    """GeoParquet 1.1.0 file metadata value for key b'geo'."""
    return json.dumps({
        "version": "1.1.0",
        "primary_column": "geometry",
        "columns": {
            "geometry": {
                "encoding": "WKB",
                "geometry_types": geometry_types,
                "crs": None,  # per spec: null -> OGC:CRS84 (lon/lat WGS84)
                "bbox": bbox,
            }
        },
    }).encode()


def wkb_bbox(blobs) -> list[float] | None:
    """[xmin, ymin, xmax, ymax] over the WKB layouts THIS module writes
    (little-endian Point; little-endian single-ring Polygon).  Any other
    geometry (multi-ring, big-endian, other types) returns None — the
    caller falls back to the whole-world bbox rather than stamping a
    silently-wrong extent parsed at the wrong offset."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for b in blobs:
        if b is None:
            continue
        if len(b) < 21 or b[0] != 1:  # little-endian only
            return None
        geom_type = int.from_bytes(b[1:5], "little")
        if geom_type == 1:
            off = 5
        elif geom_type == 3 and int.from_bytes(b[5:9], "little") == 1:
            off = 13  # exactly one ring: skip ring + point counts
        else:
            return None
        if (len(b) - off) % 16 != 0:
            return None
        coords = np.frombuffer(b, dtype="<f8", offset=off)
        xs, ys = coords[0::2], coords[1::2]
        xmin = min(xmin, xs.min())
        xmax = max(xmax, xs.max())
        ymin = min(ymin, ys.min())
        ymax = max(ymax, ys.max())
    if not np.isfinite(xmin):
        return None
    return [float(xmin), float(ymin), float(xmax), float(ymax)]


def _write_stamped(df: DataFrame, path: str, partition_col: str | None,
                   stamp) -> None:
    """Write ``df`` as Parquet (hive-partitioned on ``partition_col``
    when given, one file per partition value), then merge ``stamp(table)``
    -> ``{key: value}`` into each file's footer metadata.  The rewrite
    reads every file on the driver, so ``stamp`` can derive its value
    from that file's own rows."""
    import glob
    import os

    import pyarrow.parquet as pq

    from raster2dggs_spark.plans.layout import write_partitioned

    if partition_col:
        write_partitioned(df, path, partition_col)
    else:
        df.write.mode("overwrite").parquet(path)
    for fp in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        t = pq.read_table(fp)
        md = dict(t.schema.metadata or {})
        md.update(stamp(t))
        pq.write_table(t.replace_schema_metadata(md), fp)
    # the rewrite invalidates Hadoop's .crc sidecars — drop them so Spark
    # can read the stamped files back
    for crc in glob.glob(os.path.join(path, "**", ".*.crc"), recursive=True):
        os.remove(crc)


def write_geoparquet(df: DataFrame, path: str, partition_col: str | None = None,
                     geometry_types: list[str] = ("Polygon",)) -> None:
    """Write a DataFrame carrying a WKB ``geometry`` column as GeoParquet:
    plain partitioned parquet + the ``geo`` metadata stamped into every
    file footer.  Each file's bbox is computed from ITS OWN geometries
    (reference parity: common.py:357-381 derives the partition extent
    from the data) so bbox-pruning readers get real extents, not the
    whole world.  The footer rewrite already reads the file, so the bbox
    scan adds no extra IO."""
    def stamp(t):
        bbox = wkb_bbox(t.column("geometry").to_pylist())
        if bbox is None:
            bbox = [-180.0, -90.0, 180.0, 90.0]
        return {b"geo": geo_metadata(bbox, list(geometry_types))}

    _write_stamped(df, path, partition_col, stamp)


def histogram_metadata(mode: str, edges=None, width=None, origin=0.0,
                       weight: str = "count", normalize: str = "none") -> bytes:
    """S8: the reference's histogram-spec schema metadata payload
    (common.py:673-688) — stamped under key b'raster2dggs:histogram' so
    readers can reconstruct bin semantics from the file alone."""
    return json.dumps({
        "mode": mode,
        "edges": list(edges) if edges else None,
        "width": width,
        "origin": origin,
        "weight": weight,
        "normalize": normalize,
    }).encode()


def write_histogram_parquet(df: DataFrame, path: str, mode: str,
                            edges=None, width=None, origin=0.0,
                            weight: str = "count", normalize: str = "none",
                            partition_col: str | None = None) -> None:
    """Histogram sink: partitioned parquet + the histogram-spec metadata
    stamped into every file footer (same metadata-only Arrow rewrite as
    the GeoParquet sink)."""
    meta_val = histogram_metadata(mode, edges, width, origin, weight, normalize)
    _write_stamped(df, path, partition_col,
                   lambda t: {b"raster2dggs:histogram": meta_val})
