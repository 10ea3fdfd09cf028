"""GeoParquet 1.1.0 sink (reference S7: /root/reference/raster2dggs/
common.py:329-391) — WKB geometry column + ``geo`` schema metadata,
hive-partitioned on the parent cell.

WKB is encoded vectorized in NumPy (no shapely offline) as one byte
buffer plus int32 offsets per batch: little-endian Point (type 1) for
cell centres, Polygon (type 3, one closed ring of the cell's vertices)
for cell boundaries.  The footer metadata is stamped in the write tasks
(``plans.layout.write_partitioned``), from each file's own rows.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2dggs_spark.plans.layout import write_partitioned


def _wkb_array(head: bytes, xy: np.ndarray) -> pa.BinaryArray:
    """One WKB blob per row: ``head`` then the row's (lon, lat) pairs,
    ``xy`` shaped (n, points, 2)."""
    n = xy.shape[0]
    size = len(head) + 16 * xy.shape[1]
    buf = np.empty((n, size), np.uint8)
    buf[:, :len(head)] = np.frombuffer(head, np.uint8)
    buf[:, len(head):] = (np.ascontiguousarray(xy, "<f8")
                          .view(np.uint8).reshape(n, -1))
    offsets = np.arange(n + 1, dtype=np.int32) * size
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(buf)])


def wkb_points(lon: np.ndarray, lat: np.ndarray) -> pa.BinaryArray:
    head = b"\x01\x01\x00\x00\x00"  # LE, Point
    return _wkb_array(head, np.stack([lon, lat], -1)[:, None, :])


def wkb_polygons(vlon: np.ndarray, vlat: np.ndarray) -> pa.BinaryArray:
    """(n, k) vertex arrays -> closed-ring WKB polygons."""
    k = vlon.shape[1]
    # LE, Polygon, one ring of k + 1 points (the first vertex repeated)
    head = b"\x01\x03\x00\x00\x00" + np.array([1, k + 1], "<u4").tobytes()
    ring = np.stack([vlon, vlat], -1)
    return _wkb_array(head, np.concatenate([ring, ring[:, :1]], 1))


def add_cell_geometry(df: DataFrame, dggs: str = "hex7",
                      geometry: str = "polygon") -> DataFrame:
    """Append a WKB ``geometry`` BinaryType column derived from ``cell``."""
    kind = geometry

    from raster2dggs_spark.dggs import grid_lib

    lib = grid_lib(dggs)

    @F.arrow_udf(T.BinaryType())
    def geom(cell: pa.Array) -> pa.Array:
        c = cell.to_numpy()
        if kind == "polygon":
            return wkb_polygons(*lib.cell_to_boundary(c))
        return wkb_points(*lib.cell_to_lonlat(c))

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


def _u32_at(data: np.ndarray, at: np.ndarray) -> np.ndarray:
    """The little-endian uint32 starting at each byte offset ``at``."""
    return data[at[:, None] + np.arange(4)].view("<u4").ravel()


def wkb_bbox(geoms) -> list[float] | None:
    """[xmin, ymin, xmax, ymax] over a binary Arrow column of the WKB
    layouts THIS module writes (little-endian Point; little-endian
    single-ring Polygon); nulls are skipped.  Any other geometry
    (multi-ring, big-endian, other types) returns None — the caller
    falls back to the whole-world bbox rather than stamping a
    silently-wrong extent parsed at the wrong offset."""
    lo, hi = np.full(2, np.inf), np.full(2, -np.inf)
    chunks = geoms.chunks if isinstance(geoms, pa.ChunkedArray) else [geoms]
    for a in chunks:
        a = a.drop_null()
        if not len(a):
            continue
        off = np.frombuffer(a.buffers()[1], np.int32, len(a) + 1,
                            4 * a.offset)
        data = np.frombuffer(a.buffers()[2], np.uint8)
        start, end = off[:-1], off[1:]
        if (end - start < 21).any() or (data[start] != 1).any():
            return None
        gtype, rings = _u32_at(data, start + 1), _u32_at(data, start + 5)
        skip = np.where(gtype == 1, 5,
                        np.where((gtype == 3) & (rings == 1), 13, 0))
        if (skip == 0).any() or ((end - start - skip) % 16).any():
            return None
        # the coordinate bytes of every blob, concatenated: +1 where a
        # blob's coordinates start, -1 where the blob ends
        mark = np.zeros(len(data) + 1, np.int8)
        mark[start + skip] = 1
        mark[end] -= 1
        xy = data[np.cumsum(mark[:-1]) > 0].view("<f8").reshape(-1, 2)
        lo = np.minimum(lo, xy.min(0))
        hi = np.maximum(hi, xy.max(0))
    if not np.isfinite(lo).all():
        return None
    return [float(lo[0]), float(lo[1]), float(hi[0]), float(hi[1])]


def write_geoparquet(df: DataFrame, path: str, partition_col: str,
                     geometry_types: list[str] = ("Polygon",),
                     compression: str | None = None) -> None:
    """Write a DataFrame carrying a WKB ``geometry`` column as GeoParquet:
    partitioned parquet with the ``geo`` metadata in every file footer.
    Each file's bbox is computed in its write task from ITS OWN
    geometries (reference parity: common.py:357-381 derives the
    partition extent from the data), so bbox-pruning readers get real
    extents, not the whole world."""
    types = list(geometry_types)

    def stamp(t):
        bbox = wkb_bbox(t.column("geometry"))
        if bbox is None:
            bbox = [-180.0, -90.0, 180.0, 90.0]
        return {b"geo": geo_metadata(bbox, types)}

    write_partitioned(df, path, partition_col, compression=compression,
                      stamp=stamp)
