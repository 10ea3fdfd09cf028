"""The benchmark workloads.

Each workload builds its seeded inputs into a cache keyed by (workload,
size, seed) together with the ground truth it knows, loads them into a
session, runs one job, and checks the job's output against that truth
without going through the engine path.  Sizes are fixed here and stated
in README.md.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

RES = 9                # hex7 cell resolution of every encode


def noop(df) -> None:
    """Run a frame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def _rate(fn, n_units: float, min_s: float = 0.2) -> float:
    """Units per second of a driver-side kernel call, repeated until at
    least ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return reps * n_units / el


def _run_ladder(tracer, rungs: dict, reps: int = 3) -> dict:
    """Median wall of each prefix rung, rungs interleaved across reps,
    after one untimed pass over every rung."""
    for fn in rungs.values():
        fn()
    for _ in range(reps):
        for name, fn in rungs.items():
            with tracer.span(name):
                fn()
    return {name: tracer.median(name) for name in rungs}


def _write_parts(df: pd.DataFrame, path: str, parts: int = 4,
                 schema=None) -> None:
    """Write ``df`` as a directory of ``parts`` Parquet files, so a read
    has that many partitions without a shuffle."""
    os.makedirs(path)
    step = -(-len(df) // parts)
    for i in range(0, len(df), step):
        df.iloc[i:i + step].to_parquet(
            os.path.join(path, f"part-{i // step:02d}.parquet"), index=False,
            schema=schema)


@contextlib.contextmanager
def _maybe_span(tracer, name):
    if tracer is None:
        yield
    else:
        with tracer.span(name):
            yield


class Workload:
    name = ""
    unit = ""
    # per-layer self times, each timed on its own, that together should
    # make up one job's wall
    self_time_metrics: tuple[str, ...] = ()
    # set-ups per run, each ending in a warm-up job; the timed jobs
    # follow them, so they also set how warm the JVM is when timing starts
    setup_reps = 3
    # timed jobs per run at least, whatever --seconds says; three at
    # least, so the median is never the mean of two
    min_jobs = 3

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.cache = os.path.join(work, "cache",
                                  f"{self.name}-{self.size_tag()}-s{seed}")
        self.out_root = os.path.join(work, "out", f"{self.name}-s{seed}")
        self.trace_errors: list[str] = []

    def size_tag(self) -> str:
        raise NotImplementedError

    def ensure_inputs(self) -> None:
        """Build the inputs and truth once per cache key."""
        done = os.path.join(self.cache, "_READY")
        if not os.path.exists(done):
            shutil.rmtree(self.cache, ignore_errors=True)
            os.makedirs(self.cache)
            truth = self.generate()
            with open(os.path.join(self.cache, "truth.json"), "w") as f:
                json.dump(truth, f)
            open(done, "w").close()
        with open(os.path.join(self.cache, "truth.json")) as f:
            self.truth = json.load(f)
        self.units_per_job = self.truth["units"]

    def generate(self) -> dict:
        raise NotImplementedError

    def load(self, spark) -> dict:
        raise NotImplementedError

    def unload(self, state: dict) -> None:
        for df in state.values():
            if hasattr(df, "unpersist"):
                df.unpersist()

    def job(self, spark, state: dict, k: int, tracer=None):
        raise NotImplementedError

    def check(self, result) -> str | None:
        """None when the output matches the truth, else what differed."""
        raise NotImplementedError

    def warmup(self, spark, state: dict) -> None:
        """The untimed warm-up job of a set-up: one checked job."""
        err = self.check(self.job(spark, state, -1))
        if err is not None:
            raise RuntimeError(f"warm-up job output is wrong: {err}")

    def sink_metrics(self, result) -> dict:
        """Per-layer metrics of a job's written output, read before the
        check removes it."""
        return {}

    def trace_layers(self, spark, state, tracer) -> dict:
        raise NotImplementedError


# ---- index_to_parquet ------------------------------------------------------

def _image_arrow_schema():
    """pyarrow twin of sources.images.IMAGE_SCHEMA, so the cached table
    reads back into Spark with the engine's column types."""
    import pyarrow as pa

    from raster2dggs_spark.sources.images import IMAGE_SCHEMA

    types = {"StringType()": pa.string(), "BinaryType()": pa.binary(),
             "IntegerType()": pa.int32(), "LongType()": pa.int64(),
             "DoubleType()": pa.float64(),
             "ArrayType(StringType(), True)": pa.list_(pa.string())}
    return pa.schema([pa.field(f.name, types[str(f.dataType)], f.nullable)
                      for f in IMAGE_SCHEMA.fields])


_NIBBLE = np.zeros(256, np.uint64)
_NIBBLE[np.frombuffer(b"0123456789abcdef", np.uint8)] = np.arange(16)
_NIBBLE[np.frombuffer(b"ABCDEF", np.uint8)] = np.arange(10, 16)


def _hex_to_int64(col) -> np.ndarray:
    """Cell id strings (hex, up to 16 digits) to int64, without a Python
    loop over rows."""
    import pyarrow.compute as pc

    txt = pc.utf8_lpad(col, 16, "0").combine_chunks()
    offsets = np.frombuffer(txt.buffers()[1], np.int32)[
        txt.offset:txt.offset + len(txt) + 1]
    chars = np.frombuffer(txt.buffers()[2], np.uint8)[offsets[0]:offsets[-1]]
    digits = _NIBBLE[chars.reshape(-1, 16)]
    shifts = np.arange(60, -4, -4, dtype=np.uint64)
    return np.bitwise_or.reduce(digits << shifts, axis=1).view(np.int64)


def _tile_cells(r, res: int):
    """Driver-side recomputation of one image-table tile: decode, mask
    nodata to NaN, drop pixels that are nodata in every band, georeference
    and encode.  Returns (cells, (bands, kept pixels) float64 values)."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import h3lib
    from raster2dggs_spark.dggs.cover import wrap_lon
    from raster2dggs_spark.geo import pixel_centers_lonlat

    arr = decode_image(r.bytes)
    if r.nodata is not None and not np.isnan(r.nodata):
        arr = np.where(arr == np.float32(r.nodata), np.nan, arr)
    k, h, w = arr.shape
    vals = arr.reshape(k, h * w).astype(np.float64)
    keep = ~np.all(np.isnan(vals), axis=0)
    lon, lat = pixel_centers_lonlat(
        (r.affine_a, r.affine_b, r.affine_c, r.affine_d, r.affine_e,
         r.affine_f), w, h, r.crs)
    cell = h3lib.latlng_to_cell(wrap_lon(lon[keep]), lat[keep], res)
    return cell, vals[:, keep]


class IndexToParquet(Workload):
    """The reference CLI job end to end: the seeded image table ->
    index_raster (hex7 res 9, point transfer, mean) -> write_output at the
    default parent resolution.  The traced run also indexes a small
    GeoTIFF corpus, so the GeoTIFF scan is measured too."""

    name = "index_to_parquet"
    unit = "pixels"
    self_time_metrics = ("input.wall_s", "map.wall_s", "agg.wall_s",
                         "format.wall_s", "sink.wall_s")
    n_images = 64
    # the job's wall is flat from the second job of a JVM on, so two
    # set-ups warm it; the time a third would take buys a fourth timed
    # job, so the nearest-rank p75 tail is not the slowest job of the run
    # (with three timed jobs the tail's ten-seed spread reached 0.25)
    setup_reps = 2
    min_jobs = 4
    # every tile 64x64 px, the mean area of the reference's 32-96 px
    # sides, so every seed indexes the same number of pixels
    size_range = (64, 64)
    n_bands = 4             # the table's widest tiles carry four bands
    parent_res = 3          # operators.indexing.default_parent_res(9, hex7)
    n_kernel_tiles = 16     # fixed sample for the driver-side kernels
    # traced-run GeoTIFF corpus: zstd-tiled predictor-2 float32 files
    n_tiffs = 4
    tiff_side = 512
    tiff_tile = 256
    tiff_pixel_deg = 5e-4
    tiff_nodata = -9999.0

    def size_tag(self):
        return (f"i{self.n_images}x{self.size_range[0]}-{self.size_range[1]}"
                f"p4t{self.n_tiffs}x{self.tiff_side}")

    def table_path(self) -> str:
        return os.path.join(self.cache, "images")

    def tiff_paths(self) -> list[str]:
        return [os.path.join(self.cache, f"g{i:02d}.tiff")
                for i in range(self.n_tiffs)]

    def generate(self):
        """The image table is sources.images.generate_images_pdf, the
        driver-side twin of write_images_table (same per-image seeds, same
        rows).  Truth is the per-cell mean of every band, recomputed tile
        by tile with the codec, geo and dggs kernels."""
        from raster2dggs_spark.dggs import h3lib
        from raster2dggs_spark.sources.images import generate_images_pdf

        pdf = generate_images_pdf(self.n_images, self.seed,
                                  size_range=self.size_range)
        # four files, two per core: every Python worker then decodes a
        # share of the tiles in each job, and the workers' memory grows
        # alike
        _write_parts(pdf, self.table_path(), schema=_image_arrow_schema())
        cell_l, val_l = [], []
        for r in pdf.itertuples(index=False):
            cell, vals = _tile_cells(r, RES)
            pad = np.full((self.n_bands - vals.shape[0], cell.size), np.nan)
            cell_l.append(cell)
            val_l.append(np.vstack([vals, pad]))
        cell = np.concatenate(cell_l)
        vals = np.concatenate(val_l, axis=1)
        ucell, inv = np.unique(cell, return_inverse=True)
        mean = np.full((self.n_bands, ucell.size), np.nan)
        for b in range(self.n_bands):
            ok = ~np.isnan(vals[b])
            cnt = np.bincount(inv[ok], minlength=ucell.size)
            s = np.bincount(inv[ok], weights=vals[b][ok],
                            minlength=ucell.size)
            mean[b] = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
        np.savez(os.path.join(self.cache, "truth.npz"), cell=ucell,
                 parent=h3lib.cell_to_parent(ucell, self.parent_res),
                 mean=mean)
        truth = {"units": int((pdf["w"] * pdf["h"]).sum()),
                 "pixels": int(cell.size), "cells": int(ucell.size),
                 "payload_bytes": int(pdf["bytes"].map(len).sum())}
        truth.update(self._generate_tiffs())
        return truth

    def _generate_tiffs(self) -> dict:
        """GeoTIFFs at scattered places, each with a nodata rectangle;
        the truth is their non-nodata pixel count."""
        from raster2dggs_spark.sources.geotiff import write_geotiff

        n, kept = self.tiff_side, 0
        for i, path in enumerate(self.tiff_paths()):
            rng = np.random.default_rng(
                np.random.SeedSequence([self.seed, 1000 + i]))
            arr = rng.random((1, n, n)).astype(np.float32)
            r0, c0 = rng.integers(0, n // 2, 2)
            arr[0, r0:r0 + n // 4, c0:c0 + n // 3] = self.tiff_nodata
            kept += int(np.sum(arr != np.float32(self.tiff_nodata)))
            affine = (self.tiff_pixel_deg, 0.0, float(rng.uniform(-170, 169)),
                      0.0, -self.tiff_pixel_deg, float(rng.uniform(-60, 60)))
            write_geotiff(path, arr, affine, "EPSG:4326",
                          nodata=self.tiff_nodata, compression="zstd",
                          tile=(self.tiff_tile, self.tiff_tile), predictor=2)
        return {"tiff_pixels": kept}

    def load(self, spark):
        z = np.load(os.path.join(self.cache, "truth.npz"))
        self._expect = {k: z[k] for k in z.files}
        images = spark.read.parquet(self.table_path()).persist()
        images.count()
        return {"images": images}

    def _indexed(self, images):
        from raster2dggs_spark import api

        return api.index_raster(images, dggs="hex7", resolution=RES)

    def job(self, spark, state, k, tracer=None):
        from raster2dggs_spark import api

        out = os.path.join(self.out_root, f"job{k:04d}")
        api.write_output(self._indexed(state["images"]), out, dggs="hex7",
                         parent_res=self.parent_res)
        return out

    def sink_metrics(self, out):
        files = glob.glob(os.path.join(out, "*", "*.parquet"))
        size = sum(os.path.getsize(f) for f in files)
        return {"sink.files": len(files),
                "sink.partitions": len({os.path.dirname(f) for f in files}),
                "sink.bytes_per_file": size / max(1, len(files)),
                "sink.bytes_per_row": size / self.truth["cells"]}

    def check(self, out):
        """Read the hive-partitioned output back with pyarrow: one row per
        distinct cell, each in its parent's partition, with every band's
        mean."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        bands = [f"band_{b + 1}" for b in range(self.n_bands)]
        try:
            # the partition value is a hex string; read it as one, or an
            # all-digit parent would be inferred as an integer
            part = ds.partitioning(pa.schema([("hex7_03", pa.string())]),
                                   flavor="hive")
            t = ds.dataset(out, format="parquet", partitioning=part).to_table(
                columns=["hex7_09", "hex7_03", *bands])
            e = self._expect
            if t.num_rows != e["cell"].size:
                return f"rows {t.num_rows} != distinct cells {e['cell'].size}"
            hexint = lambda c: _hex_to_int64(t.column(c))  # noqa: E731
            cells = hexint("hex7_09")
            order = np.argsort(cells)
            if not np.array_equal(cells[order], e["cell"]):
                return "written cell set differs"
            if not np.array_equal(hexint("hex7_03")[order], e["parent"]):
                return "a cell sits in the wrong parent partition"
            vals = np.stack([t.column(b).to_numpy(zero_copy_only=False)
                             .astype(np.float64) for b in bands])
            if not np.allclose(vals[:, order], e["mean"], rtol=1e-9,
                               atol=1e-12, equal_nan=True):
                return "per-cell means differ"
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def trace_layers(self, spark, state, tracer):
        """Prefix ladder into the noop sink (cached input, cell_partials,
        index_point_agg, index_raster), the sink timed on its own over an
        indexed frame that is already materialised, the GeoTIFF scan on
        its own corpus, and driver-side kernels over a fixed tile sample."""
        from raster2dggs_spark import api
        from raster2dggs_spark.operators.indexing import (
            cell_partials, index_point_agg,
        )

        images = state["images"]
        stats = ("cnt", "sum")
        med = _run_ladder(tracer, {
            "rung.input": lambda: noop(images),
            "rung.cell_partials": lambda: noop(cell_partials(
                images, RES, stats=stats)),
            "rung.index_point_agg": lambda: noop(index_point_agg(
                images, RES, "mean")),
            "rung.index_raster": lambda: noop(self._indexed(images)),
        })
        m = {
            "input.wall_s": med["rung.input"],
            "map.wall_s": med["rung.cell_partials"] - med["rung.input"],
            "agg.wall_s": (med["rung.index_point_agg"]
                           - med["rung.cell_partials"]),
            "format.wall_s": (med["rung.index_raster"]
                              - med["rung.index_point_agg"]),
        }
        m.update(self._trace_sink(spark, images, tracer))
        partial_rows = cell_partials(images, RES, stats=stats).count()
        m["map.combine_ratio"] = self.truth["pixels"] / partial_rows
        npx = index_point_agg(images, RES, "mean").agg(
            F.sum("npx")).collect()[0][0]
        if npx != self.truth["pixels"]:
            self.trace_errors.append(
                f"sum(npx) {npx} != non-nodata pixels {self.truth['pixels']}")
        m["input.tiles"] = self.n_images
        m["input.payload_bytes"] = self.truth["payload_bytes"]
        m.update(self._trace_geotiff(spark, tracer))
        m.update(self._trace_kernels())
        return m

    def _trace_sink(self, spark, images, tracer, reps: int = 3) -> dict:
        """write_output timed on its own, over the indexed frame cached
        with the partitioning the job's own write sees (AQE coalesces the
        shuffle partitions of a cached plan only when allowed to).  The
        ladder runs before the cache exists, so no rung reads it."""
        from raster2dggs_spark import api

        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        spark.conf.set(key, "true")
        indexed = self._indexed(images).persist()
        indexed.count()
        spark.conf.unset(key)
        dirs = [os.path.join(self.out_root, f"sink{i}")
                for i in range(reps + 1)]
        try:
            api.write_output(indexed, dirs[0], dggs="hex7",
                             parent_res=self.parent_res)
            for d in dirs[1:]:
                with tracer.span("layer.sink"):
                    api.write_output(indexed, d, dggs="hex7",
                                     parent_res=self.parent_res)
            files = len(glob.glob(os.path.join(dirs[-1], "*", "*.parquet")))
        finally:
            indexed.unpersist()
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
        return {"sink.wall_s": tracer.median("layer.sink"),
                "sink.isolated_files": files}

    def _trace_geotiff(self, spark, tracer) -> dict:
        """GeoTIFF scan ladder: window plan, read_geotiff into noop, and
        read_geotiff -> index_point_agg -> one-row aggregate collected."""
        from raster2dggs_spark.operators.indexing import index_point_agg
        from raster2dggs_spark.sources.geotiff import (
            decode_segment, read_geotiff, window_plan,
        )

        paths = self.tiff_paths()
        npx = []
        med = _run_ladder(tracer, {
            "rung.geotiff_plan": lambda: window_plan(paths),
            "rung.read_geotiff": lambda: noop(read_geotiff(spark, paths)),
            "rung.geotiff_index_agg": lambda: npx.append(index_point_agg(
                read_geotiff(spark, paths), RES, "mean", n_bands=1).agg(
                F.sum("npx")).collect()[0][0]),
        })
        if set(npx) != {self.truth["tiff_pixels"]}:
            self.trace_errors.append(
                f"GeoTIFF sum(npx) {npx} != non-nodata pixels "
                f"{self.truth['tiff_pixels']}")
        plan = window_plan(paths)
        segs = []
        for r in plan[plan["path"] == paths[0]].itertuples(index=False):
            with open(r.path, "rb") as f:
                f.seek(int(r.seg_offsets[0]))
                segs.append((r.meta, int(r.seg_indices[0]),
                             f.read(int(r.seg_counts[0]))))
        seg_px = len(segs) * self.tiff_tile ** 2
        return {
            "scan.header_s": med["rung.geotiff_plan"],
            "scan.wall_s": med["rung.read_geotiff"],
            "scan.index_agg_wall_s": med["rung.geotiff_index_agg"],
            "scan.windows": len(plan),
            "scan.bytes_read": int(sum(sum(c) for c in plan["seg_counts"])),
            "codecs.segment_mpx_per_s": _rate(
                lambda: [decode_segment(*s) for s in segs], seg_px) / 1e6,
        }

    def _trace_kernels(self) -> dict:
        """Driver-side kernel throughputs over the table's first tiles."""
        import pyarrow.parquet as pq

        from raster2dggs_spark.codecs import decode_image
        from raster2dggs_spark.dggs import h3lib
        from raster2dggs_spark.geo import pixel_centers_lonlat

        rows = list(pq.read_table(self.table_path()).slice(
            0, self.n_kernel_tiles).to_pandas().itertuples(index=False))
        px = sum(r.w * r.h for r in rows)
        affs = [((r.affine_a, r.affine_b, r.affine_c, r.affine_d,
                  r.affine_e, r.affine_f), r.w, r.h, r.crs) for r in rows]
        pts = [pixel_centers_lonlat(*a) for a in affs]
        lon = np.concatenate([p[0] for p in pts])
        lat = np.concatenate([p[1] for p in pts])
        return {
            "codecs.decode_mpx_per_s": _rate(
                lambda: [decode_image(r.bytes) for r in rows], px) / 1e6,
            "geo.mpx_per_s": _rate(
                lambda: [pixel_centers_lonlat(*a) for a in affs], px) / 1e6,
            "dggs.encode_mpx_per_s": _rate(
                lambda: h3lib.latlng_to_cell(lon, lat, RES), px) / 1e6,
        }


# ---- joins_and_loops -------------------------------------------------------

class JoinsAndLoops(Workload):
    """The join half and a superstep loop, with no raster decode:
    point-in-polygon and kNN joins, then connected components on a
    chain-plus-random graph.  The traced run also runs cost_distance, the
    other superstep loop, on a small quadkey lattice."""

    name = "joins_and_loops"
    unit = "items"
    # none: the job is its three operator spans in sequence, so their sum
    # would cover it by construction
    n_zones = 16
    n_points = 5_000        # point-in-polygon probes
    n_queries = 500         # kNN probes
    n_targets = 5_000
    join_res = 5            # point-in-polygon cover resolution
    k = 3
    # ~20 targets fall within the radius of a probe on average, so every
    # probe resolves in the first round (P(fewer than k) ~ 1e-7 each)
    knn_radius_m = 800_000.0
    n_sample = 100          # kNN probes checked exhaustively
    chain = 6               # chain vertices 0..chain-1
    # dense enough that the superstep loop converges in three rounds on
    # every seed (15 of 15 seeds tried; with 300 vertices 4 of 15 took
    # four rounds, and their jobs ran about 10% longer)
    n_vertices = 150        # random-edge vertices, ids from 100_000
    n_edges = 3_000
    # traced-run cost_distance lattice: a patch of quadkey level-9 tiles
    # in 2x2 blocks of 32x32, so the wavefront crosses block rims
    lattice_side = 64
    lattice_origin = 128    # first tile index on both axes
    lattice_level = 9
    lattice_block_bits = 5
    n_sources = 4

    def size_tag(self):
        return (f"z{self.n_zones}p{self.n_points}q{self.n_queries}"
                f"c{self.chain}v{self.n_vertices}e{self.n_edges}"
                f"l{self.lattice_side}")

    def generate(self):
        truth = self._generate_joins()
        truth.update(self._generate_graph())
        truth.update(self._generate_lattice())
        truth["units"] = self.n_points + self.n_queries + truth["n_edges"]
        return truth

    def _generate_joins(self) -> dict:
        from raster2dggs_spark.operators.joins import raycast_contains
        from raster2dggs_spark.sources.vectors import (
            generate_points_pdf, generate_zones_pdf,
        )

        zones = generate_zones_pdf(self.n_zones, self.seed)
        pts = generate_points_pdf(self.n_points, self.seed, zones=zones)
        q = generate_points_pdf(self.n_queries, self.seed + 1).rename(
            columns={"point_id": "q_id"})
        t = generate_points_pdf(self.n_targets, self.seed + 2).rename(
            columns={"point_id": "t_id"})
        for name, df in (("zones", zones[["poly_id", "xs", "ys"]]),
                         ("points", pts), ("queries", q), ("targets", t)):
            _write_parts(df, os.path.join(self.cache, name))

        # point-in-polygon: brute-force ray casting of every probe
        n_hits, fp = 0, 0
        for z in zones.itertuples(index=False):
            inside = raycast_contains(pts["lon"].values, pts["lat"].values,
                                      np.asarray(z.xs), np.asarray(z.ys))
            ids = pts["point_id"].values[inside]
            n_hits += int(ids.size)
            fp += int(np.sum(ids * 1000 + z.poly_id))
        # kNN: exhaustive haversine top-(k+1) for a fixed probe sample
        rng = np.random.default_rng(np.random.SeedSequence([self.seed, 77]))
        sample = rng.choice(self.n_queries, self.n_sample, replace=False)
        knn = {}
        tl, tb = np.radians(t["lon"].values), np.radians(t["lat"].values)
        for qi in sample:
            ql = np.radians(q["lon"].values[qi])
            qb = np.radians(q["lat"].values[qi])
            h = (np.sin((tb - qb) / 2) ** 2
                 + np.cos(qb) * np.cos(tb) * np.sin((tl - ql) / 2) ** 2)
            dist = 2 * np.arcsin(np.sqrt(h))
            top = np.lexsort((t["t_id"].values, dist))[:self.k + 1]
            knn[str(int(q["q_id"].values[qi]))] = {
                "ids": t["t_id"].values[top].tolist(),
                "dist": dist[top].tolist()}
        return {"pip_hits": n_hits, "pip_fp": fp, "knn": knn}

    def _generate_graph(self) -> dict:
        rng = np.random.default_rng(np.random.SeedSequence([self.seed, 5]))
        chain = np.arange(self.chain, dtype=np.int64)
        ra = 100_000 + rng.integers(0, self.n_vertices, self.n_edges)
        rb = 100_000 + rng.integers(0, self.n_vertices, self.n_edges)
        keep = ra != rb
        edges = pd.DataFrame({
            "id_a": np.concatenate([chain[:-1], ra[keep]]),
            "id_b": np.concatenate([chain[1:], rb[keep]]),
        })
        _write_parts(edges, os.path.join(self.cache, "edges"))

        labels = _components(edges["id_a"].values, edges["id_b"].values)
        lab = np.fromiter(labels.values(), np.int64, len(labels))
        return {"n_edges": len(edges), "cc_vertices": int(lab.size),
                "cc_components": int(np.unique(lab).size),
                "cc_label_sum": int(lab.sum())}

    def _generate_lattice(self) -> dict:
        """Integer costs 1..9 and scattered sources; truth is a
        single-process Dijkstra under cost_distance's chamfer weights."""
        from raster2dggs_spark.dggs import quadkeylib

        n = self.lattice_side
        rng = np.random.default_rng(np.random.SeedSequence([self.seed, 9]))
        cost = rng.integers(1, 10, (n, n)).astype(np.float64)
        src = np.zeros((n, n), bool)
        src.flat[rng.choice(n * n, self.n_sources, replace=False)] = True
        ty, tx = np.mgrid[0:n, 0:n] + self.lattice_origin
        cells = quadkeylib.tile_to_cell(tx.ravel(), ty.ravel(),
                                        self.lattice_level)
        pd.DataFrame({"cell": cells, "cost": cost.ravel(),
                      "is_source": src.ravel()}).to_parquet(
            os.path.join(self.cache, "lattice.parquet"), index=False)
        np.savez(os.path.join(self.cache, "lattice_truth.npz"), cell=cells,
                 dist=_chamfer_dijkstra(cost, src).ravel())
        return {"lattice_cells": n * n}

    def load(self, spark):
        # read lazily: each job scans these small Parquet directories
        return {n: spark.read.parquet(os.path.join(self.cache, n))
                for n in ("zones", "points", "queries", "targets", "edges")}

    def job(self, spark, state, k, tracer=None):
        from raster2dggs_spark.operators.dedup import connected_components
        from raster2dggs_spark.operators.joins import (
            knn_join, point_in_polygon_join,
        )

        with _maybe_span(tracer, "op.pip"):
            pip = point_in_polygon_join(
                state["points"], state["zones"], res=self.join_res).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("point_id") * 1000 + F.col("poly_id"))
                .alias("fp")).collect()[0]
        with _maybe_span(tracer, "op.knn"):
            knn = knn_join(state["queries"], state["targets"], k=self.k,
                           radius_m=self.knn_radius_m,
                           res=RES).select("q_id", "t_id").collect()
        self.cc_stats = {}
        with _maybe_span(tracer, "op.connected_components"):
            cc = connected_components(
                state["edges"], stats=self.cc_stats).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("component").alias("k"),
                F.sum("component").alias("s")).collect()[0]
        return pip, knn, cc

    def check(self, result):
        pip, knn, cc = result
        t = self.truth
        if (pip["n"], pip["fp"]) != (t["pip_hits"], t["pip_fp"]):
            return f"pip hits {pip['n']} != {t['pip_hits']} or pairs differ"
        per_q: dict[str, list] = {}
        for r in knn:
            per_q.setdefault(str(r["q_id"]), []).append(r["t_id"])
        if len(per_q) != self.n_queries:
            return f"knn answered {len(per_q)} of {self.n_queries} queries"
        for q, exp in t["knn"].items():
            ids = sorted(per_q.get(q, []))
            top = exp["ids"]
            if ids == sorted(top[:self.k]):
                continue
            # a tie at rank k within float noise may pick either target
            tie = abs(exp["dist"][self.k] - exp["dist"][self.k - 1]) < 1e-12
            if not (tie and len(ids) == self.k and set(ids) <= set(top)):
                return f"knn neighbours of query {q} differ"
        if (cc["n"], cc["k"], cc["s"]) != (
                t["cc_vertices"], t["cc_components"], t["cc_label_sum"]):
            return f"components {tuple(cc)} differ from union-find"
        return None

    def trace_layers(self, spark, state, tracer):
        from raster2dggs_spark.dggs import cover
        from raster2dggs_spark.operators.joins import (
            index_points, point_in_polygon_join, polygon_cells,
            polygon_cover_cells,
        )

        pts, zones = state["points"], state["zones"]
        med = _run_ladder(tracer, {"rung.index_points": lambda: noop(
            index_points(pts, self.join_res))})
        m = {
            "join.index_points_wall_s": med["rung.index_points"],
            "join.pip_wall_s": tracer.median("op.pip"),
            "join.knn_wall_s": tracer.median("op.knn"),
            "loop.cc_wall_s": tracer.median("op.connected_components"),
            "loop.rounds": self.cc_stats["rounds"],
        }
        m["loop.wall_per_round_s"] = m["loop.cc_wall_s"] / m["loop.rounds"]
        cover_df = polygon_cells(zones, self.join_res)
        m["join.cover_rows"] = cover_df.count()
        cand = index_points(pts, self.join_res).join(cover_df, "cell").count()
        m["join.pip_candidates"] = cand
        m["join.pip_hit_ratio"] = self.truth["pip_hits"] / cand
        plan = io.StringIO()
        with contextlib.redirect_stdout(plan):
            point_in_polygon_join(pts, zones, res=self.join_res).explain()
        m["join.cover_broadcast"] = int("BroadcastHashJoin" in plan.getvalue())
        zpdf = pd.read_parquet(os.path.join(self.cache, "zones"))
        polys = [(np.asarray(z.xs), np.asarray(z.ys))
                 for z in zpdf.itertuples(index=False)]
        n_cells = sum(polygon_cover_cells(x, y, self.join_res)[0].size
                      for x, y in polys)
        m["dggs.cover_cells_per_s"] = _rate(lambda: [
            polygon_cover_cells(x, y, self.join_res) for x, y in polys],
            n_cells)
        ppdf = pd.read_parquet(os.path.join(self.cache, "points"))
        lon, lat = ppdf["lon"].values, ppdf["lat"].values
        m["dggs.encode_mpx_per_s"] = _rate(
            lambda: cover.encode(lon, lat, RES, "hex7"), lon.size) / 1e6
        m.update(self._trace_cost_distance(spark, tracer))
        return m

    def _trace_cost_distance(self, spark, tracer) -> dict:
        """One cost_distance run over the lattice, checked against the
        Dijkstra distances."""
        from raster2dggs_spark.operators.costdist import cost_distance

        cells = spark.read.parquet(os.path.join(self.cache,
                                                "lattice.parquet"))
        stats: dict = {}
        with tracer.span("op.cost_distance"):
            got = cost_distance(
                cells, source_col="is_source", dggs="quadkey",
                block_bits=self.lattice_block_bits, stats=stats).select(
                "cell", "dist").toPandas()
        z = np.load(os.path.join(self.cache, "lattice_truth.npz"))
        got = got.sort_values("cell")
        order = np.argsort(z["cell"])
        if not (np.array_equal(got["cell"].to_numpy(), z["cell"][order])
                and np.array_equal(got["dist"].to_numpy(np.float64),
                                   z["dist"][order])):
            self.trace_errors.append("cost_distance differs from Dijkstra")
        wall = tracer.median("op.cost_distance")
        return {
            "costdist.wall_s": wall,
            "costdist.rounds": stats["rounds"],
            "costdist.blocks_run": stats["blocks_run"],
            "costdist.wall_per_round_s": wall / stats["rounds"],
            "costdist.jobs_per_round": (tracer.spark_jobs("op.cost_distance")
                                        / stats["rounds"]),
        }


def _chamfer_dijkstra(cost: np.ndarray, src: np.ndarray) -> np.ndarray:
    """Minimum 8-connected path cost from any source over a dense grid,
    with edge weight (cost_u + cost_v) * (5 rook | 7 diagonal)."""
    import heapq

    h, w = cost.shape
    dist = np.full((h, w), np.inf)
    heap = [(0.0, int(y), int(x)) for y, x in zip(*np.nonzero(src))]
    for _, y, x in heap:
        dist[y, x] = 0.0
    heapq.heapify(heap)
    steps = [(dy, dx, 7 if dy and dx else 5)
             for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx]
    while heap:
        d, y, x = heapq.heappop(heap)
        if d > dist[y, x]:
            continue
        for dy, dx, s in steps:
            v, u = y + dy, x + dx
            if 0 <= v < h and 0 <= u < w:
                nd = d + (cost[y, x] + cost[v, u]) * s
                if nd < dist[v, u]:
                    dist[v, u] = nd
                    heapq.heappush(heap, (nd, v, u))
    return dist


def _components(a: np.ndarray, b: np.ndarray) -> dict[int, int]:
    """Union-find: vertex -> minimum vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(a.tolist(), b.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in parent}


WORKLOADS = {w.name: w for w in (IndexToParquet, JoinsAndLoops)}
