"""Streaming == batch equivalence; checkpoint/lineage resumability;
GeoParquet sink; resolution modes; cell boundaries."""

import glob
import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_windowed_equals_batch(spark, tmp_path):
    from raster2dggs_spark.streaming.events import (
        windowed_event_stats,
        stream_events_from_parquet,
        run_stream_to_memory,
    )

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    batch = windowed_event_stats(ev).toPandas()
    # split events into 3 files to force multiple micro-batches
    src = str(tmp_path / "events_stream")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = stream_events_from_parquet(spark, src, ev.schema)
    run_stream_to_memory(windowed_event_stats(stream), "win_ev")
    got = spark.sql("select * from win_ev").toPandas()
    key = ["window_start", "event_type"]
    a = batch.sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_streaming_dedup(spark, tmp_path):
    from raster2dggs_spark.streaming.events import (
        dedup_stream,
        stream_events_from_parquet,
        run_stream_to_memory,
    )

    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).limit(500)
    dup = ev.unionByName(ev)  # every event twice
    src = str(tmp_path / "dup_stream")
    dup.repartition(4).write.mode("overwrite").parquet(src)
    stream = stream_events_from_parquet(spark, src, ev.schema)
    # watermark must span the fixture's event-time range: micro-batch file
    # order is not event-time order, so a short horizon would *drop* rows
    # as late rather than dedupe them
    run_stream_to_memory(
        dedup_stream(stream, watermark="60 days"), "dedup_ev", output_mode="append"
    )
    got = spark.sql("select count(*) c, count(distinct event_id) d from dedup_ev").collect()[0]
    assert got["c"] == got["d"] == 500


def test_checkpoint_resume_identical(spark, tmp_path):
    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.plans.checkpoint import checkpointed_write

    df = spark.range(2000).select(
        (F.col("id") % 8).cast("string").alias("part"),
        F.col("id"),
        (F.col("id") * 2.5).alias("v"),
    )
    # one-shot reference output
    t_ref = IceTable(str(tmp_path / "ref"))
    checkpointed_write(df, t_ref, "part", lineage={"op": "oneshot"})
    ref = t_ref.read(spark).toPandas().sort_values("id").reset_index(drop=True)

    # crash after 3 partitions, then resume
    t = IceTable(str(tmp_path / "resume"))
    with pytest.raises(RuntimeError, match="simulated failure"):
        checkpointed_write(df, t, "part", fail_after_partitions=3)
    snap1 = t.snapshot()
    assert len(snap1["manifests"]) == 3
    assert snap1["lineage"]["partial"] is True
    snap2 = checkpointed_write(df, t, "part", lineage={"op": "resume"})
    assert len(snap2["manifests"]) == 8
    assert sorted(snap2["lineage"]["resumed_from"]) == sorted(
        m["partition"] for m in snap1["manifests"]
    )
    got = t.read(spark).toPandas().sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["id", "v"]], ref[["id", "v"]], check_like=True
    )
    assert t.verify_counts(spark)
    # resuming a complete table is a no-op write (idempotent)
    snap3 = checkpointed_write(df, t, "part")
    assert snap3["total_rows"] == 2000


def test_geoparquet_sink(spark, tmp_path):
    import json
    import pyarrow.parquet as pq
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.sources.geoparquet import add_cell_geometry, write_geoparquet
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 6, seed=30)
    agg = index_point_agg(imgs, res=7, agg="mean")
    geo = add_cell_geometry(agg, geometry="polygon")
    path = str(tmp_path / "geo")
    write_geoparquet(geo.withColumn("parent_hex", F.lower(F.hex("parent"))),
                     path, partition_col="parent_hex")
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files
    t = pq.read_table(files[0])
    meta = json.loads(t.schema.metadata[b"geo"])
    assert meta["version"] == "1.1.0"
    assert meta["columns"]["geometry"]["encoding"] == "WKB"
    wkb = t.column("geometry")[0].as_py()
    assert wkb[:5] == b"\x01\x03\x00\x00\x00"  # LE polygon
    back = spark.read.parquet(path)
    assert back.count() == agg.count()
    # round-2 verdict #8: each file's geo bbox equals ITS data extent
    # (not the whole world) — recompute from the WKB ring coords
    for fp in files:
        tf = pq.read_table(fp)
        m = json.loads(tf.schema.metadata[b"geo"])["columns"]["geometry"]["bbox"]
        xs, ys = [], []
        for b in tf.column("geometry").to_pylist():
            coords = np.frombuffer(b, dtype="<f8", offset=13)
            xs.extend([coords[0::2].min(), coords[0::2].max()])
            ys.extend([coords[1::2].min(), coords[1::2].max()])
        assert m == [min(xs), min(ys), max(xs), max(ys)]
        assert m != [-180.0, -90.0, 180.0, 90.0]


def test_cell_boundary_contains_center(spark):
    from raster2dggs_spark.dggs import h3lib

    rng = np.random.default_rng(8)
    lon = rng.uniform(-170, 170, 500)
    lat = rng.uniform(-80, 80, 500)
    cells = np.unique(h3lib.latlng_to_cell(lon, lat, 7))
    vlon, vlat = h3lib.cell_to_boundary(cells)
    clon, clat = h3lib.cell_to_latlng(cells)
    assert vlon.shape == (len(cells), 6)
    # the center is inside its own boundary hexagon (ray cast per cell)
    from raster2dggs_spark.operators.joins import raycast_contains

    ok = np.array([
        raycast_contains(np.array([clon[i]]), np.array([clat[i]]),
                         vlon[i], vlat[i])[0]
        for i in range(len(cells))
    ])
    assert ok.mean() > 0.995  # pentagon-sector cells may be slightly off
    # vertex distance ≈ circumradius (pitch/sqrt(3)) within gnomonic
    # distortion bounds
    from raster2dggs_spark.geo import haversine_m

    d = haversine_m(np.repeat(clon, 6), np.repeat(clat, 6),
                    vlon.ravel(), vlat.ravel())
    r = h3lib.cell_pitch_rad(7) / np.sqrt(3) * 6371007.1809
    assert d.max() < 1.6 * r and d.min() > 0.4 * r


def test_resolution_modes_invariants():
    from raster2dggs_spark.functions import cell_area_m2_mean, resolve_resolution

    pixel_area = 1.0e6  # 1 km² pixels
    small = resolve_resolution("smaller-than-pixel", pixel_area)
    large = resolve_resolution("larger-than-pixel", pixel_area)
    mind = resolve_resolution("min-diff", pixel_area)
    # defining properties (reference test_resolution_modes.py:152-217)
    assert cell_area_m2_mean(small) <= pixel_area
    assert cell_area_m2_mean(small - 1) > pixel_area
    assert cell_area_m2_mean(large) >= pixel_area
    assert cell_area_m2_mean(large + 1) < pixel_area
    assert large <= mind <= small
    for dggs in ("hex7", "s2"):
        m = resolve_resolution("min-diff", pixel_area, dggs)
        others = [
            abs(cell_area_m2_mean(r, dggs) - pixel_area)
            for r in range(0, 16 if dggs == "hex7" else 31)
        ]
        assert abs(cell_area_m2_mean(m, dggs) - pixel_area) == min(others)


def test_crash_before_commit_no_duplicates(spark, tmp_path):
    """Regression (round-1 advice): a run that dies AFTER writing data
    files but BEFORE committing must not leak duplicates into the rerun —
    readers see manifest files only, and the rerun recomputes the
    uncommitted partitions from scratch."""
    import pytest as _pytest

    from raster2dggs_spark.plans.checkpoint import checkpointed_write
    from raster2dggs_spark.sources.icetable import IceTable

    from pyspark.sql import functions as F

    table = IceTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("k"), F.col("id").alias("v")
    )
    # phase 1: commit the first 2 partitions, crash
    with _pytest.raises(RuntimeError, match="partial"):
        checkpointed_write(df, table, "k", fail_after_partitions=2)
    # phase 2: rerun writes the remaining partitions but dies pre-commit
    with _pytest.raises(RuntimeError, match="before commit"):
        checkpointed_write(df, table, "k", fail_before_commit=True)
    # orphans exist on disk but the committed snapshot doesn't see them
    orphans = table._list_data_files() - {
        f for m in table.snapshot()["manifests"] for f in m["files"]
    }
    assert orphans
    assert len(table.read(spark).toPandas()) == 500  # phase-1 half only
    # phase 3: clean rerun completes WITH the orphans still on disk
    checkpointed_write(df, table, "k")
    out = table.read(spark).toPandas()
    assert len(out) == 1000  # no duplicates from the phase-2 orphans
    assert sorted(out["v"]) == list(range(1000))
    assert table.verify_counts(spark)
    # vacuum removes exactly the unreferenced files
    assert set(table.vacuum()) == orphans


def test_streaming_ingest_equals_batch(spark, tmp_path):
    """readStream tile ingest: two arrival waves drain into IceTable
    snapshots of algebraic partials; finish_mean over ALL snapshots ==
    the batch index_point_agg over the union — exact cross-batch merge,
    plus exactly-once across a resumed stream (same checkpoint)."""
    import os

    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_images_pdf,
    )
    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.streaming.ingest import (
        finish_mean, index_images_stream,
    )
    from raster2dggs_spark.operators.indexing import index_point_agg

    indir = str(tmp_path / "arrivals")
    os.makedirs(indir)
    pdf = generate_images_pdf(12, seed=42)
    all_imgs = spark.createDataFrame(pdf, IMAGE_SCHEMA)
    table = IceTable(str(tmp_path / "t"))
    ckpt = str(tmp_path / "ckpt")

    # wave 1: first 7 images arrive
    spark.createDataFrame(pdf.iloc[:7], IMAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = index_images_stream(spark, indir, table, res=6, checkpoint_dir=ckpt)
    q.awaitTermination()
    v1 = table.current_version()
    assert v1 >= 1

    # wave 2: the rest arrive; resumed stream must process ONLY new files
    spark.createDataFrame(pdf.iloc[7:], IMAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = index_images_stream(spark, indir, table, res=6, checkpoint_dir=ckpt)
    q.awaitTermination()
    assert table.current_version() > v1

    got = finish_mean(table.read(spark)).toPandas()
    exp = index_point_agg(all_imgs, res=6, agg="mean").toPandas()
    g = got.sort_values("cell").reset_index(drop=True)
    e = exp.sort_values("cell").reset_index(drop=True)
    assert (g["cell"].values == e["cell"].values).all()
    assert (g["npx"].values == e["npx"].values).all()
    for c in ("band_1", "band_2", "band_3", "band_4"):
        a, b = g[c].values, e[c].values
        nan_equal = np.isnan(a.astype(float)) == np.isnan(b.astype(float))
        assert nan_equal.all()
        m = ~np.isnan(a.astype(float))
        assert np.allclose(a[m].astype(float), b[m].astype(float),
                           rtol=1e-12, atol=1e-12)
    # lineage carries batch ids
    assert "batch_id" in table.snapshot()["lineage"]


def test_foreachbatch_redelivery_idempotent(spark, tmp_path):
    """Round-2 advice: foreachBatch is at-least-once — a batch whose
    IceTable commit landed but whose streaming checkpoint didn't is
    re-delivered on restart and must NOT double-count.  The sink skips
    batch_ids already in the committed lineage."""
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_images_pdf,
    )
    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.streaming.ingest import (
        last_committed_batch, make_commit_batch,
    )

    pdf = generate_images_pdf(6, seed=7)
    b0 = spark.createDataFrame(pdf.iloc[:3], IMAGE_SCHEMA)
    b1 = spark.createDataFrame(pdf.iloc[3:], IMAGE_SCHEMA)
    table = IceTable(str(tmp_path / "t"))
    cb = make_commit_batch(table, res=6, dggs="hex7",
                           input_path="mem://", checkpoint_dir="ckpt-a")

    cb(b0, 0)
    v_after_b0 = table.current_version()
    rows_after_b0 = table.snapshot()["total_rows"]
    assert last_committed_batch(table, "ckpt-a") == 0

    # re-delivery of batch 0 (restart after commit, before checkpoint)
    cb(b0, 0)
    assert table.current_version() == v_after_b0  # no new snapshot
    assert table.snapshot()["total_rows"] == rows_after_b0

    # the next batch still applies; a different stream is independent
    cb(b1, 1)
    assert last_committed_batch(table, "ckpt-a") == 1
    assert table.snapshot()["total_rows"] > rows_after_b0
    assert last_committed_batch(table, "ckpt-b") == -1


def test_vacuum_guards(spark, tmp_path):
    """Round-2 advice: vacuum on a table with no committed snapshot would
    treat every live file as an orphan — it must refuse; min_age_s keeps
    young files (the in-flight-writer window)."""
    from raster2dggs_spark.sources.icetable import IceTable

    table = IceTable(str(tmp_path / "t"))
    df = spark.range(10).select(
        (F.col("id") % 2).cast("string").alias("k"), F.col("id").alias("v")
    )
    # data exists but nothing committed -> refuse
    df.write.partitionBy("k").parquet(table.data_dir)
    with pytest.raises(RuntimeError, match="no committed snapshot"):
        table.vacuum()
    assert table._list_data_files()  # nothing was deleted

    table.write(df, "k", mode="overwrite")
    # orphan from a "crashed" (or in-flight) writer
    df.write.mode("append").partitionBy("k").parquet(table.data_dir)
    orphans = table._list_data_files() - {
        f for m in table.snapshot()["manifests"] for f in m["files"]
    }
    assert orphans
    # young files survive an age-gated vacuum (in-flight writer window)
    assert table.vacuum(min_age_s=3600) == []
    assert table.vacuum() and not (
        table._list_data_files()
        - {f for m in table.snapshot()["manifests"] for f in m["files"]}
    )


def test_resume_keeps_null_partition(spark, tmp_path):
    """Round-2 advice: the resume filter must be null-safe — rows whose
    partition key is NULL land in __HIVE_DEFAULT_PARTITION__ and must
    survive a resumed write, not vanish to a NULL isin()."""
    from raster2dggs_spark.plans.checkpoint import checkpointed_write
    from raster2dggs_spark.sources.icetable import IceTable

    table = IceTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    # phase 1: only the non-null partitions get committed
    checkpointed_write(df.where(F.col("k").isNotNull()), table, "k")
    assert len(table.read(spark).toPandas()) == 66
    # phase 2: resume with the full input — the NULL-key rows are the
    # missing slice and must be written exactly once
    checkpointed_write(df, table, "k")
    out = table.read(spark).toPandas()
    assert len(out) == 100
    assert sorted(out["v"]) == list(range(100))
    assert out["k"].isna().sum() == 34
    # the audit counts the __HIVE_DEFAULT_PARTITION__ manifest too
    assert table.verify_counts(spark)
    # a second resume is a no-op (the null partition is now committed)
    checkpointed_write(df, table, "k")
    assert len(table.read(spark).toPandas()) == 100


def test_zonal_windowed_stream_equals_batch(spark, tmp_path):
    """Geo x time composite: the broadcast-cover + watermarked-window
    streaming plan must equal the batch plan on identical data."""
    from raster2dggs_spark.operators.joins import polygon_cells
    from raster2dggs_spark.sources.vectors import generate_zones_pdf
    from raster2dggs_spark.streaming.events import (
        run_stream_to_memory, stream_events_from_parquet,
        zonal_windowed_event_stats,
    )

    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).select(
        "event_id", "ts", "value",
        (((F.col("event_id") * 37) % 344) - 172 + 0.3)
        .cast("double").alias("lon"),
        (((F.col("event_id") * 53) % 160) - 80 + 0.3)
        .cast("double").alias("lat"),
    )
    zones = generate_zones_pdf(10, seed=42)
    zdf = spark.createDataFrame(
        zones[["poly_id", "xs", "ys"]],
        "poly_id long, xs array<double>, ys array<double>",
    )
    cover = polygon_cells(zdf, res=4).where("center_in").select(
        "cell", F.col("poly_id").alias("zone_id")
    ).persist()

    batch = zonal_windowed_event_stats(ev, cover).toPandas()
    assert len(batch) > 0

    src = str(tmp_path / "ev_stream")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = stream_events_from_parquet(spark, src, ev.schema)
    run_stream_to_memory(zonal_windowed_event_stats(stream, cover), "zw_ev")
    got = spark.sql("select * from zw_ev").toPandas()
    key = ["window_start", "zone_id"]
    a = batch.sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)
    cover.unpersist()


def test_streaming_embedding_index_equals_batch(spark, tmp_path):
    """Continuous embedding-index ingest (streaming IVF-PQ build): two
    arrival waves drain into centroid-partitioned IceTable snapshots;
    the union equals the batch ivf_assign+pq_encode over all vectors,
    and a re-delivered batch does not double-commit."""
    import os

    import numpy as np
    import pandas as pd

    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.streaming.embeddings import (
        EMB_SCHEMA, batch_embedding_index, index_embeddings_stream,
        make_commit_batch,
    )
    from raster2dggs_spark.operators.similarity import pq_codebooks

    rng = np.random.default_rng(11)
    dim, n = 16, 80
    vecs = rng.normal(size=(n, dim))
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })
    cents = spark.createDataFrame(pd.DataFrame({
        "c_id": np.arange(6, dtype=np.int64),
        "c_vec": [rng.normal(size=dim).tolist() for _ in range(6)],
    }), "c_id long, c_vec array<double>")
    cb = pq_codebooks(spark, dim, 4, 8).persist()
    cb.count()

    indir = str(tmp_path / "emb")
    os.makedirs(indir)
    table = IceTable(str(tmp_path / "t"))
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(pdf.iloc[:50], EMB_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = index_embeddings_stream(spark, indir, table, cents, dim, ckpt,
                                m=4, k=8, codebooks=cb)
    q.awaitTermination()
    v1 = table.current_version()
    spark.createDataFrame(pdf.iloc[50:], EMB_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = index_embeddings_stream(spark, indir, table, cents, dim, ckpt,
                                m=4, k=8, codebooks=cb)
    q.awaitTermination()
    assert table.current_version() > v1

    got = table.read(spark).toPandas().sort_values("vec_id") \
        .reset_index(drop=True)
    exp = batch_embedding_index(
        spark.createDataFrame(pdf, EMB_SCHEMA), cents, cb, dim, 4, 8
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert len(got) == n
    assert (got["vec_id"].values == exp["vec_id"].values).all()
    assert (got["centroid"].values == exp["centroid"].values).all()
    assert all(tuple(a) == tuple(b)
               for a, b in zip(got["codes"], exp["codes"]))

    # re-delivery: replaying an already-committed batch_id is a no-op
    cb_sink = make_commit_batch(table, cents, cb, dim, 4, 8,
                                "mem://", ckpt)
    rows_before = table.snapshot()["total_rows"]
    cb_sink(spark.createDataFrame(pdf.iloc[:50], EMB_SCHEMA), 0)
    assert table.snapshot()["total_rows"] == rows_before


def test_streaming_geotiff_ingest_equals_batch(spark, tmp_path):
    """Round 6: GeoTIFF files landing in a directory stream into cell
    partials — two arrival waves, resumed checkpoint processes only new
    files, finish_mean over all snapshots == batch read_geotiff +
    index over the union."""
    import os

    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.geotiff import read_geotiff, write_geotiff
    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.streaming.ingest import (
        finish_mean, index_geotiffs_stream,
    )

    indir = str(tmp_path / "rasters")
    os.makedirs(indir)

    def make(i):
        rng = np.random.default_rng(100 + i)
        arr = rng.random((1, 40, 50)).astype(np.float32)
        write_geotiff(os.path.join(indir, f"r{i}.tiff"), arr,
                      (0.01, 0.0, 10.0 + i, 0.0, -0.01, 50.0),
                      "EPSG:4326", compression="deflate", tile=(32, 32))

    table = IceTable(str(tmp_path / "gt_t"))
    ckpt = str(tmp_path / "gt_ckpt")

    for i in range(4):  # wave 1
        make(i)
    q = index_geotiffs_stream(spark, indir, table, res=6,
                              checkpoint_dir=ckpt)
    q.awaitTermination()
    v1 = table.current_version()
    assert v1 >= 1

    for i in range(4, 7):  # wave 2
        make(i)
    q = index_geotiffs_stream(spark, indir, table, res=6,
                              checkpoint_dir=ckpt)
    q.awaitTermination()
    assert table.current_version() > v1

    all_paths = sorted(os.path.join(indir, f) for f in os.listdir(indir))
    exp = index_point_agg(read_geotiff(spark, all_paths), res=6,
                          agg="mean").toPandas()
    got = finish_mean(table.read(spark)).toPandas()
    g = got.sort_values("cell").reset_index(drop=True)
    e = exp.sort_values("cell").reset_index(drop=True)
    assert (g["cell"].values == e["cell"].values).all()
    assert (g["npx"].values == e["npx"].values).all()
    a, b = g["band_1"].values.astype(float), e["band_1"].values.astype(float)
    assert np.allclose(a, b, rtol=1e-12, atol=1e-12)
    assert table.snapshot()["lineage"]["operator"] == "index_geotiffs_stream"


def test_streaming_composite_equals_batch(spark, tmp_path):
    """Streaming mosaic maintenance: scene waves drain into per-cell
    WINNER snapshots; finish_composite over all snapshots equals the
    batch best-quality composite over the union — argmax is
    associative under the total comparator, so batch boundaries are
    invisible.  Re-delivered batches are skipped (lineage batch-id)."""
    import os

    from raster2dggs_spark.operators.composite import composite_scenes
    from raster2dggs_spark.sources.icetable import IceTable
    from raster2dggs_spark.sources.images import (
        IMAGE_SCHEMA, generate_scene_stack_pdf,
    )
    from raster2dggs_spark.streaming.composite import (
        composite_stream, finish_composite, make_commit_batch,
    )

    images, meta = generate_scene_stack_pdf(4, epochs=3, seed=7)
    meta_df = spark.createDataFrame(meta[["image_id", "scene_ts"]])
    all_imgs = spark.createDataFrame(images, IMAGE_SCHEMA)
    indir = str(tmp_path / "arrivals")
    os.makedirs(indir)
    table = IceTable(str(tmp_path / "t"))
    ckpt = str(tmp_path / "ckpt")

    # wave 1: epochs 0-1 arrive; wave 2: epoch 2 (winners must flip
    # where epoch 2's QA beats the standing winner)
    w1 = images[~images["image_id"].str.endswith("_t2")]
    w2 = images[images["image_id"].str.endswith("_t2")]
    spark.createDataFrame(w1, IMAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = composite_stream(spark, indir, meta_df, table, res=6,
                         checkpoint_dir=ckpt, quality_band="band_4")
    q.awaitTermination()
    v1 = table.current_version()
    assert v1 >= 1
    spark.createDataFrame(w2, IMAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(indir)
    q = composite_stream(spark, indir, meta_df, table, res=6,
                         checkpoint_dir=ckpt, quality_band="band_4")
    q.awaitTermination()
    assert table.current_version() > v1

    vcols = ["band_1", "band_2", "band_3"]
    got = (finish_composite(table.read(spark), vcols)
           .toPandas().sort_values("cell").reset_index(drop=True))
    exp = (composite_scenes(all_imgs, meta_df, res=6,
                            strategy="best_quality", quality_band="band_4")
           .toPandas().sort_values("cell").reset_index(drop=True))
    assert (got["cell"].values == exp["cell"].values).all()
    assert (got["scene"].values == exp["scene"].values).all()
    assert (got["n_scenes"].values == exp["n_scenes"].values).all()
    for c in vcols + ["quality"]:
        assert np.allclose(got[c].astype(float), exp[c].astype(float),
                           rtol=0, atol=0)
    # winners actually flipped across the batch boundary somewhere
    assert (got["scene"].str.endswith("_t2")).any()
    assert (~got["scene"].str.endswith("_t2")).any()

    # re-delivery of an already-committed batch is a no-op
    commit = make_commit_batch(table, meta_df, 6, "best_quality", "hex7",
                               "band_4", 4, indir, ckpt)
    v = table.current_version()
    commit(spark.createDataFrame(w2, IMAGE_SCHEMA), 0)
    assert table.current_version() == v
