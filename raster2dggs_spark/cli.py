"""``python -m raster2dggs_spark`` — the reference CLI surface over the
Spark engine (ref cli.py:10-21, cli_factory.py:245-612).

One invocation ≙ one reference command: the grid is the subcommand, the
flags are the reference's flags, and the body is exactly
``index_raster(...)`` + ``write_output(...)``:

    python -m raster2dggs_spark hex7 images.parquet out/ -r 9 \
        --point value -a mean -d 1 -c zstd
    python -m raster2dggs_spark s2 images.parquet out/ -r 14 \
        --overlay weighted -vct 0.5 --compact
    python -m raster2dggs_spark geohash images.parquet out/ \
        -r smaller-than-pixel --sample bilinear -g polygon

Differences from the reference, by design:
- the input is a Spark image table (parquet written by
  ``sources.write_images_table`` or any table with the same schema) OR
  a GeoTIFF path (round 6: ``sources.geotiff`` parses the IFD
  driver-side and decodes tiles on executors — the reference's own
  ``raster2dggs h3 input.tif out/`` form now runs verbatim);
- ``-t/--threads`` sets the local[] parallelism of the session that is
  CREATED by the CLI; under an existing session (spark-submit, tests)
  it is accepted and ignored (cluster managers own parallelism);
- ``h3`` as a grid name is rejected with the hex7 contract message
  (dggs.check_grid) — the reference's other grids needing native libs
  (A5/DGGAL) are likewise rejected by name.

argparse, not click: zero runtime deps beyond pyspark.
"""

from __future__ import annotations

import argparse
import sys
import time


GRIDS = ("hex7", "h3", "s2", "geohash", "maidenhead", "rhp", "i3h", "a5",
         "quadkey",
         "i4r", "i9r", "e4r", "e9r")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="raster2dggs_spark",
        description="Index a raster image table to DGGS cells (Spark).",
    )
    p.add_argument("dggs", choices=GRIDS, help="DGGS grid (subcommand in "
                   "the reference CLI; 'h3' is rejected with the hex7 "
                   "contract message)")
    p.add_argument("raster_input",
                   help="path to the parquet image table, or a GeoTIFF "
                        "(.tif/.tiff — read via the pure-NumPy "
                        "sources.geotiff window plan, the reference's "
                        "own input form)")
    p.add_argument("output_directory", help="output path (hive-partitioned "
                   "parquet / GeoParquet)")
    p.add_argument("-r", "--resolution", required=True,
                   help="integer resolution or auto mode: "
                        "smaller-than-pixel | larger-than-pixel | min-diff")
    p.add_argument("-pr", "--parent_res", type=int, default=None)
    p.add_argument("-b", "--band", action="append", default=None,
                   help="band index (1-based) or label; repeatable")
    p.add_argument("-n", "--nodata", dest="nodata_policy",
                   choices=("omit", "emit"), default="omit")
    p.add_argument("--nodata-fill", dest="nodata_fill", type=float,
                   default=None)
    p.add_argument("-c", "--compression", default="snappy")
    p.add_argument("-t", "--threads", type=int, default=None)
    # transfer selectors (mutually exclusive, like the reference)
    p.add_argument("--point", nargs="?", const="value", default=None,
                   choices=("value", "list", "histogram"))
    p.add_argument("--overlay", default=None,
                   choices=("weighted", "mode", "mass-preserve",
                            "density-preserve", "fractions", "list",
                            "histogram"))
    p.add_argument("--sample", nargs="?", const="nn", default=None,
                   choices=("nn", "bilinear", "bicubic", "lanczos"))
    p.add_argument("-a", "--agg", default="mean",
                   help="aggfunc for --point value; comma-separate for a "
                        "per-band struct (e.g. min,max)")
    p.add_argument("-vct", "--valid-coverage-threshold",
                   dest="vct", type=float, default=0.0)
    p.add_argument("--hist-bins", dest="hist_bins", default=None,
                   help="explicit ascending bin edges, comma-separated; "
                        "-inf/inf allowed for open end bins (use the "
                        "--hist-bins=-inf,0,... form — a leading dash "
                        "after a space reads as an option)")
    p.add_argument("--hist-width", dest="hist_width", type=float,
                   default=None)
    p.add_argument("--hist-origin", dest="hist_origin", type=float,
                   default=0.0)
    p.add_argument("--hist-weight", dest="hist_weight",
                   choices=("count", "area"), default=None)
    p.add_argument("--hist-normalize", dest="hist_normalize",
                   choices=("none", "cell-area", "valid-overlap"),
                   default="none")
    p.add_argument("-d", "--decimals", default="1",
                   help="decimal places (negative = tens/hundreds; "
                        "'none' disables rounding)")
    p.add_argument("-o", "--overwrite", action="store_true")
    p.add_argument("-co", "--compact", action="store_true")
    p.add_argument("-g", "--geo", nargs="?", const="polygon", default=None,
                   choices=("point", "polygon"),
                   help="write GeoParquet 1.1.0 with cell geometry")
    p.add_argument("--overview", default="0",
                   help="GeoTIFF inputs only: pyramid level to read "
                        "(0 = full resolution, N = Nth overview IFD, "
                        "'auto' = coarsest overview whose pixels are "
                        "still finer than the output cells — a large "
                        "I/O saver on COGs)")
    p.add_argument("--tempdir", default=None)
    p.add_argument("--profile", action="store_true",
                   help="phase timing breakdown to stderr")
    p.add_argument("--version", action="version",
                   version="raster2dggs_spark 0.4 (reference parity: "
                           "raster2dggs v0.14.5 semantics)")
    return p


def _parse_edges(s: str) -> list[float]:
    try:
        edges = [float(x) for x in s.split(",") if x.strip()]
    except ValueError as e:
        raise SystemExit(f"--hist-bins: {e}")
    if len(edges) < 2:
        raise SystemExit("--hist-bins requires at least 2 edges")
    if any(b <= a for a, b in zip(edges, edges[1:])):
        raise SystemExit("--hist-bins edges must be strictly ascending")
    return edges


def main(argv: list[str] | None = None, spark=None) -> None:
    args = build_parser().parse_args(argv)

    from raster2dggs_spark.dggs import check_grid

    try:
        check_grid(args.dggs)  # 'h3' → the hex7 contract message
    except ValueError as e:
        raise SystemExit(str(e))

    selectors = [s for s in (args.point and "--point",
                             args.overlay and "--overlay",
                             args.sample and "--sample") if s]
    if len(selectors) > 1:
        raise SystemExit(f"{' and '.join(selectors)} are mutually exclusive")

    # resolve the (transfer, op/agg/kernel) triple exactly like the
    # reference's option→plan mapping (common.py:187-240)
    transfer, agg, op, kernel = "point", args.agg, "weighted", "bilinear"
    if args.overlay:
        transfer, op = "overlay", args.overlay
    elif args.sample:
        transfer = "sample"
        kernel = {"nn": "nearest"}.get(args.sample, args.sample)
    elif args.point in ("list", "histogram"):
        agg = args.point

    decimals = None if args.decimals == "none" else int(args.decimals)
    res: int | str = args.resolution
    if res.lstrip("-").isdigit():
        res = int(res)
    bands = None
    band_param = 1
    if args.band:
        bands = [int(b) if b.isdigit() else b for b in args.band]
        # routes that take a per-op band argument (histogram / overlay
        # class+collect ops) get -b as band indices DIRECTLY (multi-band
        # one-pass operators); the decode-level `bands` selection
        # REINDEXES columns, which would shift those indices
        op_takes_band = (
            (transfer == "point" and agg == "histogram")
            or (transfer == "overlay"
                and op in ("mode", "fractions", "list", "histogram"))
        )
        if op_takes_band:
            if not all(isinstance(b, int) for b in bands):
                raise SystemExit(
                    "-b with --point histogram / --overlay "
                    f"{op}: numeric band indices only")
            band_param = bands if len(bands) > 1 else bands[0]
            bands = None
    hist_edges = _parse_edges(args.hist_bins) if args.hist_bins else None
    if hist_edges is not None and args.hist_width is not None:
        raise SystemExit("--hist-bins and --hist-width are mutually "
                         "exclusive")

    import os

    from pyarrow.fs import FileType

    from raster2dggs_spark.plans.layout import _filesystem

    # resolved as the writer resolves it, so file: paths are seen too
    fs, root = _filesystem(args.output_directory)
    if fs.get_file_info(root).type != FileType.NotFound \
            and not args.overwrite:
        raise SystemExit(
            f"{args.output_directory} exists; pass -o/--overwrite")

    t0 = time.perf_counter()
    own_session = spark is None
    if own_session:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            spark, own_session = active, False
    if spark is None:
        from raster2dggs_spark.session import get_spark

        n = args.threads or max(1, (os.cpu_count() or 2) - 1)
        extra = {"spark.local.dir": args.tempdir} if args.tempdir else None
        spark = get_spark("raster2dggs", master=f"local[{n}]",
                          shuffle_partitions=max(8, n), extra_conf=extra)

    from raster2dggs_spark.api import index_raster, resolve_res, write_output
    from raster2dggs_spark.operators.indexing import default_parent_res
    from raster2dggs_spark.profiling import SparkPhaseProfiler

    prof = SparkPhaseProfiler(spark, enabled=args.profile)

    with prof.phase("open"):
        if args.raster_input.lower().endswith((".tif", ".tiff")):
            from raster2dggs_spark.sources.geotiff import (
                meta_pixel_area_m2, parse_geotiff, pick_overview_level,
                read_geotiff)

            level = 0
            if args.overview != "0":
                # header-only parse (a few KB) — never decodes pixels
                meta = parse_geotiff(args.raster_input)
                if args.overview == "auto":
                    from raster2dggs_spark.functions.resolution import (
                        cell_area_m2_mean, resolve_resolution)

                    res_i0 = res if isinstance(res, int) else (
                        resolve_resolution(str(res),
                                           meta_pixel_area_m2(meta),
                                           args.dggs))
                    # auto modes resolve against FULL-RES pixel area
                    # (reference F9), not the overview we then read
                    res = res_i0
                    level = pick_overview_level(
                        meta, cell_area_m2_mean(res_i0, args.dggs))
                else:
                    level = int(args.overview)
            images = read_geotiff(spark, args.raster_input, level=level)
        else:
            images = spark.read.parquet(args.raster_input)
        res_i = resolve_res(images, res, args.dggs)
    parent_res = (args.parent_res if args.parent_res is not None
                  else default_parent_res(res_i, args.dggs))
    with prof.phase("plan"):
        out = index_raster(
            images, dggs=args.dggs, resolution=res_i, parent_res=parent_res,
            transfer=transfer, agg=agg, op=op, kernel=kernel, bands=bands,
            band=band_param,
            nodata_policy=args.nodata_policy, nodata_fill=args.nodata_fill,
            decimals=decimals, compact=args.compact,
            vct=args.vct or None, hist_edges=hist_edges,
            hist_width=args.hist_width, hist_origin=args.hist_origin,
            hist_weight=args.hist_weight,
            # reference CLI spells these with dashes; the engine's (weight,
            # normalize) matrix keys use underscores
            hist_normalize=args.hist_normalize.replace("-", "_"),
            raw_ids=bool(args.geo),
        )
    with prof.phase("execute+write"):
        write_output(out, args.output_directory, dggs=args.dggs,
                     parent_res=parent_res, geo=bool(args.geo),
                     geometry=args.geo or "polygon",
                     compression=args.compression)

    if args.profile:
        n_imgs = images.count()
        print(prof.report(), file=sys.stderr)
        print(
            f"  context: {n_imgs} tiles, res {res_i} "
            f"(parent {parent_res}), transfer {transfer}, "
            f"total {time.perf_counter() - t0:.2f}s",
            file=sys.stderr,
        )
    if own_session:
        spark.stop()


if __name__ == "__main__":
    main()
