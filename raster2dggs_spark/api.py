"""Reference-CLI-parity entry point.

The reference is a CLI whose options resolve to a (transfer, op, output)
triple (ref cli.py:10-21, cli_factory.py:245-612, common.py:187-240 —
the option dict IS its logical plan).  ``index_raster`` is the same
surface as ONE function over a Spark image table: a raster2dggs user
maps their command line onto keyword arguments and gets the same
semantics, Spark-planned.

    raster2dggs h3 in.tif out -r 9 --point value --agg mean
        → index_raster(images, dggs="hex7", resolution=9,
                       transfer="point", agg="mean")
    raster2dggs s2 in.tif out -r 14 --overlay weighted -d 2 --compact
        → index_raster(images, dggs="s2", resolution=14,
                       transfer="overlay", op="weighted",
                       decimals=2, compact=True)
    raster2dggs geohash in.tif out -r smaller-than-pixel --sample bilinear
        → index_raster(images, dggs="geohash",
                       resolution="smaller-than-pixel",
                       transfer="sample", kernel="bilinear")

(``dggs="h3"`` is rejected — the hexagonal grid ships as ``hex7``, see
dggs.check_grid.)  Output columns follow the reference contract
(zero-padded ``{dggs}_{res}`` hex-string cell/parent columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POINT_AGGS = ("mean", "sum", "count", "min", "max", "std", "var",
              "median", "mode", "majority", "nunique", "range", "prod",
              "list")
OVERLAY_OPS = ("weighted", "density-preserve", "mass-preserve", "mode",
               "fractions", "list", "histogram")
KERNELS = ("nearest", "bilinear", "bicubic", "lanczos")


def _mean_pixel_area_m2(images: DataFrame) -> float:
    """Mean pixel area from the metadata columns only (the reference
    reads it from the open raster, common.py:67-122)."""
    m = images.select(
        (F.abs(F.col("affine_a")) * F.abs(F.col("affine_e"))).alias("pa"),
        F.col("crs"), F.col("affine_f"),
    ).select(
        F.when(
            # deg² → m² with the cos(lat) shrink at the tile anchor;
            # projected CRS (3857 / TM family) are already meters²
            F.col("crs") == "EPSG:4326",
            F.col("pa") * (111_195.0 ** 2)
            * F.cos(F.radians(F.least(F.abs("affine_f"), F.lit(89.0))))
        ).otherwise(F.col("pa")).alias("pa_m2")
    ).agg(F.avg("pa_m2").alias("m")).collect()
    if m[0]["m"] is None:
        raise ValueError(
            "cannot resolve an auto resolution mode against an empty "
            "image table — pass a numeric resolution"
        )
    return float(m[0]["m"])


def resolve_res(images: DataFrame, resolution, dggs: str) -> int:
    """Numeric passthrough, or the reference's auto modes
    (smaller-than-pixel / larger-than-pixel / min-diff) resolved against
    the table's mean pixel area."""
    if isinstance(resolution, int):
        return resolution
    from raster2dggs_spark.functions.resolution import resolve_resolution

    return resolve_resolution(str(resolution), _mean_pixel_area_m2(images),
                              dggs)


def index_raster(
    images: DataFrame,
    dggs: str = "hex7",
    resolution: int | str = 9,
    parent_res: int | None = None,
    transfer: str = "point",
    agg: str = "mean",
    op: str = "weighted",
    kernel: str = "bilinear",
    bands: list | None = None,
    nodata_policy: str = "omit",
    nodata_fill: float | None = None,
    decimals: int | None = None,
    compact: bool = False,
    vct: float | None = None,
    band: int = 1,
    n_bands: int = 4,
    supersample: int = 4,
    raw_ids: bool = False,
    hist_edges: list | None = None,
    hist_width: float | None = None,
    hist_origin: float = 0.0,
    hist_weight: str | None = None,
    hist_normalize: str = "none",
) -> DataFrame:
    """One call ≙ one reference CLI invocation.  Routes to the operator
    family per (transfer, op) exactly as ref common.py:187-240:

    - transfer="point":  ``--point value --agg <agg>`` / ``--point list``
      (agg="list") — all 13 aggfuncs + list.
    - transfer="overlay": op ∈ weighted | density-preserve |
      mass-preserve (VCT inert, ref overlay.py:148-159) | mode |
      fractions | list.
    - transfer="sample": kernel ∈ nearest | bilinear | bicubic | lanczos
      at cell centroids with nearest-pixel ownership.

    ``resolution`` accepts the auto modes; ``compact`` applies the
    bottom-up roll-up (uniform-value parents replace complete child
    sets); ``raw_ids=True`` skips the hex-string output formatting (for
    further cell-keyed joins)."""
    from raster2dggs_spark.dggs import grid_lib
    from raster2dggs_spark.operators.indexing import (
        band_cols, default_parent_res, index_point, to_reference_output,
    )

    min_res = grid_lib(dggs).MIN_RES
    res = resolve_res(images, resolution, dggs)
    if parent_res is None:
        parent_res = default_parent_res(res, dggs)
    if not min_res <= parent_res <= res:
        raise ValueError(f"parent_res {parent_res} must be in "
                         f"[{min_res}, {res}] for {dggs} at res {res}")

    if transfer == "point":
        if agg == "histogram":
            # point histograms weight by pixel COUNT; 'area' weighting
            # exists only on the overlay route — reject rather than emit
            # a mislabeled field (matches the reference CLI validation)
            if hist_weight is None:
                hist_weight = "count"
            if hist_weight != "count":
                raise ValueError(
                    f"hist_weight={hist_weight!r}: point histograms "
                    "weight by pixel count — use transfer='overlay', "
                    "op='histogram' for area weighting"
                )
            out = _point_histogram(
                images, res, parent_res, dggs, bands, n_bands,
                nodata_policy, nodata_fill, band, decimals,
                hist_edges, hist_width, hist_origin, hist_weight,
                hist_normalize,
            )
            decimals = None
        elif "," in agg:
            # comma-separated aggs → one struct column per band, all
            # functions in a single aggregation pass (A6; ref -a min,max
            # → per-band struct, common.py:512-529)
            from raster2dggs_spark.operators import aggregates as A
            from raster2dggs_spark.operators.indexing import pixel_cells

            funcs = [x.strip() for x in agg.split(",") if x.strip()]
            bad = [f for f in funcs if f not in A.SIMPLE_AGGS]
            if bad:
                raise ValueError(
                    f"multi-agg funcs {bad} not in "
                    f"{sorted(A.SIMPLE_AGGS)}"
                )
            px = pixel_cells(images, res, parent_res, dggs, bands, n_bands,
                             nodata_policy, nodata_fill, keep_image_id=False)
            out = A.agg_multi(px, ["parent", "cell"], band_cols(n_bands),
                              funcs, as_struct=True)
            if decimals is not None:
                out = out.select(
                    "parent", "cell",
                    *[F.struct(*[F.round(F.col(f"{v}.{f}"), decimals)
                                 .alias(f) for f in funcs]).alias(v)
                      for v in band_cols(n_bands)],
                )
            decimals = None
        elif agg not in POINT_AGGS:
            raise ValueError(
                f"agg {agg!r}; choose from {POINT_AGGS + ('histogram',)}"
            )
        else:
            out = index_point(images, res, agg, parent_res, dggs, bands,
                              n_bands, nodata_policy, decimals=decimals,
                              nodata_fill=nodata_fill)
            decimals = None  # index_point applies it
    elif transfer == "overlay":
        from raster2dggs_spark.operators.overlay import (
            overlay_agg, overlay_classes, overlay_list, overlay_list_multi,
        )

        if op == "weighted":
            out = overlay_agg(images, res, "weighted_mean", parent_res,
                              dggs, n_bands, supersample, vct)
        elif op == "density-preserve":
            out = overlay_agg(images, res, "weighted_sum", parent_res,
                              dggs, n_bands, supersample, vct)
        elif op == "mass-preserve":
            out = overlay_agg(images, res, "mass_sum", parent_res, dggs,
                              n_bands, supersample)
        elif op == "mode":
            out = overlay_classes(images, res, "mode", parent_res, dggs,
                                  band, supersample)
        elif op == "fractions":
            out = overlay_classes(images, res, "fractions", parent_res,
                                  dggs, band, supersample)
        elif op == "list":
            if isinstance(band, (list, tuple)):
                # ref OVERLAY_COLLECT: every selected band in ONE
                # decode pass (overlay.py:519-589), not one pass/band
                out = overlay_list_multi(images, res, parent_res, dggs,
                                         tuple(band), supersample,
                                         decimals=decimals)
            else:
                out = overlay_list(images, res, parent_res, dggs, band,
                                   supersample, decimals=decimals)
            decimals = None
        elif op == "histogram":
            # OVERLAY_COLLECT → HISTOGRAM (ref common.py:221-230): an
            # area-weighted binned histogram per cell — weights are
            # covered areas, normalization per the A11 matrix
            from raster2dggs_spark.operators import aggregates as A
            from raster2dggs_spark.operators.overlay import (
                overlay_class_partials,
            )

            if hist_width is None:
                raise ValueError("overlay histogram needs hist_width")
            if hist_edges is not None:
                raise ValueError(
                    "overlay histogram supports uniform-width bins only "
                    "(hist_width); explicit hist_edges is a point-"
                    "histogram option — rejected rather than silently "
                    "ignored"
                )
            if hist_origin != 0.0:
                raise ValueError(
                    "overlay histogram bins are anchored at 0 (bucketed "
                    "during the coverage pass); nonzero hist_origin is "
                    "not supported — rejected rather than silently "
                    "ignored"
                )
            if hist_weight is None:
                hist_weight = "area"
            if hist_weight != "area":
                raise ValueError(
                    f"hist_weight={hist_weight!r}: overlay histogram "
                    "weights are covered AREAS by construction — use "
                    "transfer='point' for count-weighted histograms"
                )
            multi_b = isinstance(band, (list, tuple))
            bkeys = ["parent", "cell"] + (["__b"] if multi_b else [])
            p = overlay_class_partials(images, res, parent_res, dggs,
                                       band, supersample,
                                       bucket_width=float(hist_width))
            h = p.groupBy(*bkeys, "class").agg(
                F.sum("cov_area").alias("weight")
            )
            field = A.hist_weight_field("area", hist_normalize)
            wcol = "weight"
            if hist_normalize == "valid_overlap":
                h = A.hist_normalize(h, bkeys)
                wcol = "weight_frac"
            elif hist_normalize == "cell_area":
                h = A.hist_normalize_cell_area(h, res, dggs)
                wcol = "area_frac"
            g = h.groupBy(*bkeys).agg(
                F.array_sort(
                    F.collect_list(F.struct(
                        F.col("class").alias("left"),
                        (F.col("class") + float(hist_width)).alias("right"),
                        F.col(wcol).alias("w"),
                    ))
                ).alias("__p")
            )
            packed = F.struct(
                F.col("__p.left").alias("left"),
                F.col("__p.right").alias("right"),
                F.col("__p.w").alias(field),
            )
            if multi_b:
                # one struct column per band (ref emits histograms for
                # every selected band in one pass); max() is a pure
                # selector — exactly one struct per (cell, band)
                g = g.select("parent", "cell", "__b", packed.alias("__s"))
                out = g.groupBy("parent", "cell").agg(*[
                    F.max(F.when(F.col("__b") == b, F.col("__s")))
                    .alias(f"band_{b}") for b in band
                ])
            else:
                out = g.select("parent", "cell",
                               packed.alias(f"band_{band}"))
        else:
            raise ValueError(f"overlay op {op!r}; choose from {OVERLAY_OPS}")
    elif transfer == "sample":
        from raster2dggs_spark.operators.sample import sample_cells

        if kernel not in KERNELS:
            raise ValueError(f"kernel {kernel!r}; choose from {KERNELS}")
        out = sample_cells(images, res, kernel, parent_res, dggs, n_bands)
    else:
        raise ValueError(f"transfer {transfer!r}: point | overlay | sample")

    if decimals is not None:
        from raster2dggs_spark.operators.aggregates import round_decimals

        cols = [c for c in band_cols(n_bands) if c in out.columns]
        if cols:
            out = round_decimals(out, cols, decimals)
    if compact:
        from raster2dggs_spark.dggs import MULTI_PARENT_GRIDS
        from raster2dggs_spark.operators.compaction import (
            compact_cells, compact_cells_3h,
        )

        vals = [c for c in out.columns if c not in ("cell", "npx")]
        # "parent" rides as a value column: compaction only ever merges
        # siblings at res > parent_res, whose parent value is uniform by
        # construction, so it is preserved (the reference compacts within
        # a parent partition for the same reason)
        src = out.drop("npx") if "npx" in out.columns else out
        if dggs in MULTI_PARENT_GRIDS:
            # multi-parent route (A17): parent as a value column would
            # block every vertex-child merge (its 3 parents differ) —
            # drop it and re-derive for the kept rows
            from raster2dggs_spark.operators.joins import parent_expr

            vals3 = [c for c in vals if c != "parent"]
            out = compact_cells_3h(src.drop("parent"), vals3, res,
                                   min_res=parent_res)
            out = out.withColumn(
                "parent",
                parent_expr("cell", parent_res, dggs, from_res=res),
            )
        else:
            out = compact_cells(src, vals, res, min_res=parent_res,
                                dggs=dggs)
    if raw_ids:
        return out
    return to_reference_output(out, dggs, res, parent_res)


def _point_histogram(images, res, parent_res, dggs, bands, n_bands,
                     nodata_policy, nodata_fill, band, decimals,
                     edges, width, origin, weight, normalize):
    """``--point histogram`` (A8-A11): per-cell categorical or binned
    histogram packed into the reference struct form with the
    (weight × normalize) field-naming matrix.

    ``band`` may be a list: the reference emits ONE histogram struct
    per selected band (common.py:503-512) — implemented as a single
    decode pass: band columns melt to (parent, cell, band, value) rows,
    one keyed histogram build, then a pivot back to per-band struct
    columns (a cell where a band has no valid pixel gets null — the
    fixed-schema null-pad rule, P5)."""
    from raster2dggs_spark.operators import aggregates as A
    from raster2dggs_spark.operators.indexing import band_cols, pixel_cells

    multi = isinstance(band, (list, tuple))
    sel = list(band) if multi else [band]
    px = pixel_cells(images, res, parent_res, dggs, bands, n_bands,
                     nodata_policy, nodata_fill, keep_image_id=False)
    all_cols = band_cols(n_bands)
    keys = ["parent", "cell"]
    if multi:
        pairs = F.array(*[
            F.struct(F.lit(b).alias("b"),
                     F.col(all_cols[b - 1]).alias("v")) for b in sel
        ])
        px = (px.select("parent", "cell", F.explode(pairs).alias("__p"))
              .select("parent", "cell", F.col("__p.b").alias("__b"),
                      F.col("__p.v").alias("__value"))
              .where(F.col("__value").isNotNull()
                     & ~F.isnan("__value")))
        keys = ["parent", "cell", "__b"]
        vcol = "__value"
    else:
        vcol = all_cols[band - 1]
    if edges is not None:
        h = A.hist_binned_edges(px, keys, vcol, list(edges))
    elif width is not None:
        h = A.hist_binned(px, keys, vcol, origin, float(width))
    else:
        h = A.hist_categorical(px, keys, vcol, decimals=decimals)
    field = A.hist_weight_field(weight, normalize)
    wcol = "weight"
    if normalize == "valid_overlap":
        h = A.hist_normalize(h, keys)          # adds weight_frac
        wcol = "weight_frac"
    elif normalize == "cell_area":
        h = A.hist_normalize_cell_area(h, res, dggs)  # adds area_frac
        wcol = "area_frac"
    if edges is not None or width is not None:
        packed = F.struct(
            F.col("__p.left").alias("left"),
            F.col("__p.right").alias("right"),
            F.col("__p.w").alias(field),
        )
        g = h.groupBy(*keys).agg(
            F.array_sort(
                F.collect_list(F.struct(
                    F.col("left"), F.col("right"), F.col(wcol).alias("w"),
                ))
            ).alias("__p")
        )
    else:
        packed = F.struct(
            F.col("__p.v").alias("values"),
            F.col("__p.w").alias(field),
        )
        g = h.groupBy(*keys).agg(
            F.array_sort(
                F.collect_list(F.struct(
                    F.col("value").alias("v"), F.col(wcol).alias("w"),
                ))
            ).alias("__p")
        )
    if not multi:
        return g.select("parent", "cell", packed.alias(f"band_{band}"))
    # pivot the per-(cell, band) structs back to one column per band —
    # exactly one non-null struct per (cell, band) group, so max() is a
    # pure selector
    g = g.select("parent", "cell", "__b", packed.alias("__s"))
    return g.groupBy("parent", "cell").agg(*[
        F.max(F.when(F.col("__b") == b, F.col("__s"))).alias(f"band_{b}")
        for b in sel
    ])


def write_output(df: DataFrame, path: str, dggs: str = "hex7",
                 parent_res: int = 3, geo: bool = False,
                 geometry: str = "polygon",
                 compression: str = "snappy") -> None:
    """Reference output sink: hive-partitioned (Geo)Parquet keyed by the
    parent column, one file per parent (ref common.py:533-572;
    -c/--compression)."""
    from raster2dggs_spark.operators.indexing import cell_column_name
    from raster2dggs_spark.plans.layout import write_partitioned

    pcol = cell_column_name(dggs, parent_res)
    if geo:
        from raster2dggs_spark.sources.geoparquet import (
            add_cell_geometry, write_geoparquet,
        )

        if "cell" not in df.columns:
            raise ValueError("geo output needs raw_ids=True frames "
                             "(cell column present)")
        geo_df = add_cell_geometry(df, dggs, geometry)
        geo_df = geo_df.withColumn(pcol, F.lower(F.hex("parent")))
        write_geoparquet(geo_df.drop("parent", "cell"), path,
                         partition_col=pcol,
                         geometry_types=[geometry.capitalize()],
                         compression=compression)
        return
    write_partitioned(df, path, pcol, compression=compression)
