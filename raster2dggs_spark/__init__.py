"""raster2dggs_spark — a from-scratch PySpark-native DGGS indexing and
spatial-join engine with the query/data-processing capabilities of
``manaakiwhenua/raster2dggs`` (reference at /root/reference, studied for
*semantics only*; architecture is idiomatic Spark per SURVEY.md).

Layout
------
- ``dggs``      — pure-NumPy H3-layout + S2 cell libraries (encode, hierarchy,
                  rings, polyfill).  No native libs (offline sandbox).
- ``geo``       — affine pixel→CRS math, EPSG:4326/3857 transforms, geodesic
                  areas, haversine.
- ``codecs``    — image payload codecs (raw / zlib / q8 quantized) + PSNR +
                  average-hash, all vectorized NumPy.
- ``sources``   — deterministic synthetic image-table generator and an
                  Iceberg-style manifest/snapshot layer over Parquet.
- ``operators`` — the Spark operators: pixel→cell indexing (mapInPandas),
                  aggregation surface, spatial joins (PIP / kNN / zonal),
                  compaction, dedup / text / similarity pipelines.
- ``plans``     — skew-aware (salted) aggregation helpers, checkpoint/lineage.
"""

__version__ = "0.1.0"
