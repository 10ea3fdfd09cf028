"""The grid protocol.

Every grid key has one entry that exports the same names with the same
signatures (README "Grid protocol" has the table): a ``*lib.py``
module, or an instance of a grid family's class when several grids are
settings of one algorithm (``rhombuslib.Rhombus``).  Callers reach an
entry only through :func:`grid_lib` and never branch on a grid key.
Where a grid FAMILY changes the algorithm, callers test membership in
one of the tuples below.
"""

from raster2dggs_spark.dggs import (
    a5lib,
    quadkeylib,
    geohashlib,
    h3lib,
    i3hlib,
    maidenheadlib,
    rhombuslib,
    rhplib,
    s2lib,
)

__all__ = ["h3lib", "s2lib", "geohashlib", "maidenheadlib", "rhplib",
           "i3hlib", "a5lib", "rhombuslib", "quadkeylib",
           "GRIDS", "RECT_GRIDS", "EXACT_LATTICE_GRIDS",
           "MULTI_PARENT_GRIDS", "CONSTANT_AREA_GRIDS", "check_grid",
           "grid_lib"]

# i3h: aperture-3 hex (ISEA3H layout, multi-parent hierarchy) — encode/
# cover/A17 surfaces; ids are this repo's own (see i3hlib), like hex7.
# a5: pentagonal dodecahedron, aperture 5 then 4 (A5 layout, see a5lib);
# i4r/i9r: icosahedral rhombus, aperture 4/9 on 10 diamonds (ISEA4R/
# ISEA9R layout), central projection; e4r/e9r: their EQUAL-AREA twins
# (IVEA/ISEA class) — one rhombuslib.Rhombus instance each, same
# honest own-id contract.
GRIDS = ("hex7", "s2", "geohash", "maidenhead", "rhp", "i3h", "a5",
         "i4r", "i9r", "e4r", "e9r", "quadkey")

_LIBS = {"hex7": h3lib, "s2": s2lib, "geohash": geohashlib,
         "maidenhead": maidenheadlib, "rhp": rhplib, "i3h": i3hlib,
         "a5": a5lib, "i4r": rhombuslib.I4R, "i9r": rhombuslib.I9R,
         "e4r": rhombuslib.E4R, "e9r": rhombuslib.E9R,
         "quadkey": quadkeylib}

# cells are an index rectangle lattice (``lattice(res)``): covers and
# disk candidates are enumerated exactly instead of sampled
RECT_GRIDS = ("geohash", "maidenhead", "quadkey")
# the power-of-two lattices, whose float -> index scaling is bit-identical
# to the encoder (exact scanline / supercover / lattice focal)
EXACT_LATTICE_GRIDS = ("geohash", "quadkey")
# children are shared between parents (not a partition): compaction takes
# the multi-parent route and children cannot split a parent's area
MULTI_PARENT_GRIDS = ("i3h",)
# every cell at a res has the closed-form area ``cell_area_m2(res)``:
# area normalization is a native constant instead of a per-cell UDF
CONSTANT_AREA_GRIDS = ("rhp",)


def check_grid(dggs: str) -> str:
    """Validate a grid key at the output-contract level.

    ``"h3"`` is rejected loudly: the hexagonal grid here is an
    H3-*layout* grid (same bit layout, aperture-7 hierarchy, 122 base
    cells) whose base-cell numbering is derived geometrically, NOT
    libh3's — its ids do not join against real-world H3-indexed data, so
    no output may claim the ``h3`` label (grid key and output columns
    are ``hex7``)."""
    if dggs == "h3":
        raise ValueError(
            "grid 'h3' is not available: cell ids here use an H3-layout "
            "geometry but are NOT libh3-interoperable. Use dggs='hex7' "
            "(outputs hex7_NN columns) — joining hex7 ids against "
            "genuine H3 indexes would silently mismatch."
        )
    if dggs not in GRIDS:
        raise ValueError(f"unknown dggs {dggs!r}; expected one of {GRIDS}")
    return dggs


def grid_lib(dggs: str):
    """The protocol entry (module or family instance) for a grid key."""
    return _LIBS[check_grid(dggs)]
