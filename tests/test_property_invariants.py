"""Hypothesis property tests: encoder/hierarchy invariants that must
hold for ARBITRARY coordinates, not just the seeded fixtures — the
random-input analogue of the reference's invariant suite (SURVEY §5).
No Spark; pure lattice math, so hundreds of cases stay fast."""

import numpy as np
from hypothesis import given, settings, strategies as st

from raster2dggs_spark.dggs import cover, grid_lib

lons = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)
lats = st.floats(min_value=-89.5, max_value=89.5,
                 allow_nan=False, allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(lon=lons, lat=lats)
def test_parent_contains_child_every_grid(lon, lat):
    """encode(p, res) must truncate to encode-consistent parents: the
    cell's parent at res−1 equals the parent chain the grid's own
    arithmetic produces, and the point's coarse encode matches for the
    prefix-tree grids (geohash/maidenhead/rhp are strict prefix
    hierarchies; hex/s2 parents contain the child center's coarse
    encode up to boundary rounding)."""
    for dggs, res in (("geohash", 6), ("maidenhead", 3), ("rhp", 6),
                      ("a5", 8), ("i4r", 9), ("i9r", 6), ("quadkey", 12)):
        c = cover.encode(np.array([lon]), np.array([lat]), res, dggs)
        p = cover.cell_parent(c, res - 1, dggs)
        direct = cover.encode(np.array([lon]), np.array([lat]), res - 1, dggs)
        assert p[0] == direct[0], (dggs, lon, lat)


@settings(max_examples=200, deadline=None)
@given(lon=lons, lat=lats)
def test_center_reencodes_to_self_prefix_grids(lon, lat):
    """Rectangle/prefix grids: a cell's center must encode back to the
    cell (exact round-trip — no seam duality on these grids)."""
    for dggs, res in (("geohash", 6), ("maidenhead", 3),
                      ("quadkey", 12)):
        c = cover.encode(np.array([lon]), np.array([lat]), res, dggs)
        clon, clat = cover.cell_center(c, dggs)
        c2 = cover.encode(clon, clat, res, dggs)
        assert c2[0] == c[0], (dggs, lon, lat)


@settings(max_examples=150, deadline=None)
@given(lon=lons, lat=lats, dlon=st.floats(min_value=0.01, max_value=0.2),
       dlat=st.floats(min_value=0.01, max_value=0.2))
def test_s2_rhp_encode_in_own_cell_bbox(lon, lat, dlon, dlat):
    """Curved grids: the encoding point's distance to its cell center is
    bounded by one cell pitch (the point lies in its cell)."""
    for dggs, res in (("s2", 10), ("rhp", 5), ("i3h", 8), ("hex7", 7),
                      ("a5", 7), ("i4r", 7), ("i9r", 5)):
        c = cover.encode(np.array([lon]), np.array([lat]), res, dggs)
        clon, clat = cover.cell_center(c, dggs)
        dl = (clon[0] - lon + 180.0) % 360.0 - 180.0
        d = np.hypot(dl * np.cos(np.radians(lat)), clat[0] - lat)
        assert d <= 2.0 * grid_lib(dggs).pitch_deg(res), (dggs, lon, lat, d)
