"""i3h (ISEA3H-layout aperture-3) lattice invariants + A17 multi-parent
compaction semantics (ref dggalrasterindexer.py:236-372)."""

import numpy as np
import pandas as pd
import pytest

from raster2dggs_spark.dggs import i3hlib as L


def test_lattice_roundtrip_and_hierarchy():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 2000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))
    # encode/decode/encode stabilizes away from face seams
    c = L.lonlat_to_cell(lon, lat, 8)
    clon, clat = L.cell_to_latlng(c)
    assert (L.lonlat_to_cell(clon, clat, 8) == c).mean() > 0.99

    cells = np.unique(L.lonlat_to_cell(lon, lat, 6))
    ch = L.cell_to_children(cells).reshape(-1, 7)  # (n, 7)
    assert ch.shape[1] == 7
    assert (L.get_resolution(ch.ravel()) == 7).all()
    par = L.cell_to_parents(ch.ravel())             # (n*7, 3)
    pc = np.repeat(cells, 7)
    assert (par == pc[:, None]).any(axis=1).all()   # containment
    ctr = par[0::7]
    vtx = par[np.arange(par.shape[0]) % 7 != 0]
    assert ((ctr[:, 1] == L.NO_PARENT) & (ctr[:, 2] == L.NO_PARENT)).all()
    assert (vtx != L.NO_PARENT).all()                     # 3 parents
    # aperture-3 sharing: each vertex child appears in the child set of
    # every one of its 3 parents
    v = ch[:, 1:].ravel()[:200]
    vp = L.cell_to_parents(v)
    for i in range(v.shape[0]):
        for p in vp[i][vp[i] != L.NO_PARENT]:
            assert v[i] in L.cell_to_children(np.array([p]))


def test_compact_3h_reference_semantics(spark):
    """One res-4 seed, all res-6 descendants with a uniform value:
    - the seed compacts back (both levels);
    - center children vanish (single parent, compacted);
    - BOUNDARY vertex children remain (their outside parents lack
      children — ref: a child is removed only when ALL parents
      compact);
    - a single perturbed value blocks the seed."""
    from raster2dggs_spark.operators.compaction import compact_cells_3h

    seed = L.lonlat_to_cell(np.array([12.0]), np.array([41.0]), 4)
    l5 = L.cell_to_children(seed).reshape(1, 7)
    l6 = np.unique(L.cell_to_children(l5.ravel()))  # all res-6 descendants
    pdf = pd.DataFrame({"cell": l6, "v": 5.0})
    out = compact_cells_3h(
        spark.createDataFrame(pdf), ["v"], res=6, min_res=4
    ).toPandas()
    res_of = L.get_resolution(out["cell"].values)
    assert seed[0] in set(out["cell"])             # compacted to the seed
    assert (out["v"] == 5.0).all()
    # center children (single parent) removed at both levels
    assert l5[0, 0] not in set(out["cell"])
    for p in l5.ravel():
        assert L.cell_to_children(np.array([p]))[0] not in set(out["cell"])
    # level-5 vertex children stay (outside parents didn't compact)
    assert set(l5[0, 1:]) <= set(out["cell"])
    assert (res_of == 6).sum() > 0                 # boundary ring remains
    # negative: one odd value blocks every compaction that includes it
    pdf2 = pdf.copy()
    pdf2.loc[pdf2["cell"] == l6[0], "v"] = 9.0
    out2 = compact_cells_3h(
        spark.createDataFrame(pdf2), ["v"], res=6, min_res=4
    ).toPandas()
    assert seed[0] not in set(out2["cell"])
    # conservation where nothing compacts at all: distinct values
    pdf3 = pd.DataFrame({"cell": l6, "v": np.arange(len(l6), dtype=float)})
    out3 = compact_cells_3h(
        spark.createDataFrame(pdf3), ["v"], res=6, min_res=4
    ).toPandas()
    assert sorted(out3["cell"]) == sorted(l6)
