"""Hilbert clustering keys (functions/hilbert.py)."""

import os

import numpy as np
import pandas as pd
import pytest

from raster2dggs_spark.functions.hilbert import with_hilbert_key


def _xy2d(order, x, y):
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_bijective_continuous_and_exact(spark):
    order = 5
    n = 1 << order
    pdf = pd.DataFrame([(x, y) for x in range(n) for y in range(n)],
                       columns=["gx", "gy"])
    out = (with_hilbert_key(spark.createDataFrame(pdf), "gx", "gy",
                            order).toPandas())
    ref = np.array([_xy2d(order, x, y)
                    for x, y in zip(out.gx, out.gy)])
    assert (out.hkey.to_numpy() == ref).all()
    assert sorted(out.hkey) == list(range(n * n))      # bijection
    o = out.sort_values("hkey").reset_index(drop=True)
    step = o.gx.diff().abs()[1:] + o.gy.diff().abs()[1:]
    assert (step == 1).all()                           # rook-continuous


def test_locality_beats_row_major_for_bbox_pruning(spark):
    # THE clustering property: a bbox query should touch few contiguous
    # key ranges (= few parquet files after a sorted write).  Count the
    # ranges a 4x4 box needs under Hilbert vs row-major keys.
    order = 5
    n = 1 << order
    pdf = pd.DataFrame([(x, y) for x in range(n) for y in range(n)],
                       columns=["gx", "gy"])
    out = (with_hilbert_key(spark.createDataFrame(pdf), "gx", "gy",
                            order).toPandas())
    key = {(r.gx, r.gy): r.hkey for r in out.itertuples()}

    def n_ranges(keys):
        ks = sorted(keys)
        return 1 + sum(1 for a, b in zip(ks, ks[1:]) if b > a + 1)

    rng = np.random.default_rng(0)
    hr, rr = [], []
    for _ in range(60):
        x0 = int(rng.integers(0, n - 4))
        y0 = int(rng.integers(0, n - 4))
        box = [(x, y) for x in range(x0, x0 + 4)
               for y in range(y0, y0 + 4)]
        hr.append(n_ranges([key[p] for p in box]))
        rr.append(n_ranges([y * n + x for x, y in box]))
    assert np.mean(hr) < np.mean(rr)           # fewer ranges = fewer files
    assert np.mean(hr) < 3.9        # row-major needs exactly 4


def test_order_validation(spark):
    df = spark.createDataFrame(pd.DataFrame({"gx": [0], "gy": [0]}))
    with pytest.raises(ValueError):
        with_hilbert_key(df, "gx", "gy", 0)


def test_clustered_write_prunes_files(spark, tmp_path):
    # end-to-end evidence for the layout claim: write the same lattice
    # hilbert-sorted vs hash-shuffled, read parquet footer min/max for
    # (gx, gy), count files a small bbox query would have to open
    import pyarrow.parquet as pq

    n = 128
    pdf = pd.DataFrame([(x, y) for x in range(n) for y in range(n)],
                       columns=["gx", "gy"])
    df = with_hilbert_key(spark.createDataFrame(pdf), "gx", "gy", 7)
    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    (df.repartitionByRange(16, "hkey").sortWithinPartitions("hkey")
       .write.parquet(clustered))
    df.repartition(16).write.parquet(shuffled)

    def files_touched(path, x0, y0, w):
        hit = total = 0
        for fn in os.listdir(path):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fn)).metadata
            mn = {"gx": None, "gy": None}
            mx = {"gx": None, "gy": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mn:
                        st = col.statistics
                        mn[name] = (st.min if mn[name] is None
                                    else min(mn[name], st.min))
                        mx[name] = (st.max if mx[name] is None
                                    else max(mx[name], st.max))
            total += 1
            if not (mx["gx"] < x0 or mn["gx"] >= x0 + w
                    or mx["gy"] < y0 or mn["gy"] >= y0 + w):
                hit += 1
        return hit, total

    rng = np.random.default_rng(1)
    ch = sh = 0
    for _ in range(10):
        x0 = int(rng.integers(0, n - 8))
        y0 = int(rng.integers(0, n - 8))
        c, ct = files_touched(clustered, x0, y0, 8)
        s, st_ = files_touched(shuffled, x0, y0, 8)
        ch += c
        sh += s
    # a hash-shuffled layout overlaps (nearly) every file every time;
    # the clustered layout opens a small fraction
    assert ch < sh / 3, (ch, sh)
