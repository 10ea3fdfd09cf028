"""The pagerank oracle twin (``__spark_entry__._pagerank_sql``) runs all
8 unrolled iterations in DuckDB in well under a second and matches a
NumPy power iteration with the same dangling-mass rule.  Spark-free."""

import time

import duckdb
import numpy as np


def _numpy_pagerank(keys, iters, damping=0.85):
    """operators/graph.py pagerank on the supplier 3-out graph: distinct
    edges, vertices = endpoint union, uniform start, dangling rank
    spread uniformly each round."""
    edges = {(k, (k * a + b) % 100 + 1)
             for k in keys for a, b in ((7, 3), (13, 5), (29, 11))}
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    odeg = np.zeros(n)
    for s, _ in edges:
        odeg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        msum = np.zeros(n)
        for s, d in edges:
            msum[idx[d]] += rank[idx[s]] / odeg[idx[s]]
        dang = rank[odeg == 0].sum()
        rank = ((1.0 - damping) / n + damping * dang / n) + damping * msum
    return dict(zip(verts, rank * n))


def test_pagerank_oracle_eight_iterations():
    from __spark_entry__ import _pagerank_sql

    con = duckdb.connect()
    # 98 keys in 1..130: multiples of 4 are missing, so every dst that
    # is a multiple of 4 has no out-edge (dangling mass is exercised)
    con.execute("CREATE VIEW supplier AS SELECT k AS s_suppkey "
                "FROM range(1, 131) t(k) WHERE k % 4 <> 0")
    keys = [r[0] for r in con.execute("SELECT s_suppkey FROM supplier")
            .fetchall()]
    assert len(keys) == 98
    t0 = time.perf_counter()
    got = dict(con.execute(_pagerank_sql(8)).fetchall())
    assert time.perf_counter() - t0 < 10
    exp = _numpy_pagerank(keys, 8)
    assert sorted(got) == sorted(exp)
    assert any(v % 4 == 0 for v in exp)
    for v, r in exp.items():
        assert abs(got[v] - r) <= 1e-4 + 1e-9, v
