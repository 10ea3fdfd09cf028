"""The superstep driver (plans/loops.py): termination, the fixed-round
contract, the cap raise with cache release, the planner-stats bound, and
the round caps of every converging loop operator that runs on it."""

import pathlib
import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from raster2dggs_spark.plans.loops import fixpoint


def _no_caches(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _digits(df) -> int:
    """Digit count of the optimizer's size-in-bytes estimate."""
    return len(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))


def test_probe_reaching_zero_stops_early(spark):
    spark.catalog.clearCache()
    seen = []

    def step(df, probe):
        seen.append(probe)
        return df.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    stats = {}
    out = fixpoint(step, spark.range(4).select(F.lit(3).alias("x")),
                   max_rounds=10, name="countdown", stats=stats,
                   probe=F.sum("x"))
    assert [r.x for r in out.collect()] == [0] * 4
    # the stopping round counts; each step sees the previous probe
    assert stats == {"rounds": 3}
    assert seen == [None, 8, 4]
    assert _no_caches(spark)


def test_no_probe_runs_exactly_max_rounds(spark):
    spark.catalog.clearCache()
    calls = []

    def step(state, probe):
        calls.append(probe)
        a, b = state
        return a.select((F.col("x") + 1).alias("x")), b

    a, b = fixpoint(step, (spark.range(1).select(F.lit(0).alias("x")),
                           spark.range(2)),
                    max_rounds=5, name="fixed")
    assert a.first().x == 5 and b.count() == 2
    assert calls == [None] * 5
    assert _no_caches(spark)


def test_cap_raises_and_releases_caches(spark):
    spark.catalog.clearCache()

    def step(df, _probe):
        return df.select((F.col("x") + 1).alias("x"))

    # 9 rounds cross the every-4th-round stats resets, so several cache
    # handles have rolled by the time the cap is hit
    with pytest.raises(RuntimeError,
                       match="^forever did not converge in 9 rounds$"):
        fixpoint(step, spark.range(3).select(F.col("id").alias("x")),
                 max_rounds=9, name="forever", probe=F.count(F.lit(1)))
    assert _no_caches(spark)


def test_failing_step_releases_caches(spark):
    spark.catalog.clearCache()

    def step(df, probe):
        if probe is not None:
            raise ValueError("boom")
        return df

    with pytest.raises(ValueError, match="boom"):
        fixpoint(step, spark.range(3), max_rounds=5, name="fails",
                 probe=F.count(F.lit(1)))
    assert _no_caches(spark)


def _self_join_twice(df, _probe):
    a = df.select("k", F.col("v").alias("a"))
    b = df.select("k", F.col("v").alias("b"))
    return (df.join(a, "k").join(b, "k")
            .select("k", (F.col("v") + F.col("a") - F.col("b")).alias("v")))


_DIGIT_BOUND = 400


def test_stats_estimate_stays_bounded(spark):
    """A round that joins the state with itself twice multiplies the
    carried size estimate's digit count ~3x per round on a bare
    checkpoint; the driver's resets keep it under a fixed bound for 40
    rounds."""
    spark.catalog.clearCache()
    digits = []

    def step(df, probe):
        digits.append(_digits(df))
        return _self_join_twice(df, probe)

    init = spark.range(16).select(F.col("id").alias("k"),
                                  F.col("id").alias("v"))
    out = fixpoint(step, init, max_rounds=40, name="self_join")
    digits.append(_digits(out))
    assert len(digits) == 41
    assert max(digits) < _DIGIT_BOUND, digits
    assert sorted(r.v for r in out.collect()) == list(range(16))


def test_bare_checkpoint_estimate_exceeds_the_bound(spark):
    """The bound above is not vacuous: the same round on a bare eager
    localCheckpoint crosses it within 6 rounds."""
    df = spark.range(16).select(F.col("id").alias("k"),
                                F.col("id").alias("v"))
    df = df.localCheckpoint(eager=True)
    for _ in range(6):
        df = _self_join_twice(df, None).localCheckpoint(eager=True)
    assert _digits(df) >= _DIGIT_BOUND


def test_no_loop_hygiene_outside_the_driver():
    """Every superstep loop goes through plans/loops.py: no other
    package module checkpoints loop rounds or raises the cap error
    itself."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "raster2dggs_spark"
    pat = re.compile(r"loop_checkpoint|did not converge")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "plans" / "loops.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if pat.search(line):
                hits.append(f"{path.relative_to(pkg.parent)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)


# --- round caps of the converging loop operators --------------------------
#
# Each case returns (run, needed, expected): ``run(cap)`` collects the
# operator's sorted output under ``max_rounds=cap``; ``needed`` is the
# fewest rounds it converges in and ``expected`` its converged output.


def _chain(spark, n, w=True):
    pdf = pd.DataFrame({"src": range(n), "dst": range(1, n + 1)})
    if w:
        pdf["w"] = 1.0
    return spark.createDataFrame(pdf)


def _with_stats(run):
    stats = {}
    expected = run(50, stats)
    return (lambda cap: run(cap, {})), stats["rounds"], expected


def _case_connected_components(spark):
    from raster2dggs_spark.operators.dedup import connected_components

    pairs = _chain(spark, 40, w=False).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    return _with_stats(lambda cap, st: sorted(connected_components(
        pairs, max_iters=cap, stats=st).collect()))


def _case_sssp(spark):
    from raster2dggs_spark.operators.graph import sssp

    edges = _chain(spark, 5)
    return _with_stats(lambda cap, st: sorted(sssp(
        edges, [0], max_rounds=cap, stats=st).collect()))


def _case_sssp_multi(spark):
    from raster2dggs_spark.operators.graph import sssp_multi

    edges = _chain(spark, 5)
    return _with_stats(lambda cap, st: sorted(sssp_multi(
        edges, [0, 2], max_rounds=cap, stats=st).collect()))


def _case_clump_cells(spark):
    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.costdist import clump_cells

    # one 8-cell row of a single class in 2x2 blocks: the label walks
    # one block per superstep
    tx = np.arange(8)
    df = spark.createDataFrame(pd.DataFrame({
        "cell": quadkeylib.tile_to_cell(tx, np.zeros(8, int), 5),
        "cls": 1.0, "pid": tx.astype(np.int64)}))
    return _with_stats(lambda cap, st: sorted(clump_cells(
        df, "cls", "pid", dggs="quadkey", block_bits=1, max_rounds=cap,
        stats=st).collect()))


def _case_least_cost_path(spark):
    from raster2dggs_spark.dggs import quadkeylib
    from raster2dggs_spark.operators.costdist import (
        cost_distance, least_cost_path)

    # an 8-cell column on the 8x8 level-3 lattice, source at the top,
    # target at the bottom: the trace is 7 pointer steps.  Pointer
    # doubling covers 2^k - 1 steps after k rounds, so 3 rounds reach
    # the source and a 4th finds nothing new.
    ty = np.arange(8)
    cells = quadkeylib.tile_to_cell(np.zeros(8, int), ty, 3)
    df = spark.createDataFrame(pd.DataFrame({
        "cell": cells, "cost": 1.0, "is_source": ty == 0,
        "is_target": ty == 7, "id": ty.astype(np.int64)}))
    # the cost surface under it converges well inside the trace's cap,
    # so a cap one short exercises the trace loop, not cost_distance
    st = {}
    cost_distance(df, source_col="is_source", dggs="quadkey",
                  block_bits=3, stats=st).collect()
    assert st["rounds"] < 3
    # (tgt, cell, id, dist, step): rook steps of weight (1 + 1) * 5
    expected = sorted((7, int(cells[y]), y, 10.0 * y, 7 - y)
                      for y in range(8))
    return (lambda cap: sorted(least_cost_path(
        df, dggs="quadkey", block_bits=3, max_rounds=cap).collect())), \
        4, expected


_CAP_CASES = {
    "connected_components": _case_connected_components,
    "sssp": _case_sssp,
    "sssp_multi": _case_sssp_multi,
    "clump_cells": _case_clump_cells,
    "least_cost_path": _case_least_cost_path,
}


@pytest.fixture(scope="module", params=list(_CAP_CASES))
def cap_case(request, spark):
    return _CAP_CASES[request.param](spark)


def test_cap_one_short_raises_and_releases_caches(spark, cap_case):
    run, needed, _expected = cap_case
    assert needed >= 2
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="did not converge"):
        run(needed - 1)
    assert _no_caches(spark)


def test_cap_equal_to_needed_rounds_converges(spark, cap_case):
    run, needed, expected = cap_case
    spark.catalog.clearCache()
    assert run(needed) == expected
    assert _no_caches(spark)
