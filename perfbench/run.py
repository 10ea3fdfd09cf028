#!/usr/bin/env python3
"""Closed-loop benchmark of the raster2dggs_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One client submits one job at a time from
this driver process to ``local[k]`` (k = min(2, nproc)).  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` makes a separate traced run
and prints the per-layer metrics.  The last line of stdout is one JSON
object; everything the run writes stays under ``perfbench/.work``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
TRACED_JOBS = 2     # jobs in the traced session and in the untraced one
KEEP_CACHES = 6


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env() -> None:
    """Point temp files, Spark scratch and worker imports at the checkout.
    Exits non-zero at once when the engine sources are missing."""
    if not os.path.isfile(os.path.join(ROOT, "raster2dggs_spark",
                                       "__init__.py")):
        fail(f"no raster2dggs_spark package in {ROOT}; run from a checkout")
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")


def start_session(cores: int, extra: dict | None = None):
    from raster2dggs_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        # a fixed-size heap, so the JVM's resident size does not depend on
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.local.dir": TMP,
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started has ended."""
    import proctree
    from pyspark import SparkContext

    spawned = [p for p in proctree.tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in spawned:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def prune_caches() -> None:
    caches = sorted(glob.glob(os.path.join(WORK, "cache", "*")),
                    key=os.path.getmtime)
    for old in caches[:-KEEP_CACHES]:
        shutil.rmtree(old, ignore_errors=True)


def tail(walls: list[float]) -> tuple[float, int, int]:
    """Nearest-rank wall at the highest of p99/p95/p90/p75 that leaves at
    least ten samples above it; p75 when no percentile does (n < 40).
    Returns (wall, percentile, samples above it)."""
    s = sorted(walls)
    n = len(s)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), 75)
    rank = max(1, -(-n * pct // 100))
    return s[rank - 1], pct, n - rank


def run_jobs(wl, spark, state, n: int | None, seconds: float, tracer=None):
    """Closed loop: submit the next job only when the previous one ends.
    Runs ``n`` jobs, or until ``seconds`` have passed (at least the
    workload's ``min_jobs``).
    Returns per-job wall, CPU per role and error (None when correct)."""
    import proctree

    recs = []
    t_end = time.perf_counter() + seconds
    k = 0
    while (k < n) if n is not None else (
            k < wl.min_jobs or time.perf_counter() < t_end):
        c0 = proctree.cpu_seconds(proctree.tree())
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                tracer.job_id = k
                with tracer.span("job"):
                    res = wl.job(spark, state, k, tracer)
            else:
                res = wl.job(spark, state, k)
            err = None
        except Exception as e:  # a failed job is counted, not fatal
            res, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        c1 = proctree.cpu_seconds(proctree.tree())
        rec = {"wall": wall, "cpu": {r: c1[r] - c0[r] for r in c1}}
        if err is None:
            rec["sink"] = wl.sink_metrics(res)
            err = wl.check(res)
        rec["error"] = err
        if err is not None:
            print(f"perfbench: job {k} failed: {err}", file=sys.stderr)
        recs.append(rec)
        k += 1
    if tracer is not None:
        tracer.job_id = None
    return recs


def setup(wl, cores: int):
    """The workload's ``setup_reps`` timed set-ups: session start + input
    load from the cache + one warm-up job.  The first one also launches the JVM and the
    SparkContext; each later one starts a new SparkSession on that
    context.  Returns the last session, its loaded state and the set-up
    times."""
    times, spark = [], None
    for rep in range(wl.setup_reps):
        t0 = time.perf_counter()
        spark = start_session(cores) if spark is None else spark.newSession()
        state = wl.load(spark)
        wl.warmup(spark, state)
        times.append(time.perf_counter() - t0)
        if rep < wl.setup_reps - 1:
            wl.unload(state)
    return spark, state, times


def end_to_end(wl, cores: int, seconds: float) -> dict:
    import proctree

    spark, state, setup_times = setup(wl, cores)
    recs = run_jobs(wl, spark, state, None, seconds)
    peak_rss = proctree.peak_rss_bytes(proctree.tree())
    wl.unload(state)
    shutdown(spark)
    walls = [r["wall"] for r in recs]
    ok = sum(r["error"] is None for r in recs)
    tail_s, pct, above = tail(walls)
    print(f"{wl.name} seed={wl.seed}: {len(recs)} jobs, {ok} correct, "
          f"{wl.units_per_job} {wl.unit}/job; wall p50 "
          f"{statistics.median(walls):.3f} s, p{pct} {tail_s:.3f} s "
          f"({above} samples above); "
          f"setup {['%.3f' % t for t in setup_times]} s; "
          f"walls {['%.3f' % w for w in walls]} s")
    metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "units_per_s": (wl.units_per_job * ok / len(recs)
                        / statistics.median(walls), "unit/s"),
        "job_wall_p50_s": (statistics.median(walls), "s"),
        "job_wall_tail_s": (tail_s, "s"),
        "cpu_s_per_job": (statistics.median(r["cpu"]["total"]
                                            for r in recs), "s"),
        "peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
    }
    return {"correct": ok == len(recs), "attempted": len(recs),
            "failed": len(recs) - ok, "metrics": metrics}


def traced(wl, cores: int, seed: int) -> dict:
    """A session with the event log and the UDF profiler on (traced jobs,
    the layer ladders and driver-side kernels), then an untraced session
    whose jobs give the reference wall.  Both start with a warm-up job;
    the untraced one runs in a JVM that has run more, so the overhead
    errs high.  Spans and the event log are read afterwards."""
    from tracing import Tracer, profiled_seconds, read_event_log, task_metrics

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        names = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}

    tdir = os.path.join(WORK, "trace", f"{wl.name}-s{seed}")
    shutil.rmtree(tdir, ignore_errors=True)
    evdir = os.path.join(tdir, "eventlog")
    os.makedirs(evdir)
    spark = start_session(cores, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    })
    tracer = Tracer(spark)
    state = wl.load(spark)
    with tracer.span("warmup"):
        wl.warmup(spark, state)
    spark.profile.clear()
    recs = run_jobs(wl, spark, state, TRACED_JOBS, 0, tracer)
    profile_s = profiled_seconds(spark, os.path.join(tdir, "profile"))
    job_p50 = tracer.median("job")
    m = wl.trace_layers(spark, state, tracer)
    wl.unload(state)
    spark.stop()
    # a new session in the same process inherits the stopped one's
    # settings, so switch the event log and the UDF profiler off again
    spark = start_session(cores, {"spark.eventLog.enabled": "false"})
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    state = wl.load(spark)
    wl.warmup(spark, state)
    plain = run_jobs(wl, spark, state, TRACED_JOBS, 0)
    wl.unload(state)
    shutdown(spark)
    tracer.write(os.path.join(tdir, "spans.json"))
    log = read_event_log(evdir)
    shutil.rmtree(evdir)

    m.update(task_metrics(log, tracer.groups("job"), TRACED_JOBS))
    m["jobs_per_op"] = tracer.spark_jobs("job") / TRACED_JOBS
    med = lambda key: statistics.median(  # noqa: E731
        r["cpu"][key] for r in recs)
    m["udf.python_cpu_s"] = med("python")
    m["proc.jvm_cpu_s"] = med("jvm")
    m["proc.driver_cpu_s"] = med("driver")
    m["udf.profile_s"] = profile_s / TRACED_JOBS
    sink = recs[-1].get("sink") or {}
    m.update(sink)
    plain_p50 = statistics.median(r["wall"] for r in plain)
    m["trace.overhead_s"] = job_p50 - plain_p50
    m["trace.self_time_coverage"] = sum(
        m[k] for k in wl.self_time_metrics) / plain_p50
    if "sink.wall_s" in m:
        m["sink.share"] = m["sink.wall_s"] / plain_p50
    m["knn.spark_jobs"] = tracer.spark_jobs("op.knn") / TRACED_JOBS
    if m.get("loop.rounds"):
        m["loop.jobs_per_round"] = tracer.spark_jobs(
            "op.connected_components") / TRACED_JOBS / m["loop.rounds"]
    ok = sum(r["error"] is None for r in recs + plain)
    for err in wl.trace_errors:
        print(f"perfbench: traced check failed: {err}", file=sys.stderr)
    missing = sorted(set(m) - set(names))
    if missing:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {missing}")
    print(f"{wl.name} seed={seed} traced: job p50 {job_p50:.3f} s, untraced "
          f"{plain_p50:.3f} s; spans in {tdir}")
    metrics = {n: (float(m.get(n, 0.0)), u) for n, u in names.items()}
    n = len(recs) + len(plain) + len(wl.trace_errors)
    return {"correct": ok == n, "attempted": n, "failed": n - ok,
            "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    prepare_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = min(2, os.cpu_count() or 1)
    prune_caches()
    wl = WORKLOADS[args.workload](WORK, args.seed)
    wl.ensure_inputs()
    shutil.rmtree(wl.out_root, ignore_errors=True)
    try:
        if args.trace:
            result = traced(wl, cores, args.seed)
        else:
            result = end_to_end(wl, cores, args.seconds)
    except BaseException:
        shutdown(None)
        raise
    finally:
        shutil.rmtree(wl.out_root, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
