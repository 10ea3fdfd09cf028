"""Spans kept in memory around layer calls, and offline readers for the
Spark event log and the built-in Python UDF profiler.

Every span tags the Spark jobs it launches with its own job group, so the
event log attributes stages and tasks back to the span that caused them.
Only public surfaces are read: ``setJobGroup``/``statusTracker``, the
JSON event log and ``spark.profile.dump``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import statistics
import time


class Tracer:
    """Spans with name, start, end, parent span and benchmark job id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "job": self.job_id, "group": f"span{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer["group"], outer["name"])
            rec["spark_jobs"] = list(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def groups(self, name: str) -> set[str]:
        """Job groups of every span named ``name`` and its descendants."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids}
            grew = not more <= ids
            ids |= more
        return {self.spans[i]["group"] for i in ids}

    def spark_jobs(self, name: str) -> int:
        """Spark jobs launched under every span named ``name``, as the
        status tracker listed them per job group."""
        groups = self.groups(name)
        return sum(len(s["spark_jobs"]) for s in self.spans
                   if s["group"] in groups)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ---- event log -------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Parse the single uncompressed event log in ``log_dir`` into tasks
    (job group, stage, metrics)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, got {paths}")
    tasks, stage_group = [], {}
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerStageSubmitted":
                p = e.get("Properties") or {}
                info = e["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = \
                    p.get("spark.jobGroup.id")
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in e["Task Info"].get("Accumulables", [])}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                key = (e["Stage ID"], e["Stage Attempt ID"])
                tasks.append({
                    "group": stage_group.get(key),
                    "stage": key,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                    "py_sent": int(acc.get(_PY_SENT) or 0),
                    "py_back": int(acc.get(_PY_BACK) or 0),
                })
    return {"tasks": tasks}


def task_metrics(log: dict, groups: set[str], per: int) -> dict[str, float]:
    """Task, exchange and Python-boundary totals over ``groups``, divided
    by ``per`` (the number of traced jobs the groups cover)."""
    ts = [t for t in log["tasks"] if t["group"] in groups]
    by_stage: dict = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) > 1 and statistics.median(v) > 0]
    total = lambda k: sum(t[k] for t in ts) / per  # noqa: E731
    return {
        "tasks.count": len(ts) / per,
        "tasks.run_s": total("run_s"),
        "tasks.cpu_s": total("cpu_s"),
        "tasks.gc_s": total("gc_s"),
        "tasks.skew": max(skews, default=1.0),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.records": total("shuffle_records"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "spill.bytes": total("spill_bytes"),
        "udf.arrow_bytes_to_python": total("py_sent"),
        "udf.arrow_bytes_from_python": total("py_back"),
    }


def profiled_seconds(spark, dump_dir: str) -> float:
    """Total time the ``perf`` UDF profiler recorded since its last clear."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    files = glob.glob(os.path.join(dump_dir, "*.pstats"))
    return sum(pstats.Stats(p).total_tt for p in files)
