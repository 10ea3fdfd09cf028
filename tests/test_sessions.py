"""Sessionization: batch plan vs hand-computed oracle."""

import os

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _brute_sessions(pdf: pd.DataFrame, gap_s: int):
    out = {}
    for uid, grp in pdf.sort_values("ts").groupby("user_id"):
        ts = grp["ts"].values
        idx, n, start = -1, 0, None
        sessions = []
        last = None
        for t in ts:
            if last is None or (t - last) / np.timedelta64(1, "s") > gap_s:
                if n > 0:
                    sessions.append((idx, n, start, last))
                idx += 1
                n = 0
                start = t
            n += 1
            last = t
        sessions.append((idx, n, start, last))
        out[int(uid)] = sessions
    return out


def test_batch_sessionize_matches_bruteforce(spark):
    from raster2dggs_spark.operators.temporal import sessionize_batch

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    gap = 900
    got = sessionize_batch(ev, gap).toPandas()
    pdf = ev.select("user_id", "ts").toPandas()
    exp = _brute_sessions(pdf, gap)
    for uid, sessions in exp.items():
        g = got[got["user_id"] == uid].sort_values("session_idx")
        assert len(g) == len(sessions), uid
        for (idx, n, start, last), row in zip(sessions, g.itertuples(index=False)):
            assert row.session_idx == idx and row.n_events == n
            assert pd.Timestamp(row.start_ts) == pd.Timestamp(start)
            assert pd.Timestamp(row.end_ts) == pd.Timestamp(last)
