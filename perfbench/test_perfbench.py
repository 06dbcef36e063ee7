"""Tests of the benchmark's own pieces; none starts Spark.

Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

import gen
import oracle
from measure import percentile, summarize_event_log


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_pool(str(tmp_path / "a"), 2, 500, seed=7)
    b = gen.write_pool(str(tmp_path / "b"), 2, 500, seed=7)
    c = gen.write_pool(str(tmp_path / "c"), 2, 500, seed=8)
    for pa, pb, pc in zip(a, b, c):
        assert open(pa, "rb").read() == open(pb, "rb").read()
        assert open(pa, "rb").read() != open(pc, "rb").read()


def test_generator_mirrors_the_fixture_mix(tmp_path):
    (path,) = gen.write_pool(str(tmp_path), 1, 40_000, seed=3)
    facts = oracle.aggregate_files([path])[path]
    shares = {cat: n / facts.kept for cat, (n, _) in facts.cats.items()}
    assert shares["Short stay"] == pytest.approx(0.888 + 0.003, abs=0.01)
    assert shares["Standard stay"] == pytest.approx(0.10, abs=0.01)
    assert shares["Standard extended stay"] == pytest.approx(0.006, abs=0.003)
    assert shares["Long stay"] == pytest.approx(0.003, abs=0.002)
    # not-a-date, empty check-in and co <= ci rows: 0.2% in the fixture
    assert shares["Erroneous data"] == pytest.approx(0.002, abs=0.0015)
    # hotel ids saturate at 120 per bucket
    assert len(facts.cats["Short stay"][1]) == 120
    # the null-id share is dropped by the enrichment's filter
    assert 1 - facts.kept / facts.rows == pytest.approx(gen.NULL_ID_FRAC, abs=0.002)


def test_frame_covers_every_malformed_shape():
    df = gen.gen_expedia_frame(20_000, seed=1)
    assert (df["srch_ci"] == "not-a-date").any()
    assert (df["srch_ci"] == "").any()
    ci = pd.to_datetime(df["srch_ci"], format="%Y-%m-%d", errors="coerce")
    co = pd.to_datetime(df["srch_co"], format="%Y-%m-%d")
    assert ((co - ci).dt.days <= 0).any()
    assert df["id"].isna().any()


def test_stream_backlog_links_the_pool_in_seeded_order(tmp_path):
    pool, parts = gen.stream_backlog(str(tmp_path), "w", 3, 100, [5, 4], seed=2)
    again = gen.stream_backlog(str(tmp_path), "w", 3, 100, [5, 4], seed=2)
    assert (pool, parts) == again
    assert [len(picks) for _, picks in parts] == [5, 4]
    assert all(p in pool for _, picks in parts for p in picks)


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        percentile(list(range(19)), 0.5)
    assert percentile(list(range(20)), 0.5) == pytest.approx(9.5)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    assert percentile(list(range(100)), 0.9) == pytest.approx(89.1)


def test_combine_and_checks():
    a = oracle.FileAggregate(3, 3, {"Short stay": (2, {1, 2}), "Long stay": (1, {9})})
    b = oracle.FileAggregate(2, 1, {"Short stay": (1, {2})})
    want = oracle.combine([a, b, a])
    assert want == {"Short stay": (5, 2), "Long stay": (2, 1)}
    assert oracle.check_exact(want, want) == []
    assert oracle.check_exact({"Short stay": (5, 2)}, want)
    assert oracle.check_approx({"Short stay": (5, 3), "Long stay": (2, 1)}, want, 0.05) == []
    assert oracle.check_approx({"Short stay": (4, 2), "Long stay": (2, 1)}, want, 0.05)


def test_event_log_summary_groups_jobs(tmp_path):
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    (app / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_app").write_text("")
    groups = summarize_event_log(str(tmp_path))
    assert groups["g"] == {"jobs": 1, "stages": 1, "tasks": 1, "executor_s": 1.5,
                           "shuffle_read_bytes": 10, "shuffle_write_bytes": 7,
                           "spill_bytes": 0}
    assert groups[""]["jobs"] == 1


def test_rates_are_medians_so_one_stall_does_not_move_them():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import workloads

    def trigger(batch: int, start_ms: int, duration_ms: int) -> dict:
        stamp = f"2026-01-01T00:00:{start_ms // 1000:02d}.{start_ms % 1000:03d}Z"
        return {"batchId": batch, "numInputRows": 990, "timestamp": stamp,
                "durationMs": {"triggerExecution": duration_ms}}

    # one file per trigger, each 500 ms apart; trigger 3 stalls for 4 s
    starts = [0, 500, 1000, 1500, 5500, 6000, 6500]
    triggers = [trigger(i, t, 500 if i != 3 else 4000) for i, t in enumerate(starts)]
    picks = [f"f{i}" for i in range(len(triggers))]
    aggs = {p: SimpleNamespace(rows=1000) for p in picks}
    assert workloads._events_per_s(triggers, picks, aggs, warmup=1) == pytest.approx(2000.0)

    pulls = [(t, t + 0.2, 10) for t in (0.0, 0.25, 0.5, 3.0, 3.25, 3.5)]
    assert workloads._pull_rate(pulls, rows_per_pull=20_000) == pytest.approx(80_000.0)
