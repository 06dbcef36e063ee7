"""Measurement plumbing: spans, per-trigger progress, Spark event logs, RSS.

Everything here is recorded from the benchmark's side of the calls into the
program; nothing is instrumented inside the package.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import resource
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 < q < 1) by linear interpolation, reported
    only when at least ten samples lie beyond it, as the metric contract
    requires; raises otherwise so a run with too few samples fails loudly."""
    xs = sorted(values)
    beyond = len(xs) - math.ceil(q * len(xs))
    if len(xs) < 2 or beyond < 10:
        raise ValueError(
            f"p{round(q * 100)} needs 10 samples beyond it; have {len(xs)} samples"
        )
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Spans:
    """In-memory span log: ``with spans.span("flow.reference_flow_streaming")``.

    Each span records name, start, end, the enclosing span (per thread) and
    a trace id: the id of the outermost span of its thread. ``write`` dumps them as
    JSON at the end of the run; when disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.records.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


class ProgressLog(StreamingQueryListener):
    """Keeps every trigger's progress (``q.recentProgress`` keeps only the
    last 100). ``wait_terminated`` returns once the terminal event of a
    query arrived, so no progress event of that query is still in flight."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._cond:
            self.progress.append(p)
            self._cond.notify_all()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cond:
            self._terminated.add(str(event.runId))
            self._cond.notify_all()

    def of(self, run_id: str) -> list[dict]:
        with self._cond:
            return [p for p in self.progress if p["runId"] == run_id]

    def wait(self, predicate, timeout: float) -> bool:
        with self._cond:
            return self._cond.wait_for(predicate, timeout)

    def wait_terminated(self, run_id: str, timeout: float = 30.0) -> bool:
        return self.wait(lambda: run_id in self._terminated, timeout)


def trigger_end_ms(p: dict) -> float:
    """Wall-clock end of a trigger in epoch milliseconds."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds() * 1000.0
    return epoch + p["durationMs"]["triggerExecution"]


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def summarize_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor seconds, shuffle
    read/write bytes and spilled bytes, from the (finished) event logs
    under ``log_dir``. Jobs without a group land under ``""``."""
    groups: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}

    def bucket(g: str) -> dict[str, float]:
        return groups.setdefault(
            g,
            dict.fromkeys(
                ("jobs", "stages", "tasks", "executor_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes"),
                0.0,
            ),
        )

    # Spark 4 rolls each application's log into eventlog_v2_<app>/events_<n>_<app>
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and os.path.basename(p).startswith("events_")]

    def order(p: str) -> tuple[str, int]:
        return os.path.dirname(p), int(os.path.basename(p).split("_")[1])

    for path in sorted(paths, key=order):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    b = bucket(g)
                    b["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "")
                    bucket(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    b = bucket(g)
                    b["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus Spark's JVM
    (kernel high-water marks, so no sampling is needed)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
