"""One benchmark process's Spark lifetime, operation tally and spans.

The session always comes from ``session.get_spark`` at its defaults; the
only conf the benchmark adds is Spark's event log, and only in a traced run.
"""

from __future__ import annotations

import subprocess
import sys
import time

from m12_kafkastreams_python_azure_spark.session import get_spark

from measure import ProgressLog, Spans, event_log_conf, peak_rss_mb


class Runtime:
    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans = Spans(False)  # switched on for a traced run's traced half
        self.progress = ProgressLog()
        self.spark = None
        self.jvm_pid: int | None = None
        self.get_spark_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._t0 = time.perf_counter()

    def log(self, what: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {what}", file=sys.stderr, flush=True)

    # -- operations -------------------------------------------------------
    def record(self, errors: list[str], what: str, ops: int = 1) -> None:
        """Count ``ops`` operations whose joint result was checked;
        ``errors`` empty means it was correct, else all of them failed."""
        self.attempted += ops
        if errors:
            self.failed += ops
            self.errors.append(f"{what}: " + "; ".join(errors)[:400])

    # -- Spark lifetime ---------------------------------------------------
    def start_spark(self, event_log_dir: str | None = None):
        t0 = time.perf_counter()
        with self.spans.span("session.get_spark"):
            if event_log_dir is None:
                spark = get_spark()
            else:
                spark = get_spark(extra_conf=event_log_conf(event_log_dir))
        self.get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        spark.streams.addListener(self.progress)
        if self.jvm_pid is None:
            self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.spark = spark
        return spark

    def stop_spark(self) -> None:
        spark, self.spark = self.spark, None
        if spark is None:
            return
        for q in spark.streams.active:
            q.stop()
        spark.streams.removeListener(self.progress)
        spark.stop()

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.jvm_pid)

    def close(self) -> None:
        """Stop Spark, then its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.stop_spark()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
