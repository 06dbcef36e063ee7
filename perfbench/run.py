"""Reference-flow benchmark: stream drains and ksql pulls, end to end and per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_small_triggers --seed 1 --seconds 12 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``stream_small_triggers``: ``flow.reference_flow_streaming`` drains a
  backlog of 1k-record JSON files, one file per trigger;
- ``ksql_pull``: one closed-loop client POSTing the reference's push-query
  payload to ``ksql_rest.KsqlRestServer`` over static ingest files.

``--workload all`` runs the two one after another, each in a process of
its own, and fails if any of them does. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it names every metric with its unit, plus
figures for a reader only. Inputs, checkpoints, event logs and the span log
live under ``.perfbench_work/`` in the checkout. The process exits non-zero
if a correctness gate fails or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _environment() -> None:
    """Spark gets half the cores this process may use, as task slots; the
    other half is left to the JVM's compiler and GC threads, the Python
    driver, the REST server and its client, which otherwise queue behind
    the tasks. In back-to-back sets of five runs on 4 vCPUs, two slots
    spread the stream rate 6% (interquartile range over the median) against
    11% with four, and the pull rate 7% against 12%, at equal or better
    throughput. Every temporary file the JVM and Python write stays inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


WORKLOADS = ("stream_small_triggers", "ksql_pull")


def _run_all(argv: list[str]) -> int:
    """Each workload in a fresh process (each needs its own JVM)."""
    i = argv.index("--workload")
    failed = []
    for w in WORKLOADS:
        child = argv[:i] + ["--workload", w] + argv[i + 2:]
        if subprocess.run([sys.executable, os.path.abspath(__file__), *child]).returncode:
            failed.append(w)
    if failed:
        print(f"failed: {failed}", file=sys.stderr)
    return 1 if failed else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        return _run_all(argv)
    units = _metric_units(bool(args.trace))
    sys.path.insert(0, ROOT)
    import workloads  # imports the program: fails fast without it
    from runtime import Runtime

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {WORKLOADS + ('all',)}")
    run = workloads.pull_workload if args.workload == "ksql_pull" else workloads.stream_workload
    if args.seconds < 2:
        ap.error("--seconds must be at least 2")
    for sub in ("checkpoints", "eventlog", "spark-local"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    _environment()

    rt = Runtime(traced=bool(args.trace))
    t0 = time.perf_counter()
    try:
        e2e, layers = run(args, rt, WORK)
    finally:
        rt.close()
        rt.log("stopped")
        rt.spans.write(os.path.join(WORK, f"spans-{args.workload}.json"))
    measured = layers if args.trace else e2e
    missing = sorted(set(units) - set(measured))
    if missing:
        raise RuntimeError(f"{args.workload} did not measure {missing}")
    metrics = {name: float(measured[name]) for name in units}
    for err in rt.errors:
        print(f"correctness: {err}", file=sys.stderr)
    correct = rt.failed == 0
    summary = {name: f"{value:.6g} {units[name]}" for name, value in metrics.items()}
    summary.update({k: f"{v:.6g}" for k, v in measured.items() if k not in units})
    summary["ops_failed_frac"] = f"{rt.failed / rt.attempted:.6g} frac"
    summary["wall_s"] = f"{time.perf_counter() - t0:.3f} s"
    print(f"{args.workload} seed={args.seed} " + json.dumps(summary))
    print(json.dumps({
        "correct": correct,
        "attempted": rt.attempted,
        "failed": rt.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
