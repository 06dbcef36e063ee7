"""The two workloads: a stream drain and a ksql pull loop.

Each workload function takes the parsed arguments and a ``Runtime`` and
returns ``(end_to_end, per_layer)`` metric dicts; correctness failures are
tallied on the runtime. The program is driven only through its public
functions: ``session.get_spark``, ``flow.reference_flow_streaming`` /
``reference_flow_batch``, ``ksql.KsqlContext`` behind
``ksql_rest.KsqlRestServer``, and the source/enrich/projection/aggregate
functions the batch twin composes.

A traced run measures the workload in three short parts, untraced, traced
and untraced again, each on a fresh session; the traced part runs with
Spark's event log on and spans around each call into the program, and
``trace.overhead_frac`` compares it with the mean of the two others. The
run then profiles every layer over the workload's own input: the batch
twin's cumulative prefixes, and a short pass through whichever of the
stream or ksql surfaces the workload does not drive itself, so each traced
run reports every per-layer metric.
"""

from __future__ import annotations

import inspect
import json
import os
import time
import urllib.error
import urllib.request
from statistics import median

from m12_kafkastreams_python_azure_spark import flow
from m12_kafkastreams_python_azure_spark.ksql import KsqlContext
from m12_kafkastreams_python_azure_spark.ksql_rest import KsqlRestServer
from m12_kafkastreams_python_azure_spark.operators.aggregate import hotels_count
from m12_kafkastreams_python_azure_spark.operators.enrich import enrich_expedia
from m12_kafkastreams_python_azure_spark.schemas import EXPEDIA_SCHEMA
from m12_kafkastreams_python_azure_spark.sources.readers import mask_field, read_ingest_files
from m12_kafkastreams_python_azure_spark.streaming.pipeline import expedia_stream_projection

import gen
import oracle
from measure import percentile, summarize_event_log, trigger_end_ms

SETUPS = 3  # set-ups per untraced run; setup_s is their median (a traced run does one)
# Triggers left out of every metric at the start of a drain: the first
# drain in a JVM runs until the JIT has compiled most of the trigger path.
# With two task slots on 4 vCPUs trigger times fall about 2x over the first
# ~60 triggers and differ most between runs while they fall: over 8 runs the
# median rate of triggers 40-70 spread 12% (interquartile range over the
# median), of triggers 60-100 4%. A later drain only pays its new query's
# first triggers.
WARMUP_COLD, WARMUP_WARM = 60, 3
MIN_MEASURED = 20  # p50 needs ten samples beyond it
TRACED_MEASURED = 4  # measured triggers per part of a traced run
SINK = "hotels_count"

# The reference's three ksqlDB REST payloads (ci_cd/ksql/*.json).
CREATE_STREAM = json.dumps({
    "ksql": "CREATE STREAM expedia_stream (id BIGINT, hotel_id BIGINT, "
            "stay_category VARCHAR) WITH (KAFKA_TOPIC='expedia_ext', VALUE_FORMAT='JSON');",
    "streamsProperties": {},
})
CREATE_TABLE = json.dumps({
    "ksql": "CREATE TABLE hotels_count AS SELECT stay_category, COUNT(hotel_id) AS "
            "hotels_amount, COUNT_DISTINCT(hotel_id) AS distinct_hotels FROM "
            "expedia_stream GROUP BY stay_category;",
    "streamsProperties": {},
})
SELECT_HOTELS = json.dumps({
    "ksql": "SELECT * FROM hotels_count EMIT CHANGES;",
    "streamsProperties": {},
})

# The pull loop is closed with one client: it sends its next pull when the
# last one returns. Two clients released together tended to stay in
# lock-step, fighting over the same cores, and their throughput came out
# bimodal across runs.
PULL_FILES, PULL_ROWS_PER_FILE = 4, 5_000
# Seconds of pulls before the clock starts: with two task slots pull times
# fall about 1.3x over the first ~30 s in a fresh JVM (the JIT) and are flat
# after; over 6 runs the median pull rate spread 9% (interquartile range
# over the median) when measured from 14 s, 5% from 30 s. A later session
# pays only its first pulls.
PULL_WARMUP_COLD_S, PULL_WARMUP_WARM_S = 30.0, 1.5
PROBE_PULLS = 6  # pulls in a stream workload's traced layer profile
TWIN_REPS = 5  # timed passes per batch-twin prefix; the median is reported


# The stream backlog: files of ROWS_PER_FILE records drawn from a pool of
# POOL_FILES, one file per trigger. FILES_PER_S is the nominal warm drain
# rate with two task slots; it turns --seconds into measured triggers.
ROWS_PER_FILE, POOL_FILES, FILES_PER_S = 1_000, 8, 2.5


def _flow_rsd() -> float:
    return inspect.signature(flow.reference_flow_streaming).parameters["rsd"].default


# -- stream drains --------------------------------------------------------
def _start_stream(rt, src: str, ck: str):
    with rt.spans.span("flow.reference_flow_streaming"):
        return flow.reference_flow_streaming(rt.spark, src, ck, name=SINK)


def _fold_sink(spark) -> dict[str, tuple[int, int]]:
    """The update-mode sink holds one change row per (key, trigger); both
    counters only grow, so the latest value per key is the max."""
    latest: dict[str, tuple[int, int]] = {}
    for r in spark.table(SINK).collect():
        a, d = latest.get(r.stay_category, (0, 0))
        latest[r.stay_category] = (max(a, r.hotels_amount), max(d, r.distinct_hotels))
    return latest


def _finish_drain(rt, q, picks: list[str], aggs: dict, deadline: float) -> list[dict]:
    """Wait until the query has read every backlog file, check its result
    against the oracle, stop it, and return its triggers by batch id."""
    run_id = str(q.runId)

    def drained() -> bool:  # one file per trigger
        return sum(p["numInputRows"] > 0 for p in rt.progress.of(run_id)) >= len(picks)

    finished = rt.progress.wait(drained, max(1.0, deadline - time.monotonic()))
    errors = []
    if finished:
        want = oracle.combine([aggs[p] for p in picks])
        errors = oracle.check_approx(_fold_sink(rt.spark), want, _flow_rsd())
    else:
        errors = [f"backlog of {len(picks)} files not drained before the deadline"]
    q.stop()
    rt.progress.wait_terminated(run_id)
    if q.exception() is not None:
        errors.append(f"query failed: {q.exception()}")
    triggers = sorted(rt.progress.of(run_id), key=lambda p: p["batchId"])
    nonempty = [p for p in triggers if p["numInputRows"] > 0]
    if finished and len(nonempty) != len(picks):
        errors.append(f"{len(nonempty)} non-empty triggers for {len(picks)} files")
    rt.record(errors, "stream drain", ops=max(1, len(nonempty)))
    return triggers


def _measured(triggers: list[dict], warmup: int) -> list[dict]:
    nonempty = [p for p in triggers if p["numInputRows"] > 0]
    return nonempty[warmup:]


def _events_per_s(triggers: list[dict], picks: list[str], aggs: dict, warmup: int) -> float:
    """Input records per second over the measured triggers: the median, over
    them, of the records a trigger read divided by its cycle, from the end
    of the previous non-empty trigger to its own end (so the gap between
    triggers and any empty trigger in it count). A median, so a trigger
    stalled by a GC pause or a burst of load from outside does not move it.
    The records are counted from the files (the ``i``-th non-empty trigger
    read ``picks[i]``): Spark's ``numInputRows`` counts rows after the
    pushed-down null filter."""
    nonempty = [p for p in triggers if p["numInputRows"] > 0]
    rates = []
    for i in range(max(warmup, 1), len(nonempty)):
        cycle_ms = trigger_end_ms(nonempty[i]) - trigger_end_ms(nonempty[i - 1])
        rates.append(aggs[picks[i]].rows * 1000.0 / cycle_ms)
    return median(rates)


def _stream_layers(triggers: list[dict], jobs: float, warmup: int) -> dict[str, float]:
    """Per-trigger phases and state metrics over the measured triggers.
    Phase times are means, so they add up to the mean trigger time (Spark
    reports whole milliseconds, so a median would often repeat exactly)."""
    measured = _measured(triggers, warmup)
    first = measured[0]["batchId"]
    window = [p for p in triggers if p["batchId"] >= first]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs)

    def phase(key: str) -> float:
        return mean([p["durationMs"].get(key, 0) for p in measured])

    def state(key: str) -> list[float]:
        return [p["stateOperators"][0][key] for p in measured if p["stateOperators"]]

    return {
        "stream.latest_offset_ms": phase("latestOffset"),
        "stream.get_batch_ms": phase("getBatch"),
        "stream.query_planning_ms": phase("queryPlanning"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.commit_offsets_ms": phase("commitOffsets"),
        "stream.jobs_per_trigger": jobs / len(triggers),
        "stream.state_commit_ms": mean(state("commitTimeMs")),
        "stream.state_rows": max(state("numRowsTotal")),
        "stream.state_memory_bytes": max(state("memoryUsedBytes")),
        "stream.state_store_instances": median(state("numStateStoreInstances")),
        "stream.rows_per_trigger": median([p["numInputRows"] for p in measured]),
        "stream.nonempty_trigger_frac": len(measured) / len(window),
    }


def _drain(rt, src: str, picks: list[str], aggs: dict, ck: str, deadline: float):
    """Start the flow on ``src`` and drain it; returns the triggers, the
    query's run id and the number of Spark jobs it ran."""
    q = _start_stream(rt, src, ck)
    run_id = str(q.runId)
    triggers = _finish_drain(rt, q, picks, aggs, deadline)
    jobs = len(rt.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
    return triggers, run_id, jobs


def _end_to_end(rt, setup_s: list[float], rate: float, lat_ms: list[float]) -> dict:
    """The end-to-end metrics, plus figures printed for a reader only:
    p90 latency when at least ten samples lie beyond it, the sample count,
    and peak RSS of Spark's JVM plus Python (the JVM heap grows by G1
    decisions, so it varies by a third across runs of the same code)."""
    out = {
        "setup_s": median(setup_s),
        "events_per_s": rate,
        "latency_p50_ms": percentile(lat_ms, 0.5),
        "latency_samples": len(lat_ms),
        "peak_rss_mb": rt.peak_rss_mb(),
    }
    if len(lat_ms) >= 100:
        out["latency_p90_ms"] = percentile(lat_ms, 0.9)
    return out


def _overhead_frac(untraced_rates: list[float], traced_rate: float) -> float:
    """Traced time per event over the mean untraced time per event, minus
    one. Untraced parts run before and after the traced one, so a drift
    over the run (the JIT warming up) cancels to first order."""
    untraced = sum(1.0 / r for r in untraced_rates) / len(untraced_rates)
    return (1.0 / traced_rate) / untraced - 1.0


def stream_workload(args, rt, work: str) -> tuple[dict, dict]:
    deadline = time.monotonic() + 165
    if rt.traced:  # three parts: untraced, traced, untraced
        parts = [WARMUP_COLD + TRACED_MEASURED] + [WARMUP_WARM + TRACED_MEASURED] * 2
    else:
        parts = [WARMUP_COLD + max(MIN_MEASURED, round(args.seconds * FILES_PER_S))]
    pool, sources = gen.stream_backlog(
        os.path.join(work, "inputs"), args.workload, POOL_FILES, ROWS_PER_FILE, parts, args.seed,
    )
    aggs = oracle.aggregate_files(pool)
    ck = os.path.join(work, "checkpoints")
    rt.log("inputs ready")

    # Set-up queries read an empty directory, so stopping them interrupts
    # no trigger; the measured query then starts on the last session.
    empty = os.path.join(work, "empty-source")
    os.makedirs(empty, exist_ok=True)
    setup_s = []
    for i in range(1 if rt.traced else SETUPS):
        if i:
            rt.stop_spark()
        t0 = time.perf_counter()
        rt.start_spark()
        q = _start_stream(rt, empty, os.path.join(ck, f"setup{i}"))
        setup_s.append(time.perf_counter() - t0)
        q.stop()
    rt.log("set-ups done")
    (src, picks), *rest = sources
    triggers, _, _ = _drain(rt, src, picks, aggs, os.path.join(ck, "part0"), deadline)
    rt.log("drain done")
    rate = _events_per_s(triggers, picks, aggs, WARMUP_COLD)
    if not rt.traced:
        lat = [p["durationMs"]["triggerExecution"] for p in _measured(triggers, WARMUP_COLD)]
        return _end_to_end(rt, setup_s, rate, lat), {}

    log_dir = os.path.join(work, "eventlog")
    rates = [rate]
    for part, (src, picks) in enumerate(rest, start=1):
        traced = part == 1
        rt.stop_spark()
        rt.start_spark(event_log_dir=log_dir if traced else None)
        rt.spans.enabled = traced
        result = _drain(rt, src, picks, aggs, os.path.join(ck, f"part{part}"), deadline)
        part_rate = _events_per_s(result[0], picks, aggs, WARMUP_WARM)
        if traced:
            (traced_triggers, traced_run, traced_jobs), traced_rate = result, part_rate
        else:
            rates.append(part_rate)
    rt.log("traced drains done")
    rt.spans.enabled = True
    layers = batch_twin(rt, pool[0], [aggs[pool[0]]])
    rt.log("batch twin done")
    layers.update(ksql_probe(rt, pool[0], [aggs[pool[0]]]))
    rt.log("ksql probe done")
    layers.update(_stream_layers(traced_triggers, traced_jobs, WARMUP_WARM))
    layers.update(_spark_metrics(summarize_event_log(log_dir).get(traced_run, {})))
    layers["session.get_spark_s"] = median(rt.get_spark_s)
    layers["trace.overhead_frac"] = _overhead_frac(rates, traced_rate)
    return {}, layers


def _spark_metrics(group: dict) -> dict[str, float]:
    keys = ("jobs", "stages", "tasks", "executor_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    return {f"spark.{k}": group.get(k, 0.0) for k in keys}


# -- ksql pulls -----------------------------------------------------------
class _TimedFrame:
    """Times ``collect`` on the DataFrame a ksql statement returned, and
    tags its jobs with the pull job group."""

    def __init__(self, df, rt) -> None:
        self._df = df
        self._rt = rt

    def limit(self, n: int) -> "_TimedFrame":
        return _TimedFrame(self._df.limit(n), self._rt)

    def collect(self):
        self._rt.spark.sparkContext.setJobGroup("ksql.pull", "ksql pull")
        with self._rt.spans.span("ksql.collect"):
            return self._df.collect()

    def __getattr__(self, name: str):
        return getattr(self._df, name)


class _TimedKsql:
    """What the REST server sees as its ``KsqlContext``: times ``execute``."""

    def __init__(self, ctx, rt) -> None:
        self._ctx = ctx
        self._rt = rt

    def execute(self, payload: str):
        with self._rt.spans.span("ksql.execute"):
            df = self._ctx.execute(payload)
        return None if df is None else _TimedFrame(df, self._rt)


def _post(port: int, path: str, payload: str) -> tuple[int, bytes]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=payload.encode(), method="POST",
        headers={"Content-Type": "application/vnd.ksql.v1+json; charset=utf-8"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()


def _pull_errors(status: int, body: bytes, want: dict) -> list[str]:
    if status != 200:
        return [f"HTTP {status}: {body[:200]!r}"]
    got = {}
    for r in json.loads(body):
        cat, amount, distinct = r["row"]["columns"]
        got[cat] = (amount, distinct)
    return oracle.check_exact(got, want)


def _start_ksql(rt, input_dir: str):
    """The ksql server over ``input_dir``: topic ``expedia_ext`` holds the
    masked, enriched records; both DDL payloads go through ``/ksql``."""
    ctx = KsqlContext(rt.spark)
    topic = enrich_expedia(
        read_ingest_files(rt.spark, input_dir, EXPEDIA_SCHEMA, mask=flow.MASK)
    )
    ctx.register_topic("expedia_ext", topic)
    with rt.spans.span("ksql_rest.KsqlRestServer"):
        server = KsqlRestServer(_TimedKsql(ctx, rt) if rt.spans.enabled else ctx)
    try:
        for payload in (CREATE_STREAM, CREATE_TABLE):
            with rt.spans.span("ksql_rest.post", path="/ksql"):
                status, body = _post(server.port, "/ksql", payload)
            ok = status == 200 and json.loads(body)[0]["status"] == "SUCCESS"
            rt.record([] if ok else [f"HTTP {status}: {body[:200]!r}"], "ksql DDL")
    except BaseException:
        server.close()
        raise
    return server


def _closed_loop(rt, port: int, want: dict, seconds: float, warmup_s: float) -> list:
    """One client POSTs the push-query payload back to back: for
    ``warmup_s`` unmeasured, then for ``seconds`` measured. Returns the
    measured ``(start, end, body_bytes)`` per pull."""

    def pull() -> tuple[float, float, int]:
        t0 = time.perf_counter()
        with rt.spans.span("ksql_rest.post", path="/query"):
            status, body = _post(port, "/query", SELECT_HOTELS)
        t1 = time.perf_counter()
        rt.record(_pull_errors(status, body, want), "ksql pull")
        return t0, t1, len(body)

    warm_until = time.perf_counter() + warmup_s
    while time.perf_counter() < warm_until:
        pull()
    start = time.perf_counter()
    results = []
    while time.perf_counter() < start + seconds:
        results.append(pull())
    return results


def _pull_rate(results: list, rows_per_pull: int) -> float:
    """Records aggregated per second: the records one pull aggregates over
    the median cycle of the loop, from a pull's start to the next one's (a
    median, for the same reason as ``_events_per_s``)."""
    cycles = [b[0] - a[0] for a, b in zip(results, results[1:])]
    return rows_per_pull / median(cycles)


def pull_workload(args, rt, work: str) -> tuple[dict, dict]:
    files = gen.static_input(
        os.path.join(work, "inputs"), args.workload, PULL_FILES, PULL_ROWS_PER_FILE, args.seed
    )
    aggs = oracle.aggregate_files(files)
    want = oracle.combine(list(aggs.values()))
    rows_per_pull = sum(a.rows for a in aggs.values())
    input_dir = os.path.dirname(files[0])
    rt.log("inputs ready")

    setup_s = []
    for i in range(1 if rt.traced else SETUPS):
        if i:
            server.close()
            rt.stop_spark()
        t0 = time.perf_counter()
        rt.start_spark()
        server = _start_ksql(rt, input_dir)
        setup_s.append(time.perf_counter() - t0)
    rt.log("set-ups done")
    seconds = args.seconds / 4 if rt.traced else args.seconds
    try:
        results = _closed_loop(rt, server.port, want, seconds, PULL_WARMUP_COLD_S)
    finally:
        server.close()
    rate = _pull_rate(results, rows_per_pull)
    if not rt.traced:
        lat = [(t1 - t0) * 1000.0 for t0, t1, _ in results]
        return _end_to_end(rt, setup_s, rate, lat), {}

    # untraced, traced (event log and spans), untraced
    log_dir = os.path.join(work, "eventlog")
    rates = [rate]
    for part in (1, 2):
        traced = part == 1
        rt.stop_spark()
        rt.start_spark(event_log_dir=log_dir if traced else None)
        rt.spans.enabled = traced
        server = _start_ksql(rt, input_dir)
        try:
            results = _closed_loop(rt, server.port, want, seconds, PULL_WARMUP_WARM_S)
        finally:
            server.close()
        if traced:
            traced_rate = _pull_rate(results, rows_per_pull)
            layers = _ksql_layers(rt, results, since=min(r[0] for r in results))
        else:
            rates.append(_pull_rate(results, rows_per_pull))
    rt.log("traced pulls done")
    rt.spans.enabled = True
    layers.update(batch_twin(rt, input_dir, list(aggs.values())))
    rt.log("batch twin done")
    layers.update(stream_probe(rt, work, files, aggs))
    rt.log("stream probe done")
    layers.update(_spark_metrics(summarize_event_log(log_dir).get("ksql.pull", {})))
    layers["session.get_spark_s"] = median(rt.get_spark_s)
    layers["trace.overhead_frac"] = _overhead_frac(rates, traced_rate)
    return {}, layers


def _ksql_layers(rt, results: list, since: float) -> dict[str, float]:
    """ksql and REST layer times over the traced pulls sent from ``since``
    on: medians of execute and collect; REST overhead as the mean round
    trip minus the mean execute and collect (means add up, medians do not)."""
    def durations(name: str) -> list[float]:
        return [r["end"] - r["start"] for r in rt.spans.records
                if r["name"] == name and r["start"] >= since]

    execute, collect = durations("ksql.execute"), durations("ksql.collect")
    posts = durations("ksql_rest.post")
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    return {
        "ksql.execute_ms": median(execute) * 1000.0,
        "ksql.collect_ms": median(collect) * 1000.0,
        "rest.overhead_ms": (mean(posts) - mean(execute) - mean(collect)) * 1000.0,
        "rest.response_bytes": median([b for _, _, b in results]),
    }


# -- layer profiles in a traced run ---------------------------------------
def ksql_probe(rt, input_path: str, aggs: list) -> dict[str, float]:
    """PROBE_PULLS sequential pulls over one trigger's file (stream
    workloads do not drive the ksql surface themselves)."""
    want = oracle.combine(aggs)
    server = _start_ksql(rt, input_path)
    results = []
    since = time.perf_counter()
    try:
        for _ in range(PROBE_PULLS):
            t0 = time.perf_counter()
            with rt.spans.span("ksql_rest.post", path="/query"):
                status, body = _post(server.port, "/query", SELECT_HOTELS)
            rt.record(_pull_errors(status, body, want), "ksql probe pull")
            results.append((t0, time.perf_counter(), len(body)))
    finally:
        server.close()
    return _ksql_layers(rt, results, since)


def stream_probe(rt, work: str, files: list[str], aggs: dict) -> dict[str, float]:
    """Drain the ksql workload's files as a stream, one file per trigger
    (the ksql workload does not drive the streaming surface itself). Only
    the query's first trigger is left out: there are PULL_FILES in all."""
    triggers, _, jobs = _drain(
        rt, os.path.dirname(files[0]), files, aggs,
        os.path.join(work, "checkpoints", "probe"), time.monotonic() + 60,
    )
    return _stream_layers(triggers, jobs, warmup=1)


def batch_twin(rt, input_dir: str, aggs: list) -> dict[str, float]:
    """The batch twin of one operation: ``input_dir`` is one trigger's file
    or one pull's input directory, ``aggs`` its oracle facts.

    Cumulative prefixes of the batch flow, each run to a ``noop`` sink:
    scan, +mask, +enrich, +projection, +aggregate (exact and approx), and
    the whole ``reference_flow_batch``. A layer's time is its prefix's time
    minus the previous prefix's; Catalyst optimizes each prefix as a whole,
    so a layer that lets the scan prune columns can come out negative."""
    spark = rt.spark
    raw = read_ingest_files(spark, input_dir, EXPEDIA_SCHEMA)
    masked = mask_field(raw, *flow.MASK)
    enriched = enrich_expedia(masked)
    projected = expedia_stream_projection(enriched)
    prefixes = {
        "scan": raw,
        "mask": masked,
        "enrich": enriched,
        "project": projected,
        "aggregate_exact": hotels_count(projected),
        "aggregate_approx": hotels_count(projected, exact=False, rsd=_flow_rsd()),
        "flow_batch": flow.reference_flow_batch(spark, input_dir),
    }
    got = {r.stay_category: (r.hotels_amount, r.distinct_hotels)
           for r in prefixes["flow_batch"].collect()}
    rt.record(oracle.check_exact(got, oracle.combine(aggs)), "batch flow")

    spark.sparkContext.setJobGroup("layers", "batch twin prefixes")
    times: dict[str, list[float]] = {k: [] for k in prefixes}
    for rep in range(TWIN_REPS + 1):  # the first pass warms up and is dropped
        for name, df in prefixes.items():
            t0 = time.perf_counter()
            with rt.spans.span(f"layer.{name}"):
                df.write.format("noop").mode("overwrite").save()
            if rep:
                times[name].append(time.perf_counter() - t0)
    spark.sparkContext.setJobGroup("", "")
    t = {k: median(v) for k, v in times.items()}
    return {
        "layer.scan_s": t["scan"],
        "layer.mask_s": t["mask"] - t["scan"],
        "layer.enrich_s": t["enrich"] - t["mask"],
        "layer.project_s": t["project"] - t["enrich"],
        "layer.aggregate_exact_s": t["aggregate_exact"] - t["project"],
        "layer.aggregate_approx_s": t["aggregate_approx"] - t["project"],
        "layer.flow_batch_s": t["flow_batch"],
    }
