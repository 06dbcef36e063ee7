"""Mergeable-sketch aggregation operators — the 100 TB rollup pattern.

At cluster scale you never recompute distinct counts or quantiles from raw
data per query window; you aggregate small mergeable summaries (HLL /
KLL-style sketches) per partition/day and UNION them. These operators
demonstrate that pattern with Spark's built-in Datasketches functions and
verify the approximations against their exact twins in the same result row,
so the DuckDB oracle can hash-check everything deterministic (the exact
values and the within-bound booleans).

- ``hll_merge_bound``      — per-day HLL sketches of user_id, merged per
                             event_type via ``hll_union_agg`` (the
                             re-aggregation a rollup table does), estimate
                             asserted within the documented HLL error vs
                             exact COUNT(DISTINCT).
- ``quantile_sketch_bound``— ``percentile_approx`` vs exact interpolated
                             ``percentile``, bounded by an exact rank
                             window (p45..p55 must contain approx p50).
- ``heavy_hitters``        — exact frequent-item query (share > threshold)
                             with deterministic ordering; the ground truth
                             a Misra-Gries/CMS pipeline would be validated
                             against.
- ``cms_merge_bound``      — count-min sketch built at day grain and merged
                             cell-wise (CMS is linear, so merge(partials)
                             == direct build, checked exactly), with
                             per-user point estimates asserted >= exact
                             (the CMS never-undercount theorem).

Scale notes: every aggregate here is algebraic/mergeable → map-side partial
aggregation applies; the sketch columns are KBs per group regardless of row
count, so the merge stage shuffles only (groups × sketch_size), never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from ..sources.readers import load_table

HLL_REL_ERR = 0.05  # lgConfigK=12 default: ~1.6% RSE; 5% is >3 sigma


def q_hll_merge_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL rollup: day-grain sketches unioned to type-grain.
    Returns the exact distinct count (oracle-checked) plus the sketch
    estimate's bounded-error verdict (deterministic: Datasketches HLL is
    deterministic for a fixed input set)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum("n").alias("n_events"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    out = merged.join(exact, "event_type")
    rel_err = (
        F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
        / F.col("exact_users").cast("double")
    )
    return out.select(
        "event_type",
        "n_events",
        "exact_users",
        (rel_err <= HLL_REL_ERR).alias("est_within_bound"),
    )


ORACLE_HLL_MERGE_BOUND = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_bound
FROM events
GROUP BY event_type
"""


def q_quantile_sketch_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles vs exact: per returnflag, the exact p50/p95 of
    l_extendedprice (oracle-checked, continuous interpolation) and a
    verdict that ``percentile_approx`` (accuracy 10000) lands inside the
    exact p45..p55 / p90..p99 rank windows."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_exact"),
        F.percentile("l_extendedprice", F.lit(0.45)).alias("_lo50"),
        F.percentile("l_extendedprice", F.lit(0.55)).alias("_hi50"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("_lo95"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("_hi95"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.percentile_approx("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("_a95"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "l_returnflag",
        "n",
        "p50_exact",
        "p95_exact",
        (
            F.col("_a50").between(F.col("_lo50"), F.col("_hi50"))
            & F.col("_a95").between(F.col("_lo95"), F.col("_hi95"))
        ).alias("approx_within_bound"),
    )


ORACLE_QUANTILE_SKETCH_BOUND = """
SELECT l_returnflag,
       count(*) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
       TRUE AS approx_within_bound
FROM lineitem
GROUP BY l_returnflag
"""

def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation maintenance: month-grain metrics computed by
    MERGING day-grain partial aggregates (sum-of-sums, sum-of-counts,
    min-of-mins, max-of-maxes, avg derived at the end) instead of
    re-reading raw data. At 100 TB this is the difference between a rollup
    table refresh touching one day and a full recompute; the DuckDB oracle
    computes the monthly numbers DIRECTLY from raw rows, so the check
    proves merge(partials) == direct — the algebraic-aggregate law the
    whole pattern rests on."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("month", "ts").alias("month"),
        "value",
    )
    daily = ev.groupBy("event_type", "month", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )
    return (
        daily.groupBy("event_type", "month")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v_sum"), 4).alias("value_sum"),
            F.min("v_min").alias("value_min"),
            F.max("v_max").alias("value_max"),
            F.round(F.sum("v_sum") / F.sum("n"), 6).alias("value_avg"),
        )
        .select(
            "event_type",
            F.to_date("month").alias("month"),
            "n_events",
            "value_sum",
            "value_min",
            "value_max",
            "value_avg",
        )
    )


ORACLE_ROLLUP_MERGE = """
SELECT event_type,
       CAST(date_trunc('month', ts) AS DATE) AS month,
       count(*) AS n_events,
       ROUND(sum(value), 4) AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       ROUND(sum(value) / count(*), 6) AS value_avg
FROM events
GROUP BY event_type, date_trunc('month', ts)
"""


CMS_DEPTH = 4
CMS_WIDTH = 512


def q_cms_merge_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event counts per user, exercised the way a
    100 TB rollup uses it: day-grain sketches merged cell-wise to the
    global sketch.

    Two deterministic theorems make this oracle-checkable without DuckDB
    being able to compute xxhash64:

    1. CMS is LINEAR — the cell-wise sum of the per-day sketches equals
       the sketch built directly over all rows (checked exactly:
       ``merge_linear``).
    2. CMS never undercounts — min over the depth rows' cells >= the true
       count (``est_ge_exact``), for every probed key.

    Scale shape: one map-side-combinable groupBy(user, day) touches raw
    rows; everything after operates on per-user partials, and the sketch
    itself is DEPTH x WIDTH rows regardless of data volume — the merge
    stage shuffles KBs. Probes join against the broadcast 2k-row sketch.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    # (user, day) partials feed FOUR branches (daily, direct, probes, and
    # the linearity join); pinned so the raw-events scan + shuffle-agg
    # runs once, not per branch. The partial table is bounded by
    # users x days — small at any corpus scale.
    ud = pin(
        ev.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("d"),
                F.pmod(
                    F.xxhash64(F.col("user_id"), F.lit(j)), F.lit(CMS_WIDTH)
                ).alias("cl"),
            )
            for j in range(CMS_DEPTH)
        ]
    )
    # day-grain sketches — what an incremental rollup table persists
    daily = (
        ud.select("day", "n", F.explode(cells).alias("c"))
        .groupBy("day", F.col("c.d").alias("depth"), F.col("c.cl").alias("cell"))
        .agg(F.sum("n").alias("cnt"))
    )
    merged = daily.groupBy("depth", "cell").agg(F.sum("cnt").alias("cnt"))
    direct = (
        ud.select("n", F.explode(cells).alias("c"))
        .groupBy(F.col("c.d").alias("depth"), F.col("c.cl").alias("cell"))
        .agg(F.sum("n").alias("cnt"))
    )
    mismatches = (
        merged.withColumnRenamed("cnt", "cnt_m")
        .join(direct.withColumnRenamed("cnt", "cnt_d"), ["depth", "cell"], "full")
        .filter(~F.col("cnt_m").eqNullSafe(F.col("cnt_d")))
        .agg(F.count(F.lit(1)).alias("bad"))
    )
    probes = (
        ud.groupBy("user_id")
        .agg(F.sum("n").alias("exact_n"))
        .filter(F.col("user_id") < 20)
    )
    est = (
        probes.select(
            "user_id",
            "exact_n",
            F.explode(cells).alias("c"),
        )
        .join(
            F.broadcast(merged),
            (F.col("c.d") == F.col("depth")) & (F.col("c.cl") == F.col("cell")),
        )
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est"))
    )
    return est.join(F.broadcast(mismatches)).select(
        "user_id",
        "exact_n",
        (F.col("est") >= F.col("exact_n")).alias("est_ge_exact"),
        (F.col("bad") == 0).alias("merge_linear"),
    )


ORACLE_CMS_MERGE_BOUND = """
SELECT user_id, count(*) AS exact_n,
       TRUE AS est_ge_exact,
       TRUE AS merge_linear
FROM events
WHERE user_id < 20
GROUP BY user_id
"""


HH_FACTOR = 1.05  # report users with > 1.05x the mean per-user event count


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: users with more than HH_FACTOR times the mean
    per-user event count (mean-relative, so the selectivity is stable
    across scale factors — a fixed share threshold degenerates as the user
    population grows). One groupBy(user_id) with map-side partials, the
    1-row global stats broadcast back, deterministic result. This is the
    exactness baseline a CMS/Misra-Gries sketch pipeline is validated
    against at scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    stats = counts.agg(
        F.sum("n_events").alias("total"),
        F.count(F.lit(1)).alias("n_users"),
    )
    avg = F.col("total").cast("double") / F.col("n_users").cast("double")
    return (
        counts.join(F.broadcast(stats))
        .filter(F.col("n_events").cast("double") > F.lit(HH_FACTOR) * avg)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events").cast("double") / avg, 6).alias(
                "vs_mean"
            ),
        )
    )


ORACLE_HEAVY_HITTERS = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
),
stats AS (
  SELECT sum(n_events) AS total, count(*) AS n_users FROM counts
)
SELECT user_id, n_events,
       ROUND(CAST(n_events AS DOUBLE)
             / (CAST(total AS DOUBLE) / CAST(n_users AS DOUBLE)), 6)
         AS vs_mean
FROM counts, stats
WHERE CAST(n_events AS DOUBLE)
      > {HH_FACTOR} * CAST(total AS DOUBLE) / CAST(n_users AS DOUBLE)
"""
