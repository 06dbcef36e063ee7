"""Plan-shape regression tests: the scale discipline is assertable.

These parse explain("formatted") and fail if a future change silently
de-optimizes a plan (lost pushdown, lost broadcast, lost column pruning).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.operators import analytics as A
from m12_kafkastreams_python_azure_spark.plans.checks import (
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)
from m12_kafkastreams_python_azure_spark.sources.readers import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = A.q_pricing_summary(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), f"no shipdate pushdown: {pf}"


def test_column_pruning(spark, sf_dir):
    # 2-column projection from the 11-column lineitem must prune the scan
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(li)
    assert schemas and all(
        "l_extendedprice" not in s and "l_returnflag" not in s for s in schemas
    ), schemas


def test_dim_joins_broadcast(spark, sf_dir):
    assert has_broadcast_join(A.q_region_revenue(spark, sf_dir))
    assert has_broadcast_join(A.q_top_revenue_orders(spark, sf_dir))


def test_selective_filter_pushdown_in_join(spark, sf_dir):
    df = A.q_top_revenue_orders(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("c_mktsegment" in f for f in pf), f"segment filter not pushed: {pf}"


def test_enrichment_stays_jvm_side(spark, sf_dir):
    # the F3-F5 stack must compile to Catalyst expressions: no Python eval
    # operators anywhere, and the CASE bucketing visible as a plain Project.
    # (AQE formatted plans omit WholeStageCodegen markers pre-execution, so
    # codegen span counting is not assertable here.)
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    s = explain_str(A.q_stay_enrich(spark, sf_dir))
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "CASE WHEN" in s and "datediff" in s


def test_q6_all_predicates_pushed(spark, sf_dir):
    from m12_kafkastreams_python_azure_spark.operators import analytics6 as A6

    pf = pushed_filters(A6.q_forecast_revenue_q6(spark, sf_dir))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pf), f"{col} not pushed: {pf}"
    schemas = scan_read_schema(A6.q_forecast_revenue_q6(spark, sf_dir))
    assert all("l_returnflag" not in s for s in schemas), schemas


def test_q14_part_broadcasts(spark, sf_dir):
    from m12_kafkastreams_python_azure_spark.operators import analytics6 as A6

    assert has_broadcast_join(A6.q_promo_revenue_q14(spark, sf_dir))


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    from m12_kafkastreams_python_azure_spark.operators import joins as J
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    assert "BroadcastNestedLoopJoin" in explain_str(
        J.q_value_band_join(spark, sf_dir)
    )


def test_asof_join_single_window_no_join_nodes(spark, sf_dir):
    # the union-spine as-of must contain a Window and NO join operator at
    # all — that's the no-explosion guarantee.
    from m12_kafkastreams_python_azure_spark.operators import joins as J
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    for q in (J.q_asof_latest_order, J.q_asof_next_order):
        s = explain_str(q(spark, sf_dir))
        assert "Window" in s
        assert "Join" not in s, f"{q.__name__}: as-of should not plan any join"


def test_event_pairs_interval_join_stays_bucketed(spark, sf_dir):
    """The 10-minute interval self-join must keep its bucketed equi-join
    shape: an equi-join on (user, time-bucket) — never a cartesian product
    or nested-loop over the events table. Guards the NTZ-cast fix
    (joins.py q_event_pairs_10min) against re-breaking the plan."""
    from m12_kafkastreams_python_azure_spark.operators import joins as J
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    s = explain_str(J.q_event_pairs_10min(spark, sf_dir))
    assert "CartesianProduct" not in s, "interval join degenerated to cartesian"
    assert "BroadcastNestedLoopJoin" not in s, "interval join lost its equi-keys"
    # the equi-join itself must be present (SMJ / SHJ / broadcast hash)
    assert any(op in s for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), s


def test_scalar_batteries_no_python_eval(spark, sf_dir):
    from m12_kafkastreams_python_azure_spark.operators import analytics3 as A3
    from m12_kafkastreams_python_azure_spark.operators import analytics4 as A4
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    for q in (
        A3.q_token_count,
        A3.q_array_functions,
        A4.q_json_extract,
        A4.q_datetime_functions,
    ):
        s = explain_str(q(spark, sf_dir))
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, q


def test_default_similarity_front_doors_never_quadratic(spark, sf_dir):
    """The public API's DEFAULT paths must never plan a cartesian product or
    broadcast nested-loop join — those are reserved for method="exact"
    (oracle ground truth). This is the 100 TB guarantee: a user who calls
    the front door gets the bucketed LSH/IVF plan."""
    from m12_kafkastreams_python_azure_spark.operators import api
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") < 8)
    defaults = {
        "ann_topk(auto)": api.ann_topk(emb, q, k=5),
        "embedding_near_dup(lsh)": api.embedding_near_dup(emb),
        "near_dup_pairs(minhash)": api.near_dup_pairs(docs),
        "near_dup_pairs(simhash)": api.near_dup_pairs(docs, method="simhash"),
    }
    for label, df in defaults.items():
        s = explain_str(df)
        assert "CartesianProduct" not in s, f"{label} plans a cartesian product"
        assert "BroadcastNestedLoopJoin" not in s, f"{label} plans a nested-loop join"


def test_exact_methods_still_reachable(spark, sf_dir):
    """method="exact" must route to the quadratic oracle twins (their plans
    DO contain the nested-loop/cross shape — that is what makes them exact)."""
    from m12_kafkastreams_python_azure_spark.operators import api
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    s1 = explain_str(api.ann_topk(emb, q, k=5, method="exact"))
    s2 = explain_str(api.embedding_near_dup(emb, method="exact"))
    assert "BroadcastNestedLoopJoin" in s1 or "CartesianProduct" in s1
    assert "BroadcastNestedLoopJoin" in s2 or "CartesianProduct" in s2


# queries whose plans legitimately contain an Arrow/Python eval node
ARROW_PATH_QUERIES = {
    "media_features",      # mapInPandas decode
    "zscore_events",       # applyInPandas grouped map
    "normalize_embeddings",# scalar pandas UDF
    "geomean_prices",      # grouped-agg pandas UDF
    "arrow_byte_stats",    # mapInArrow
    "image_dhash",         # mapInPandas dHash (decode stand-in)
    "phash_near_dup",      # same mapInPandas signature stage feeding the banding
    "video_near_dup",      # mapInPandas frame sampling feeding the pair join
    "audio_near_dup",      # mapInPandas fingerprinting feeding the offset vote
    "audio_fingerprints",  # the same mapInPandas fingerprint stage, per-row entry
}


def test_no_accidental_python_in_any_query_plan(spark, sf_dir):
    """Blanket regression gate: every registered query must stay JVM-side
    unless it is one of the five declared Arrow-path operators. Catches a
    future change accidentally introducing a row-at-a-time UDF anywhere."""
    import __spark_entry__ as entrymod
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    offenders = []
    for name, fn in sorted(entrymod.queries().items()):
        plan = explain_str(fn(spark, sf_dir))
        has_python = any(
            marker in plan
            for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                           "FlatMapGroupsInPandas", "PythonMapInArrow",
                           "MapInArrow", "AggregateInPandas",
                           "ArrowAggregatePython")
        )
        if has_python and name not in ARROW_PATH_QUERIES:
            offenders.append(name)
        if not has_python and name in ARROW_PATH_QUERIES:
            offenders.append(f"{name} (expected Arrow node missing)")
    assert not offenders, f"plan hygiene violations: {offenders}"


def test_vocab_encode_topv_is_distributed_take_ordered(spark, sf_dir):
    """The vocabulary top-V selection must plan as TakeOrderedAndProject
    (per-partition top-V + a V-row merge), NOT an unpartitioned row_number
    window over the full distinct-word table — at web scale the vocabulary
    is 10⁸–10⁹ distinct tokens and the unbounded window funnels all of
    them through one task (round-5 review finding). The only Window
    allowed in the plan besides the tiny V-row rank is none over an
    unbounded input: we assert the Sort feeding any Window is bounded by
    the preceding TakeOrderedAndProject (i.e. the window appears after the
    limit in the plan tree)."""
    from m12_kafkastreams_python_azure_spark.operators import textops as T
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    s = explain_str(T.q_vocab_encode(spark, sf_dir))
    assert "TakeOrderedAndProject" in s, "top-V lost its distributed take-ordered shape"
    # the V-row rank window must sit ABOVE the take-ordered (textually the
    # formatted plan lists operators leaf-last, so the Window node id must
    # be smaller than the TakeOrderedAndProject's — cheap proxy: Window
    # appears before TakeOrderedAndProject in the formatted dump).
    assert s.index("Window") < s.index("TakeOrderedAndProject"), (
        "rank window no longer bounded by the top-V limit"
    )


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Runtime row-level filtering, demonstrated: a selective dimension
    filter (orders by priority) joined to a pre-aggregated fact side must
    get a bloom filter injected below the fact aggregate, cutting both the
    aggregate's and the join's shuffle volume — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~1/5 that can match. Spark only injects when the application side
    already contains a shuffle-inducing operator (Aggregate here) and both
    size thresholds pass; the toy-data thresholds are scaled accordingly."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.sum("l_extendedprice").alias("order_rev"))
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "o_orderkey", "o_orderpriority", "order_rev"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
        # and it must actually run: result equals the un-filtered twin
        n = j.count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",  # back to stock: no injection at toy scale
        )
        assert n == j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """Skew discipline, demonstrated: one hot key (200k rows vs ~10/key
    elsewhere) through a sort-merge join; with the skew thresholds scaled
    down to toy-data sizes, AQE must mark and split the hot partition
    (skew=true in the FINAL adaptive plan). This is the mechanism that
    keeps a 100 TB join with a viral key from pinning one executor."""
    import re

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(0, 990).select((F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v"))
        )
        right = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = left.join(right, "k")
        assert len(j.collect()) == 200_990
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert re.search(r"skew=true", final), "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _uniq_nodes(tree: str, node: str) -> int:
    import re

    return len(set(re.findall(node + r"[^(]*\((\d+)\)", tree)))


def test_weighted_budget_select_plan_shape(spark, sf_dir):
    """Plan pin for the r15 newcomer (VERDICT r15 #7): the soft-dedup-
    weighted budget fill must keep the token_budget_select scale shape —
    no cartesian/unbounded nested-loop, every cumulative window keyed on
    the bounded bucket column (NOT a corpus-wide q-ordered cumsum), and
    the shuffle budget pinned."""
    import re

    from m12_kafkastreams_python_azure_spark.operators import curation as CU
    from m12_kafkastreams_python_azure_spark.pins import query_scope
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    # nothing cached earlier may survive into this plan: a cached subtree
    # renders as InMemoryTableScan and hides the nodes this pin asserts on
    spark.catalog.clearCache()
    with query_scope():
        s = explain_str(CU.q_weighted_budget_select(spark, sf_dir))
    tree = s.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # exactly ONE nested-loop node: the bounded 1-row gram-total
    # crossJoin inside soft_dedup_weights (broadcast, Cross BuildRight);
    # it appears twice in the tree because the persisted scored subtree
    # is consumed by both fill passes — count unique node ids
    assert _uniq_nodes(tree, "BroadcastNestedLoopJoin") == 1, tree
    # every window is keyed on the bucket column: the |buckets|-row
    # running total orders by bucket, the per-doc keep pass partitions
    # by bucket — a corpus-wide cumsum would spec on q/weight instead
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", s))
    assert specs == {"bucket"}, specs
    # shuffle budget: 8 unique exchanges at this plan (gram agg + doc
    # agg inside soft_dedup_weights, token join, bucket agg, fill
    # windows); a regression that re-scores per consumer or loses the
    # persist shows up here first
    assert 1 <= _uniq_nodes(tree, r"\bExchange") <= 8, tree


def test_soft_dedup_screen_plan_shape(spark, sf_dir):
    """Plan pin for the r15 newcomer (VERDICT r15 #7): the frozen-
    reference soft-dedup screen must stay one gram explode + one
    gram-keyed LEFT equi-join + one doc agg + one bounded 1-row meta
    broadcast — nothing quadratic."""
    from m12_kafkastreams_python_azure_spark.operators import dedup as D
    from m12_kafkastreams_python_azure_spark.pins import query_scope
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    spark.catalog.clearCache()
    with query_scope():
        s = explain_str(D.q_soft_dedup_screen(spark, sf_dir))
    tree = s.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # the single nested-loop node is the 1-row n_ref_docs meta broadcast
    # (Cross BuildRight) — the gram join itself must be an equi-join
    assert _uniq_nodes(tree, "BroadcastNestedLoopJoin") == 1, tree
    assert (
        "BroadcastHashJoin" in tree
        or "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
    ), tree
    # shuffle budget: 5 unique exchanges (ref gram agg, doc gram agg,
    # join distribution, final doc mean)
    assert 1 <= _uniq_nodes(tree, r"\bExchange") <= 5, tree


def test_embedding_lsh_verify_broadcast_is_count_gated(spark, sf_dir, monkeypatch):
    """VERDICT r18 #3: the sign-LSH verify join broadcasts the (narrow,
    id-only) candidate-pair side only when its COUNTED size clears
    dedup._BROADCAST_CAND_MAX_ROWS; above the gate the hint is withheld
    and the verify falls to a shuffled join (AQE may still re-broadcast
    off observed sizes at runtime, but never past the driver's limits).
    autoBroadcastJoinThreshold is disabled during the probe so the
    observed strategy is the GATE's decision, not a stats-based one."""
    from m12_kafkastreams_python_azure_spark.operators import api, dedup
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # collapse_exact=False isolates the verify pipeline (the collapse
        # wrapper adds its own mapping/expansion joins around it)
        below = explain_str(
            api.embedding_near_dup_lsh(emb, collapse_exact=False)
        )
        assert "BroadcastHashJoin" in below, below
        monkeypatch.setattr(dedup, "_BROADCAST_CAND_MAX_ROWS", 0)
        above = explain_str(
            api.embedding_near_dup_lsh(emb, collapse_exact=False)
        )
        assert "BroadcastHashJoin" not in above, above
        assert any(
            op in above for op in ("SortMergeJoin", "ShuffledHashJoin")
        ), above
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
