"""Advanced Structured Streaming operators: stream-stream interval join,
custom stateful processing (applyInPandasWithState), incremental dedup via
foreachBatch, and the rate-source load generator (reference P1,
producer-app-data.yaml:29-38).

Scale notes:
- The stream-stream join keeps both sides' state bounded by the watermark +
  the join's time bound; state is keyed and co-partitioned on the join key,
  so each micro-batch only shuffles new rows.
- ``applyInPandasWithState`` ships Arrow batches per key-group into Python —
  the slow path, reserved for semantics built-ins can't express (here: a
  running per-user aggregate with custom eviction we control). State lives
  in the Spark state store, partitioned by key: scales horizontally.
- The foreachBatch dedup is the streaming twin of the batch exact-dedup
  operator: per micro-batch, anti-join against the already-seen key set.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..pins import query_scope
from ..sources.fs import dir_has_data


def view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every (view -> purchase) pair by the
    same user where the purchase lands within ``max_gap`` after the view.

    Both sides are watermarked and the join condition carries the time
    bound, so Spark evicts state once the watermark passes — bounded state,
    the streaming version of the batch bucketed interval self-join
    (operators.joins.q_event_pairs_10min).

    ``how="left_outer"`` additionally emits every unmatched view with NULL
    purchase columns — but only once the watermark has passed the view's
    join window (Spark must be certain no matching purchase can still
    arrive), which is why outer results trail the inner ones by up to the
    watermark delay. Same bounded-state guarantee.
    """
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {max_gap}
            """
        ),
        how,
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


USER_STATS_OUTPUT = (
    "user_id bigint, n_events bigint, value_sum double, n_types bigint"
)
USER_STATS_STATE = "n bigint, vsum double, types array<string>"


def _user_stats_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user stats with an exact distinct-type set in state —
    the kind of custom stateful aggregate (exact streaming distinct over a
    small per-key domain) that built-in streaming aggs reject."""
    if state.exists:
        n, vsum, types = state.get
        seen = set(types)
    else:
        n, vsum, seen = 0, 0.0, set()
    for pdf in batches:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
        seen.update(pdf["event_type"].dropna().unique().tolist())
    state.update((n, vsum, sorted(seen)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [vsum],
            "n_types": [len(seen)],
        }
    )


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: one updated
    row per user per micro-batch with running count / sum / exact distinct
    event-type count."""
    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_OUTPUT,
            stateStructType=USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_batch_processor(
    out_dir: str, key_col: str = "text", id_col: str = "doc_id"
):
    """The foreachBatch function used by ``start_dedup_stream``, exposed so
    tests can drive it directly with a repeated batch_id (simulating the
    at-least-once replay that a live failure would produce)."""
    hash_col = F.sha2(F.col(key_col).cast("string"), 256).alias("__h")

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = (
            batch.withColumn("__h", hash_col)
            # batch-local winner per hash: lowest id (deterministic)
            .withColumn(
                "__rn",
                F.row_number().over(Window.partitionBy("__h").orderBy(id_col)),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Only a genuinely-absent output dir means "nothing seen yet".
        # Swallowing every read failure would skip the anti-join and emit
        # duplicates, silently breaking the one-row-per-hash contract.
        if dir_has_data(spark, out_dir):
            from pyspark.errors import AnalysisException

            try:
                # exclude THIS batch's own (possibly half-written) replay
                # dir from the seen set, then overwrite it wholesale
                seen = (
                    spark.read.option("basePath", out_dir)
                    .parquet(out_dir)
                    .filter(F.col("batch") != batch_id)
                    .select("__h")
                    .distinct()
                )
                fresh = fresh.join(seen, "__h", "left_anti")
            except AnalysisException as exc:
                # A crash during the FIRST batch's write can leave only
                # uncommitted debris (batch=N/_temporary): the dir exists
                # but holds zero committed parquet files, and the read
                # fails schema inference. That precise state means
                # "nothing durably seen yet" — proceed without the
                # anti-join (the overwrite below replaces the debris).
                # Every other analysis error still propagates.
                if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                    raise
        fresh.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return _process


def start_dedup_stream(
    docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Incremental exact dedup: per micro-batch, keep one row per content
    hash that has never been emitted before (anti-join against the output so
    far), append survivors. ``foreachBatch`` gives the batch DataFrame API
    (including the anti-join) inside a streaming query.

    Output layout: one ``batch=<id>`` partition dir per micro-batch (readers
    see an extra ``batch`` partition column — lineage metadata that also
    enables the exactly-once replay described below).

    Replay semantics: foreachBatch is at-least-once — after a failure the
    same batch_id can be re-delivered. Each batch writes (overwrite mode)
    its own ``batch=<id>`` partition directory, so a replay rewrites the
    same directory instead of appending a duplicate copy — exactly-once
    output at directory granularity on top of the row-level seen-hash
    anti-join.
    """
    return (
        docs.writeStream.foreachBatch(
            dedup_batch_processor(out_dir, key_col, id_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def rate_source(
    spark: SparkSession, rows_per_second: int = 1, num_partitions: int = 3
) -> DataFrame:
    """P1 synthetic load generator (reference producer-app-data.yaml:29-38:
    1 rec/s perf-test producer) as Spark's built-in rate source."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: Iterable[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` emits the first row per key and
    keeps that key's state only until the watermark passes its event
    time — the state store stays bounded by (arrival rate x watermark)
    instead of growing with every key ever seen.

    This completes the engine's three streaming-dedup shapes, each with a
    different state/guarantee trade:

    - ``dropDuplicates(keys)`` (pipeline.py): exact forever, UNBOUNDED
      state — right for finite key domains (category x hotel).
    - this one: exact for duplicates arriving within the watermark of
      each other, bounded state — right for at-least-once transports
      (Kafka producer retries, task re-sends) where dups cluster in time.
    - ``start_dedup_stream`` (foreachBatch anti-join against the sink):
      exactly-once APPEND across restarts, state = the sink itself.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# ------------------------------------------------- incremental keep-best dedup


def keep_best_batch_processor(
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
):
    """foreachBatch function for ``start_keep_best_stream`` — the streaming
    spine of ``graph.dedup_keep_best`` (cluster transitive near-dups, keep
    the best-quality doc per cluster), exposed so tests can drive it
    directly with repeated batch_ids (at-least-once replay).

    Incremental contract (and why stream == batch EXACTLY): the state dirs
    persist (a) each doc's blocking signature + quality — ``sigs/`` — and
    (b) the cumulative near-dup EDGE set — ``pairs/``. A micro-batch
    discovers only the pairs with >= 1 NEW endpoint (new x new, plus
    new x state via the prefix-bucket equi-join: each pair in the stream's
    lifetime is computed exactly once — the incremental saving), appends
    them, and re-derives the keep list from CC + quality-argmax over the
    CUMULATIVE edges and sigs — the identical tail ``dedup_keep_best``
    runs, over an identical pair set, so the emitted ``keep/`` snapshot
    equals the batch operator on all docs seen so far, retroactive keeper
    changes included (a late arrival can dethrone an earlier keeper —
    which is why the output is a per-batch SNAPSHOT, complete-mode
    semantics, not an append log).

    Scale shape: per batch, the pair discovery joins |batch| rows against
    the bucket-keyed signature state (an equi-join, never all-pairs); the
    CC + argmax tail runs over the edge set (near-dups only — orders of
    magnitude smaller than the corpus) plus the 3-column scored-node
    table. Replay safety: every state write is a per-batch partition dir
    in overwrite mode, and state reads exclude the current batch_id — a
    re-delivered batch rewrites its own dirs instead of double-counting.
    """
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_cols,
    )
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        jaccard,
        shingles,
    )
    from m12_kafkastreams_python_azure_spark.operators.graph import (
        connected_components,
    )

    sigs_dir = f"{state_dir}/sigs"
    pairs_dir = f"{state_dir}/pairs"
    keep_dir = f"{state_dir}/keep"

    def _read_state(spark, path: str, batch_id: int) -> DataFrame | None:
        if not dir_has_data(spark, path):
            return None
        from pyspark.errors import AnalysisException

        try:
            return (
                spark.read.option("basePath", path)
                .parquet(path)
                .filter(F.col("batch") != batch_id)
                .drop("batch")
            )
        except AnalysisException as exc:
            # first-batch crash debris: dir exists, zero committed files
            # (see dedup_batch_processor for the full rationale)
            if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                raise
            return None

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_sigs = batch.select(
            F.col(id_col).alias("id"),
            F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
            shingles(F.col(text_col)).alias("sh"),
            quality_score_cols(F.col(text_col))["quality_score"].alias("q"),
        ).persist()
        old_sigs = _read_state(spark, sigs_dir, batch_id)
        a = new_sigs.select(F.col("id").alias("id_a"), "pfx", F.col("sh").alias("sh_a"))
        b = new_sigs.select(F.col("id").alias("id_b"), "pfx", F.col("sh").alias("sh_b"))
        new_pairs = (
            a.join(b, "pfx")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= jaccard_threshold)
            .select("id_a", "id_b")
        )
        if old_sigs is not None:
            o = old_sigs.select(
                F.col("id").alias("id_o"), "pfx", F.col("sh").alias("sh_o")
            )
            n = new_sigs.select(
                F.col("id").alias("id_n"), "pfx", F.col("sh").alias("sh_n")
            )
            cross = (
                n.join(o, "pfx")
                .filter(jaccard(F.col("sh_n"), F.col("sh_o")) >= jaccard_threshold)
                .select(
                    F.least("id_n", "id_o").alias("id_a"),
                    F.greatest("id_n", "id_o").alias("id_b"),
                )
            )
            new_pairs = new_pairs.unionByName(cross)
        new_pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
        new_sigs.select("id", "pfx", "sh", "q").write.mode("overwrite").parquet(
            f"{sigs_dir}/batch={batch_id}"
        )
        # cumulative tail — identical to graph.dedup_keep_best's
        all_sigs = spark.read.option("basePath", sigs_dir).parquet(sigs_dir)
        all_pairs = spark.read.option("basePath", pairs_dir).parquet(pairs_dir)
        comps = connected_components(
            all_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        labeled = (
            all_sigs.select("id", "q")
            .join(comps, "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("cluster"), "q")
        )
        size_w = Window.partitionBy("cluster")
        rank_w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("id"))
        keep = (
            labeled.withColumn("cluster_size", F.count(F.lit(1)).over(size_w))
            .withColumn("_rn", F.row_number().over(rank_w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("id").alias("doc_id"),
                "cluster",
                F.col("cluster_size").cast("long").alias("cluster_size"),
                F.round("q", 6).alias("quality_score"),
            )
        )
        keep.write.mode("overwrite").parquet(keep_dir)
        new_sigs.unpersist()

    return _process


def start_keep_best_stream(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
) -> StreamingQuery:
    """Streaming keep-best near-dup curation: after every micro-batch,
    ``{state_dir}/keep`` holds exactly what ``graph.dedup_keep_best``
    would output on all documents seen so far (equivalence pinned in
    tests/test_round9_ops.py on a replayed corpus)."""
    return (
        docs.writeStream.foreachBatch(
            keep_best_batch_processor(
                state_dir, text_col, id_col, jaccard_threshold, prefix_len
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------------------------- streaming decontamination


def decontaminate_batch_processor(
    eval_docs: DataFrame,
    state_dir: str,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_decontaminate_stream`` — the
    incremental twin of ``corpus.decontaminate_bloom`` (VERDICT r10 #4):
    corpus shards arrive as micro-batches and each is screened against a
    FIXED eval set whose Bloom filter is built exactly once, at
    processor construction, then reused by every batch.

    Why stream == batch EXACTLY: per-document contamination is a
    function of (the doc's grams, the eval gram set) alone — there is no
    cross-document state — so screening shard-by-shard against the same
    persisted eval grams produces precisely the rows the batch operator
    produces over the union of shards. The discipline being exercised is
    the state lifecycle, not the math:

    - the eval gram set is written once to ``{state_dir}/eval_grams``
      (parquet, the exact-confirm side) and the bloom words are
      collected once into the closure (the ~25x-smaller probe side) —
      a 10^8-gram eval set costs each micro-batch a closure-shipped bit
      array plus a confirm join that only moves the bloom-surviving
      sliver, never a per-batch rebuild or a string broadcast;
    - per-batch output is a partition dir ``{state_dir}/contam/
      batch=<id>`` written in overwrite mode — an at-least-once replay
      of a batch rewrites its own partition instead of double-counting
      (the ``keep_best_batch_processor`` replay discipline).
    """
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        DECONTAM_N,
        bloom_might_contain,
        build_gram_bloom,
        word_ngrams,
    )

    ngram_n = DECONTAM_N if n is None else n
    spark = eval_docs.sparkSession
    eval_dir = f"{state_dir}/eval_grams"
    contam_dir = f"{state_dir}/contam"
    if not dir_has_data(spark, eval_dir):
        (
            eval_docs.select(
                F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("gram")
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(eval_dir)
        )
    bloom, m_bits = build_gram_bloom(spark.read.parquet(eval_dir))

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        grams = batch.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("gram"),
        )
        totals = grams.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        cand = grams.filter(bloom_might_contain(bloom, m_bits, F.col("gram")))
        ev = bspark.read.parquet(eval_dir).withColumn("hit", F.lit(True))
        confirmed = cand.join(ev, "gram")
        out = (
            confirmed.groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_collisions"))
            .join(totals, "doc_id")
            .select(
                "doc_id",
                "n_collisions",
                "n_grams",
                F.round(
                    F.col("n_collisions").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ).alias("contam_ratio"),
            )
        )
        out.write.mode("overwrite").parquet(f"{contam_dir}/batch={batch_id}")

    return _process


def read_contaminated(spark: SparkSession, state_dir: str) -> DataFrame:
    """All contaminated docs seen by the stream so far (union of batch
    partitions; ``batch`` column retained for audit)."""
    return spark.read.option("basePath", f"{state_dir}/contam").parquet(
        f"{state_dir}/contam"
    )


def start_decontaminate_stream(
    docs: DataFrame,
    eval_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming decontamination: after every micro-batch,
    ``read_contaminated`` over ``state_dir`` equals
    ``corpus.decontaminate_bloom``'s output on all train shards seen so
    far (pinned in tests/test_streaming_decontam.py, replay included)."""
    return (
        docs.writeStream.foreachBatch(
            decontaminate_batch_processor(
                eval_docs, state_dir, n, text_col, id_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ----------------------------------------------- streaming DSIR scoring


def dsir_batch_processor(
    target_docs: DataFrame,
    raw_sample: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_dsir_stream`` — the incremental
    twin of ``dsir.dsir_weights``, in the deployment shape the paper
    assumes: the target and raw hashed-n-gram models are FIT ONCE (on
    the target set and a raw sample) at processor construction,
    persisted to ``{state_dir}/models/``, and every arriving corpus
    shard is scored against them — a narrow pass + two <=256-row
    broadcast joins per batch, never a per-batch model rebuild.

    Why stream == batch EXACTLY (pinned in tests): per-document weight
    is a function of (the doc's grams, the two fixed models) alone, so
    scoring shard-by-shard against persisted models reproduces the
    batch weights whenever the batch models were fit on the same split.
    The per-doc Gumbel key (md5-derived) is written alongside, so a
    downstream ``read_dsir_selection`` over the CUMULATIVE weights is
    the same Gumbel-top-n sample ``dsir_resample`` draws — the stream
    never has to re-shuffle history to keep the sample correct, because
    top-n over (append-only keys) is monotone.

    Replay safety: per-batch overwrite partitions, the
    ``decontaminate_batch_processor`` discipline."""
    from m12_kafkastreams_python_azure_spark.operators.dsir import (
        dsir_model_tables,
        dsir_score_with_models,
        gumbel_key_col,
    )

    spark = target_docs.sparkSession
    tdir = f"{state_dir}/models/target"
    rdir = f"{state_dir}/models/raw"
    wdir = f"{state_dir}/weights"
    if not (dir_has_data(spark, tdir) and dir_has_data(spark, rdir)):
        tmodel, rmodel = dsir_model_tables(
            target_docs, raw_sample, text_col
        )
        tmodel.coalesce(1).write.mode("overwrite").parquet(tdir)
        rmodel.coalesce(1).write.mode("overwrite").parquet(rdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        tmodel = bspark.read.parquet(tdir)
        rmodel = bspark.read.parquet(rdir)
        docs = batch.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        out = dsir_score_with_models(docs, tmodel, rmodel).withColumn(
            "gumbel_key", F.col("log_weight") + gumbel_key_col(F.col("doc_id"))
        )
        out.write.mode("overwrite").parquet(f"{wdir}/batch={batch_id}")

    return _process


def read_dsir_weights(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.option("basePath", f"{state_dir}/weights").parquet(
        f"{state_dir}/weights"
    )


def read_dsir_selection(
    spark: SparkSession, state_dir: str, n: int
) -> DataFrame:
    """Gumbel-top-n over everything scored so far — equals
    ``dsir_resample`` on the union of shards when the models match."""
    return (
        read_dsir_weights(spark, state_dir)
        .drop("batch")
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(n)
    )


def start_dsir_stream(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_sample: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming DSIR scoring: fit-once models, score every micro-batch,
    cumulative Gumbel-top-n via ``read_dsir_selection``."""
    return (
        docs.writeStream.foreachBatch(
            dsir_batch_processor(
                target_docs, raw_sample, state_dir, text_col, id_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ----------------------------------------- streaming CCNet bucketing


def ccnet_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
):
    """foreachBatch function for ``start_ccnet_stream`` — the incremental
    twin of ``corpus.ccnet_buckets(thresholds="approx")`` (the round-13
    web-scale path), completing the streaming curation set: the bigram
    LM tables AND the per-language head/middle score cutoffs are fit
    ONCE (on the fitting corpus — CCNet fits its LM on the crawl
    snapshot being bucketed) and persisted under ``{state_dir}/model``;
    every arriving shard is scored against the fixed model (two
    vocabulary-bounded broadcast joins) and bucketed by the fixed
    cutoffs (a |langs|-row broadcast + a narrow when-chain) — no window,
    no per-language buffering, no per-batch refit.

    stream == batch-with-the-same-artifacts EXACTLY (pinned in
    tests/test_streaming_ccnet.py, including shard-invariance and
    replay): a doc's bucket is a pure function of (its grams, the fixed
    model, the fixed cutoffs). Per-batch output is overwrite-partitioned
    ``{state_dir}/buckets/batch=<id>`` — the replay discipline shared by
    the whole curation set."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        CCNET_APPROX_ACCURACY,
        CCNET_HEAD_FRAC,
        CCNET_MIDDLE_FRAC,
        bigram_lm_model_tables,
        bigram_lm_score_with_model,
    )

    spark = fit_docs.sparkSession
    bdir = f"{state_dir}/model/bigram"
    hdir = f"{state_dir}/model/hist"
    cdir = f"{state_dir}/model/cutoffs"
    outdir = f"{state_dir}/buckets"
    if not (
        dir_has_data(spark, bdir)
        and dir_has_data(spark, hdir)
        and dir_has_data(spark, cdir)
    ):
        bigram_counts, hist_counts = bigram_lm_model_tables(fit_docs)
        bigram_counts.write.mode("overwrite").parquet(bdir)
        hist_counts.coalesce(1).write.mode("overwrite").parquet(hdir)
        scored = bigram_lm_score_with_model(
            fit_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            spark.read.parquet(bdir),
            spark.read.parquet(hdir),
        )
        cuts = (
            scored.join(
                fit_docs.select(
                    F.col(id_col).alias("doc_id"), group_col
                ),
                "doc_id",
            )
            .groupBy(group_col)
            .agg(
                F.percentile_approx(
                    "avg_log2p",
                    F.lit(1.0 - CCNET_HEAD_FRAC),
                    F.lit(CCNET_APPROX_ACCURACY),
                ).alias("c_head"),
                F.percentile_approx(
                    "avg_log2p",
                    F.lit(1.0 - CCNET_MIDDLE_FRAC),
                    F.lit(CCNET_APPROX_ACCURACY),
                ).alias("c_mid"),
            )
        )
        cuts.coalesce(1).write.mode("overwrite").parquet(cdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        bigram_counts = bspark.read.parquet(bdir)
        hist_counts = bspark.read.parquet(hdir)
        cuts = bspark.read.parquet(cdir)
        docs = batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(group_col).alias("lang"),
        )
        scored = bigram_lm_score_with_model(
            docs.select("doc_id", "text"), bigram_counts, hist_counts
        )
        # LEFT joins from the batch side: a doc none of whose bigrams
        # exist in the fit model (novel vocabulary), or whose language
        # has no fitted cutoffs, must NOT silently vanish from bucket
        # output (ADVICE r13 — the inner-join spelling lost such docs
        # with no signal). They route to an explicit 'unscored' bucket
        # so the deployment shape surfaces drift (a growing unscored
        # share means the fit snapshot no longer covers the stream) and
        # every input doc appears in exactly one bucket.
        out = (
            docs.select("doc_id", "lang")
            .join(scored, "doc_id", "left")
            .join(
                F.broadcast(cuts.withColumnRenamed(group_col, "lang")),
                "lang",
                "left",
            )
            .withColumn(
                "bucket",
                F.when(
                    F.col("avg_log2p").isNull() | F.col("c_head").isNull(),
                    F.lit("unscored"),
                )
                .when(F.col("avg_log2p") >= F.col("c_head"), F.lit("head"))
                .when(F.col("avg_log2p") >= F.col("c_mid"), F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
            .select("doc_id", "lang", "bucket", "avg_log2p")
        )
        out.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    return _process


def read_ccnet_buckets(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-doc bucket assignments seen by the stream so far (union of
    batch partitions; ``batch`` column retained for audit)."""
    return spark.read.option("basePath", f"{state_dir}/buckets").parquet(
        f"{state_dir}/buckets"
    )


def start_ccnet_stream(
    docs: DataFrame,
    fit_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming CCNet bucketing: fit-once LM + cutoffs, bucket every
    micro-batch; aggregating ``read_ccnet_buckets`` reproduces the batch
    operator's (lang, bucket) rollup over all shards seen."""
    return (
        docs.writeStream.foreachBatch(
            ccnet_batch_processor(fit_docs, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ------------------------------------- streaming temperature sampling


def temperature_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    alpha: float | None = None,
    budget_frac: float | None = None,
    group_col: str = "lang",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_temperature_stream`` — the
    incremental twin of ``curation.temperature_sample``: per-language
    keep RATES are fit once (on a fitting corpus — in production, the
    crawl's language census) and persisted to ``{state_dir}/rates``;
    every arriving shard is filtered by each doc's md5-derived uniform
    against its language's rate — one broadcast join + one narrow
    filter per batch.

    stream == batch EXACTLY because the keep decision is a pure
    function of (doc_id, the fixed rates): shards filtered one at a
    time keep precisely the docs ``temperature_sample`` keeps over the
    union (pinned in tests, per-batch and cumulative). Kept doc_ids are
    written per-batch (overwrite partitions — replay idempotent)."""
    from m12_kafkastreams_python_azure_spark.operators.curation import (
        TEMP_ALPHA,
        TEMP_BUDGET_FRAC,
    )
    from pyspark.sql.window import Window

    a = TEMP_ALPHA if alpha is None else alpha
    bf = TEMP_BUDGET_FRAC if budget_frac is None else budget_frac
    spark = fit_docs.sparkSession
    rdir = f"{state_dir}/rates"
    kdir = f"{state_dir}/kept"
    if not dir_has_data(spark, rdir):
        w = Window.partitionBy()
        rates = (
            fit_docs.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("n_total", F.sum("n_docs").over(w))
            .withColumn(
                "p_num",
                F.pow(F.col("n_docs").cast("double"), F.lit(float(a))),
            )
            .withColumn("p_den", F.sum("p_num").over(w))
            .withColumn(
                "keep_prob",
                F.least(
                    F.lit(1.0),
                    F.lit(float(bf))
                    * F.col("n_total").cast("double")
                    * (F.col("p_num") / F.col("p_den"))
                    / F.col("n_docs").cast("double"),
                ),
            )
            .select(group_col, "keep_prob")
        )
        rates.coalesce(1).write.mode("overwrite").parquet(rdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        rates = bspark.read.parquet(rdir)
        u = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 52))
        kept = (
            batch.join(F.broadcast(rates), group_col)
            .filter(u < F.col("keep_prob"))
            .select(F.col(id_col).alias("doc_id"), group_col)
        )
        kept.write.mode("overwrite").parquet(f"{kdir}/batch={batch_id}")

    return _process


def read_temperature_kept(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.option("basePath", f"{state_dir}/kept").parquet(
        f"{state_dir}/kept"
    )


def start_temperature_stream(
    docs: DataFrame,
    fit_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    alpha: float | None = None,
    budget_frac: float | None = None,
) -> StreamingQuery:
    """Streaming temperature sampling: fit-once rates, filter every
    micro-batch; ``read_temperature_kept`` equals the batch operator's
    keep set over all shards seen."""
    return (
        docs.writeStream.foreachBatch(
            temperature_batch_processor(
                fit_docs, state_dir, alpha, budget_frac
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ------------------------------- streaming DoReMi mixture resampling


def doremi_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    budget_frac: float | None = None,
    eta: float | None = None,
    smooth: float | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_doremi_stream`` — the streaming
    twin of ``curation.doremi_resample``, the EIGHTH member of the
    streaming curation set (keep-best, decontam, DSIR, temperature,
    CCNet, containment, soft-dedup, DoReMi): per-domain keep RATES are
    fit once from the DoReMi weights (the LM-scored mixture update —
    the expensive scorer pass is the build-once artifact, the fit-once
    discipline every member shares) and persisted to
    ``{state_dir}/rates``; every arriving shard is filtered by each
    doc's md5-derived uniform against its domain's rate — one broadcast
    join + one narrow filter per batch.

    stream == batch EXACTLY because the keep decision is a pure
    function of (doc_id, the fixed rates): shards filtered one at a
    time keep precisely the docs ``doremi_resample`` keeps over the
    union (pinned in tests, per-batch and cumulative), the frozen-
    reference streaming rule (a running cross-batch refit would
    retroactively change earlier keep decisions). Kept doc_ids are
    written per-batch (overwrite partitions — replay idempotent)."""
    from m12_kafkastreams_python_azure_spark.operators.curation import (
        DOREMI_BUDGET_FRAC,
        DOREMI_ETA,
        DOREMI_SMOOTH,
        doremi_weights,
    )
    from pyspark.sql.window import Window

    bf = DOREMI_BUDGET_FRAC if budget_frac is None else budget_frac
    e = DOREMI_ETA if eta is None else eta
    c = DOREMI_SMOOTH if smooth is None else smooth
    spark = fit_docs.sparkSession
    rdir = f"{state_dir}/rates"
    kdir = f"{state_dir}/kept"
    if not dir_has_data(spark, rdir):
        w = Window.partitionBy()
        weights = doremi_weights(fit_docs, eta=e, smooth=c, group_col=group_col)
        rates = (
            fit_docs.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("n_total", F.sum("n_docs").over(w))
            .join(weights.select(group_col, "weight"), group_col)
            .withColumn(
                "keep_prob",
                F.least(
                    F.lit(1.0),
                    F.lit(float(bf))
                    * F.col("n_total").cast("double")
                    * F.col("weight")
                    / F.col("n_docs").cast("double"),
                ),
            )
            .select(group_col, "keep_prob")
        )
        rates.coalesce(1).write.mode("overwrite").parquet(rdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        rates = bspark.read.parquet(rdir)
        u = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 52))
        kept = (
            batch.join(F.broadcast(rates), group_col)
            .filter(u < F.col("keep_prob"))
            .select(F.col(id_col).alias("doc_id"), group_col)
        )
        kept.write.mode("overwrite").parquet(f"{kdir}/batch={batch_id}")

    return _process


def read_doremi_kept(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.option("basePath", f"{state_dir}/kept").parquet(
        f"{state_dir}/kept"
    )


def start_doremi_stream(
    docs: DataFrame,
    fit_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    budget_frac: float | None = None,
) -> StreamingQuery:
    """Streaming DoReMi resampling: fit-once rates (the LM-scored
    mixture weights), filter every micro-batch; ``read_doremi_kept``
    equals the batch operator's keep set over all shards seen."""
    return (
        docs.writeStream.foreachBatch(
            doremi_batch_processor(fit_docs, state_dir, budget_frac)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# --------------------------------- streaming containment vs the corpus


def containment_batch_processor(
    ref_docs: DataFrame,
    state_dir: str,
    n: int = 3,
    threshold: float | None = None,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_containment_stream`` — the
    streaming twin of ``dedup.containment_pairs``' subsumption
    detection, completing the curation SEXTET (keep-best, decontam,
    DSIR, temperature, CCNet, containment): arriving documents are
    checked for n-gram containment AGAINST A FIXED REFERENCE CORPUS
    ("is this page an excerpt of something we already hold, or is a
    held page an excerpt of it") using artifacts built exactly once at
    processor construction (``dedup.build_containment_ref`` — the
    fit-once discipline every member of the set shares).

    Why this is the right streaming semantics (and why all-pairs
    containment stays batch-only): pairwise containment's ubiquity
    guard and size denominators are functions of the WHOLE corpus's
    gram document frequencies — a per-batch df is meaningless and a
    cross-batch running df would change earlier docs' denominators
    retroactively (no longer stream == batch). Against a frozen
    reference, a doc's matches are a pure function of (its grams, the
    fixed artifacts), so shard-invariance and replay idempotence hold
    exactly — the decontaminate deployment shape, with containment's
    asymmetric metric.

    State lifecycle: ``{state_dir}/model/{grams,sizes,hot}`` parquet
    (written once; the reference side is exact-duplicate-collapsed per
    the engine's duplicate law — see ``build_containment_ref``);
    per-batch output overwrites ``{state_dir}/matches/batch=<id>`` (the
    at-least-once replay discipline shared by the whole set)."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        CONTAIN_MAX_DF,
        CONTAIN_THRESHOLD,
        build_containment_ref,
        containment_against,
    )

    thr = CONTAIN_THRESHOLD if threshold is None else threshold
    cap = CONTAIN_MAX_DF if max_df is None else max_df
    spark = ref_docs.sparkSession
    gdir = f"{state_dir}/model/grams"
    sdir = f"{state_dir}/model/sizes"
    hdir = f"{state_dir}/model/hot"
    outdir = f"{state_dir}/matches"
    if not (
        dir_has_data(spark, gdir)
        and dir_has_data(spark, sdir)
        and dir_has_data(spark, hdir)
    ):
        rare, sizes, hot = build_containment_ref(
            ref_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            n=n,
            max_df=cap,
        )
        rare.write.mode("overwrite").parquet(gdir)
        sizes.coalesce(1).write.mode("overwrite").parquet(sdir)
        hot.coalesce(1).write.mode("overwrite").parquet(hdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        rare = bspark.read.parquet(gdir)
        sizes = bspark.read.parquet(sdir)
        hot = bspark.read.parquet(hdir)
        # the micro-batch owns its pins: the write below is their last use
        with query_scope():
            out = containment_against(
                batch.select(
                    F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
                ),
                rare,
                sizes,
                hot,
                n=n,
                threshold=thr,
            )
            out.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    return _process


def read_containment_matches(spark: SparkSession, state_dir: str) -> DataFrame:
    """Containment matches found by the stream so far (union of batch
    partitions; ``batch`` column retained for audit)."""
    return spark.read.option("basePath", f"{state_dir}/matches").parquet(
        f"{state_dir}/matches"
    )


def start_containment_stream(
    docs: DataFrame,
    ref_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming containment screening: fit-once reference artifacts,
    then every micro-batch's docs are matched against the frozen
    reference corpus; ``read_containment_matches`` reproduces the batch
    ``containment_against`` output over all shards seen."""
    return (
        docs.writeStream.foreachBatch(
            containment_batch_processor(ref_docs, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------- streaming soft-dedup weights vs the corpus


def soft_dedup_batch_processor(
    ref_docs: DataFrame,
    state_dir: str,
    n: int = 3,
    gamma: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_soft_dedup_stream`` — the
    streaming member of the reweighting family (VERDICT r14 #5),
    growing the curation set to a SEPTET: arriving documents get a
    SoftDeDup sampling weight scored against a FROZEN reference gram-df
    table built exactly once at processor construction
    (``dedup.build_soft_dedup_ref`` — the fit-once discipline every
    member of the set shares).

    Why this is the right streaming semantics (and why whole-corpus
    ``soft_dedup_weights`` stays batch-only — ROADMAP "streaming
    soft-dedup", the containment precedent): the batch operator's
    commonness denominator is the WHOLE corpus's gram document
    frequency — a per-batch df is meaningless, and a running
    cross-batch df would retroactively change earlier docs' weights
    (no longer stream == batch). Against frozen artifacts a doc's
    weight is a pure function of (its grams, the artifacts), so
    shard-invariance and replay idempotence hold exactly — and the
    frozen estimator is deliberately membership-free (df/N, not the
    in-corpus (df-1)/(N-1); see ``dedup.soft_dedup_against``).

    State lifecycle: ``{state_dir}/model/{dfreq,meta}`` parquet (written
    once; the reference df deliberately counts replicas — duplication
    IS the commonness signal, see ``build_soft_dedup_ref``); per-batch
    output overwrites ``{state_dir}/weights/batch=<id>`` (the
    at-least-once replay discipline shared by the whole set)."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        SOFT_DEDUP_GAMMA,
        build_soft_dedup_ref,
        soft_dedup_against,
    )

    gam = SOFT_DEDUP_GAMMA if gamma is None else gamma
    spark = ref_docs.sparkSession
    ddir = f"{state_dir}/model/dfreq"
    mdir = f"{state_dir}/model/meta"
    outdir = f"{state_dir}/weights"
    if not (dir_has_data(spark, ddir) and dir_has_data(spark, mdir)):
        dfreq, meta = build_soft_dedup_ref(
            ref_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            n=n,
        )
        dfreq.write.mode("overwrite").parquet(ddir)
        meta.coalesce(1).write.mode("overwrite").parquet(mdir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        dfreq = bspark.read.parquet(ddir)
        meta = bspark.read.parquet(mdir)
        out = soft_dedup_against(
            batch.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            dfreq,
            meta,
            n=n,
            gamma=gam,
        )
        out.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    return _process


def read_soft_dedup_weights(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-doc weights scored by the stream so far (union of batch
    partitions; ``batch`` column retained for audit)."""
    return spark.read.option("basePath", f"{state_dir}/weights").parquet(
        f"{state_dir}/weights"
    )


def start_soft_dedup_stream(
    docs: DataFrame,
    ref_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming soft-dedup reweighting: fit-once frozen gram-df
    artifacts, then every micro-batch's docs are weight-scored against
    them; ``read_soft_dedup_weights`` reproduces the batch
    ``soft_dedup_against`` output over all shards seen."""
    return (
        docs.writeStream.foreachBatch(
            soft_dedup_batch_processor(ref_docs, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
