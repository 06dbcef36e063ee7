"""Corpus-composition audits over the ``documents`` table: the
distribution- and contamination-level checks a curation stack runs
BEFORE committing a training mix (the per-doc and per-pair operators
live in ``corpus.py`` / ``dedup.py`` / ``curation.py``; these look at
whole SOURCES against each other).

- ``source_overlap`` — cross-source contamination matrix: for every
  source pair, how many distinct word n-gram spans they share, and the
  containment fraction (shared / smaller source's gram vocabulary).
  The "is source B scraped from source A" signal that decides whether
  two sources may both enter a mix at full weight.
- ``source_length_drift`` — per-source length-distribution drift vs the
  whole corpus as a Kolmogorov-Smirnov statistic over BUCKETED token
  counts: the cheap distribution-shift alarm for a source whose docs
  suddenly run short (truncation bug) or long (concatenation bug).

Scale notes on the functions; no Python UDFs, no cartesian products,
no corpus-sized windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.pins import pin
from m12_kafkastreams_python_azure_spark.sources.readers import load_table

OVERLAP_NGRAM = 8

DRIFT_BUCKET_WORDS = 8   # bucket width in tokens
DRIFT_MAX_BUCKET = 32    # lengths >= 256 tokens collapse into the top bucket


def source_overlap(
    docs: DataFrame, n: int = OVERLAP_NGRAM
) -> DataFrame:
    """(source_a, source_b, shared_grams, containment) for every source
    pair sharing at least one distinct word ``n``-gram; source_a <
    source_b lexicographically; containment = shared / min(|grams_a|,
    |grams_b|), the asymmetric-size-robust overlap measure (Broder's
    containment, the right statistic when one source is tiny).

    Scale shape: ONE distinct over (gram, source) — the gram explode is
    the same fan-out every n-gram operator pays, immediately collapsed
    to the per-source gram vocabulary. The pair build is a self
    equi-join ON GRAM of that distinct table: rows per gram =
    |sources carrying it| choose 2, bounded by the SOURCE count squared
    (never the corpus), and typically 0-1 because most grams live in
    one source. Per-source totals are a |sources|-row aggregate,
    broadcast back. Output is at most |sources| choose 2 rows."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import word_ngrams

    # Pinned (r21, guide §5): the distinct (source, gram) table feeds
    # THREE subtrees (per-source totals + both self-join sides) and the
    # r21 stage profile showed the corpus gram explode executing twice
    # (2.8 s of the query's 3.2 s stage wall — single-task each, because
    # the single-file scan gotcha keeps a bare explode on one core; the
    # q_ entry now parallel_scans first). One explode materializes the
    # cache; totals and both join sides are cache reads.
    gs = pin(
        docs.select(
            "source", F.explode(word_ngrams(F.col("text"), n)).alias("gram")
        ).distinct()
    )
    totals = gs.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = gs.select(F.col("source").alias("source_a"), "gram")
    b = gs.select(F.col("source").alias("source_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_grams").alias("ga"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_grams").alias("gb"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.round(
                F.col("shared_grams")
                / F.least(F.col("ga"), F.col("gb")).cast("double"),
                6,
            ).alias("containment"),
        )
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        parallel_scan,
    )

    # parallel_scan: single-file testdata otherwise runs the 8-gram
    # explode in one scan task (the verify-skill gotcha)
    return source_overlap(parallel_scan(load_table(spark, sf_dir, "documents")))


def _oracle_source_overlap(n: int = OVERLAP_NGRAM) -> str:
    # gram spelling mirrors corpus.word_ngrams (trim + \s+ split, space
    # join), as in the dup_span_coverage oracle
    return f"""
WITH toks AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
gs AS (
  SELECT DISTINCT source,
         array_to_string(w[i:i+{n - 1}], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(w) - {n - 1})) AS i) t
  WHERE len(w) >= {n}
),
totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM gs GROUP BY source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM gs a JOIN gs b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, s.shared_grams,
       ROUND(s.shared_grams / CAST(least(ta.n_grams, tb.n_grams) AS DOUBLE), 6)
         AS containment
FROM shared s
JOIN totals ta ON s.source_a = ta.source
JOIN totals tb ON s.source_b = tb.source
"""


ORACLE_SOURCE_OVERLAP = _oracle_source_overlap()


def source_length_drift(
    docs: DataFrame,
    bucket_words: int = DRIFT_BUCKET_WORDS,
    max_bucket: int = DRIFT_MAX_BUCKET,
) -> DataFrame:
    """(source, n_docs, ks_stat): per-source Kolmogorov-Smirnov distance
    between the source's token-length distribution and the whole
    corpus's, computed over fixed-width length buckets — the bucketing
    makes the statistic fully distributive (the alternative, exact
    per-source ECDFs, needs every length value in one place).

    Scale shape: one narrow pass buckets each doc
    (``least(max_bucket, len/bucket_words)``); histograms are
    (source, bucket) / (bucket) aggregates — at most |sources| *
    (max_bucket+1) rows ever exist past the scan. The CDF windows run
    over the DENSE bucket spine (a generated |sources| x (max_bucket+1)
    grid left-joined onto the histogram), so per-window state is
    max_bucket+1 rows regardless of corpus size; the KS max-abs-diff is
    a final |sources|-group aggregate."""
    nt = F.size(F.split(F.trim("text"), r"\s+"))
    # NULL text is excluded up front (identically in the oracle): the two
    # engines disagree on what bucket a NULL length lands in (Spark's
    # size(NULL) is NULL -> NULL bucket outside the spine grid; DuckDB's
    # least skips the NULL -> max_bucket), and a doc with no text has no
    # length to drift anyway — r8 ADVICE.
    bucketed = docs.filter(F.col("text").isNotNull()).select(
        "source",
        F.least(
            F.lit(max_bucket), F.floor(nt / F.lit(bucket_words)).cast("int")
        ).alias("bucket"),
    )
    hist = bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    ghist = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("gc"))
    n_total = bucketed.agg(F.count(F.lit(1)).alias("nt_all"))
    src_totals = bucketed.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    spine = src_totals.select(
        "source",
        "ns",
        F.explode(F.sequence(F.lit(0), F.lit(max_bucket))).alias("bucket"),
    )
    grid = (
        spine.join(hist, ["source", "bucket"], "left")
        .join(F.broadcast(ghist), "bucket", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "source",
            "bucket",
            "ns",
            "nt_all",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("gc", F.lit(0)).alias("gc"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdfs = grid.select(
        "source",
        "ns",
        (F.sum("c").over(w) / F.col("ns")).alias("cdf_s"),
        (F.sum("gc").over(w) / F.col("nt_all")).alias("cdf_g"),
    )
    return (
        cdfs.groupBy("source")
        .agg(
            F.first("ns").alias("n_docs"),
            F.round(F.max(F.abs(F.col("cdf_s") - F.col("cdf_g"))), 6).alias(
                "ks_stat"
            ),
        )
        .select("source", F.col("n_docs").cast("long").alias("n_docs"), "ks_stat")
    )


def q_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_length_drift(load_table(spark, sf_dir, "documents"))


def _oracle_source_length_drift(
    bucket_words: int = DRIFT_BUCKET_WORDS, max_bucket: int = DRIFT_MAX_BUCKET
) -> str:
    return f"""
WITH bucketed AS (
  SELECT source,
         least({max_bucket},
               CAST(floor(len(string_split_regex(trim(text), '\\s+'))
                          / {bucket_words}) AS INTEGER)) AS bucket
  FROM documents
  WHERE text IS NOT NULL
),
hist AS (
  SELECT source, bucket, count(*) AS c FROM bucketed GROUP BY source, bucket
),
ghist AS (
  SELECT bucket, count(*) AS gc FROM bucketed GROUP BY bucket
),
src_totals AS (
  SELECT source, count(*) AS ns FROM bucketed GROUP BY source
),
n_total AS (
  SELECT count(*) AS nt_all FROM bucketed
),
spine AS (
  SELECT s.source, s.ns, b.bucket
  FROM src_totals s,
       LATERAL (SELECT unnest(generate_series(0, {max_bucket})) AS bucket) b
),
grid AS (
  SELECT sp.source, sp.bucket, sp.ns, n.nt_all,
         coalesce(h.c, 0) AS c, coalesce(g.gc, 0) AS gc
  FROM spine sp
  LEFT JOIN hist h ON sp.source = h.source AND sp.bucket = h.bucket
  LEFT JOIN ghist g ON sp.bucket = g.bucket
  CROSS JOIN n_total n
),
cdfs AS (
  SELECT source, ns,
         SUM(c) OVER (PARTITION BY source ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) / CAST(ns AS DOUBLE) AS cdf_s,
         SUM(gc) OVER (PARTITION BY source ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) / CAST(nt_all AS DOUBLE) AS cdf_g
  FROM grid
)
SELECT source, CAST(min(ns) AS BIGINT) AS n_docs,
       ROUND(max(abs(cdf_s - cdf_g)), 6) AS ks_stat
FROM cdfs
GROUP BY source
"""


ORACLE_SOURCE_LENGTH_DRIFT = _oracle_source_length_drift()


# ------------------------------------------------------ n-gram novelty

NOVELTY_N = 4


def ngram_novelty(
    docs: DataFrame, n: int = NOVELTY_N, use_hashed_grams: bool = True
) -> DataFrame:
    """Per-document novelty: the fraction of its word n-grams whose FIRST
    corpus occurrence (lowest doc_id) is this document — the audit that
    shows duplication accumulating through an ordered corpus (late
    shards of a crawl re-crawl early content; novelty decays toward 0)
    and the signal curriculum-ordering work thresholds.

    Shape (the ExactSubstr first-occurrence discipline,
    curation.exact_substring_dedup): first-owner per gram is a
    gram-keyed min AGGREGATE (partial map-side — never a window over
    the hottest gram, whose partition would be corpus-sized for a
    boilerplate gram), joined back onto the per-(doc, gram) distinct
    set, then one doc-keyed agg. Two bounded shuffles total.

    ``use_hashed_grams`` (default) shuffles xxhash64(gram) — 8 bytes
    instead of a ~25-char string, the ExactSubstr hashed-gram shuffle
    discipline (curation.exact_substring_dedup). The OUTPUT is
    identical for any collision-free hashing (keys are internal only),
    so the hashed spelling stays fully oracle-checked; a 64-bit
    collision (~1e-11 at millions of grams, deterministic per corpus)
    would surface in the sweep immediately. String-path parity is also
    pinned by test."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import word_ngrams

    gram_expr = F.explode(word_ngrams(F.col("text"), n)).alias("gram")
    key = F.xxhash64("gram") if use_hashed_grams else F.col("gram")
    grams = (
        docs.select("doc_id", gram_expr)
        .select("doc_id", key.alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    first_owner = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_owner, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_distinct_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_distinct_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(load_table(spark, sf_dir, "documents"))


def _oracle_ngram_novelty() -> str:
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        word_ngrams_sql,
    )

    return f"""
WITH grams AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (
    SELECT doc_id, unnest({word_ngrams_sql('text', NOVELTY_N)}) AS gram
    FROM documents
  )
  GROUP BY 1, 2
),
first_owner AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1
)
SELECT g.doc_id,
       count(*) AS n_distinct_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM grams g JOIN first_owner f USING (gram)
GROUP BY 1
"""


ORACLE_NGRAM_NOVELTY = _oracle_ngram_novelty()


# ------------------------------------------------ Zipf vocabulary audit

ZIPF_MAX_RANK = 10_000  # fit the regression on the frequency head only
ZIPF_SALT_P = 32        # phase-1 salt cells per slice (bounds task state)


def zipf_vocab_audit(
    docs: DataFrame, group_col: str = "source", max_rank: int = ZIPF_MAX_RANK
) -> DataFrame:
    """Per-slice Zipf fit: least-squares slope of log(freq) on log(rank)
    over the slice's word-frequency head, plus type/token totals.
    Natural text sits near slope -1 (Zipf 1949); template/boilerplate
    expansions and model-generated loops flatten toward 0 (few types,
    near-uniform head), while key-mashing/random-id corpora steepen past
    -1.5 with huge type counts — a one-row-per-source screen for
    degenerate slices that per-doc quality gates (gopher, classifier)
    miss because every individual document looks fine.

    Output per slice: (source, n_types, n_tokens, zipf_slope, zipf_r2)
    — slope/r2 via closed-form covar_pop/var_pop/corr on (ln rank,
    ln freq), identical in DuckDB, ties in frequency broken by word so
    ranks are a total order on both engines.

    Scale shape: one tokenize+explode, one (slice, word) count with
    map-side partials, then the head extraction as a SALTED TWO-PHASE
    top-``max_rank`` (the hash_sample_per_group / domain_cap
    discipline): phase 1 ranks inside (slice, salt) — a slice's type
    table spreads over ``ZIPF_SALT_P`` tasks, each buffering at most
    vocab/SALT_P rows — and keeps at most ``max_rank`` per cell; phase
    2's per-slice window then ranks at most SALT_P x max_rank
    survivors. The global per-slice top-``max_rank`` under the
    (freq desc, word) total order is a subset of the union of per-cell
    tops (every global-head row is also in its own cell's head), so the
    result is EXACTLY the single-window answer and the oracle keeps the
    one-window spelling. The naive single window buffered a slice's
    ENTIRE vocabulary on one reducer — unbounded precisely for the
    key-mashing/random-id corpora this audit exists to flag (VERDICT
    r13 #2). Trim to ``max_rank`` before the regression (the head is
    where the power law holds; the tail is sampling noise), then a
    slice-keyed closed-form aggregate. Totals come from the same type
    table."""
    words = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    )
    freq = words.groupBy("grp", "word").agg(F.count(F.lit(1)).alias("freq"))
    totals = freq.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
    )
    salted = freq.withColumn(
        "_zsalt", F.pmod(F.xxhash64("word"), F.lit(ZIPF_SALT_P))
    )
    w1 = Window.partitionBy("grp", "_zsalt").orderBy(
        F.col("freq").desc(), F.col("word").asc()
    )
    survivors = (
        salted.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= max_rank)
    )
    w2 = Window.partitionBy("grp").orderBy(
        F.col("freq").desc(), F.col("word").asc()
    )
    head = (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= max_rank)
        .select(
            "grp",
            F.log(F.col("rank").cast("double")).alias("lr"),
            F.log(F.col("freq").cast("double")).alias("lf"),
        )
    )
    # slope/r2 from raw moments with explicit zero-variance guards —
    # F.corr under ANSI mode THROWS on a zero-variance side, and the
    # zero-variance cases are exactly the degenerate slices this audit
    # exists to flag (uniform head: var(lf)=0 -> slope 0, r2 NULL;
    # single-type slice: var(lr)=0 -> both NULL). The oracle mirrors the
    # same CASE arithmetic rather than relying on either engine's
    # corr-at-zero-variance behavior.
    moments = head.groupBy("grp").agg(
        F.covar_pop("lr", "lf").alias("c"),
        F.var_pop("lr").alias("vlr"),
        F.var_pop("lf").alias("vlf"),
    )
    fit = moments.select(
        "grp",
        F.when(
            F.col("vlr") > 0, F.round(F.col("c") / F.col("vlr"), 6)
        ).alias("zipf_slope"),
        F.when(
            (F.col("vlr") > 0) & (F.col("vlf") > 0),
            F.round(
                F.col("c") * F.col("c") / (F.col("vlr") * F.col("vlf")), 6
            ),
        ).alias("zipf_r2"),
    )
    return (
        totals.join(fit, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_types",
            "n_tokens",
            "zipf_slope",
            "zipf_r2",
        )
    )


def q_zipf_vocab_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_vocab_audit(load_table(spark, sf_dir, "documents"))


ORACLE_ZIPF_VOCAB_AUDIT = f"""
WITH words AS (
  SELECT source AS grp,
         unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
), freq AS (
  SELECT grp, word, CAST(count(*) AS BIGINT) AS freq
  FROM words GROUP BY grp, word
), totals AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(freq) AS BIGINT) AS n_tokens
  FROM freq GROUP BY grp
), head AS (
  SELECT grp, ln(CAST(rank AS DOUBLE)) AS lr, ln(CAST(freq AS DOUBLE)) AS lf
  FROM (
    SELECT grp, freq,
           row_number() OVER (PARTITION BY grp ORDER BY freq DESC, word)
             AS rank
    FROM freq
  ) WHERE rank <= {ZIPF_MAX_RANK}
), moments AS (
  SELECT grp, covar_pop(lr, lf) AS c,
         var_pop(lr) AS vlr, var_pop(lf) AS vlf
  FROM head GROUP BY grp
), fit AS (
  SELECT grp,
         CASE WHEN vlr > 0 THEN ROUND(c / vlr, 6) END AS zipf_slope,
         CASE WHEN vlr > 0 AND vlf > 0
              THEN ROUND(c * c / (vlr * vlf), 6) END AS zipf_r2
  FROM moments
)
SELECT grp AS source, n_types, n_tokens, zipf_slope, zipf_r2
FROM totals JOIN fit USING (grp)
"""


# -------------------------------------- vocabulary KL drift per source

VOCAB_KL_ALPHA = 0.5  # add-alpha smoothing over the joint vocabulary


def vocab_kl_drift(
    docs: DataFrame, group_col: str = "source", alpha: float = VOCAB_KL_ALPHA
) -> DataFrame:
    """Per-slice KL divergence of the slice's word distribution from the
    whole corpus's — KL(P_s || Q) with add-``alpha`` smoothing over the
    JOINT vocabulary. The companion of ``source_length_drift`` (lengths)
    and ``zipf_vocab_audit`` (shape): a slice whose VOCABULARY drifts —
    a crawl source flipping language, template spam flooding one feed,
    machine-generated filler — scores high here while per-doc gates see
    nothing wrong.

    Closed form, never a per-word loop over absent words: with
    denom_s = n_s + alpha*V, p0 = alpha/denom_s (every absent word's
    smoothed mass), and lnQ(w) = ln(c_w + alpha) - ln(N + alpha*V),

      KL = [ A_s + (n_s + alpha*V_s) * (ln(N + alpha*V) - ln(denom_s))
             - 0 ] / denom_s                       (present words)
         + p0 * ((V - V_s) * ln(p0) - (LQ - LQ_s)) (absent words)

    where A_s = sum over present words of (c_sw + alpha) *
    (ln(c_sw + alpha) - ln(c_w + alpha)), LQ = sum over the vocab of
    lnQ(w), LQ_s its per-slice present part — every piece is one
    aggregate over the (slice, word) count table. Mirrored term for term
    in DuckDB.

    Scale shape: one tokenize+explode, one (slice, word) count with
    map-side partials, one word-keyed join of the per-slice counts to
    the corpus counts (both vocab-bounded — the BPE/LM model-table
    bound), a slice-keyed aggregate, and one broadcast 1-row scalar.
    Output per slice: (source, n_tokens, n_types, kl_vs_corpus)."""
    a = float(alpha)
    words = docs.filter(F.col("text").isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    )
    sw = words.groupBy("grp", "word").agg(F.count(F.lit(1)).alias("c_sw"))
    wt = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    scal = wt.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("c_w").cast("double").alias("n_total"),
        F.sum(F.log(F.col("c_w") + F.lit(a))).alias("sum_ln_cw"),
    )
    per = (
        sw.join(wt, "word")
        .groupBy("grp")
        .agg(
            F.sum("c_sw").alias("n_s"),
            F.count(F.lit(1)).cast("double").alias("v_s"),
            F.sum(
                (F.col("c_sw") + F.lit(a))
                * (
                    F.log(F.col("c_sw") + F.lit(a))
                    - F.log(F.col("c_w") + F.lit(a))
                )
            ).alias("a_term"),
            F.sum(F.log(F.col("c_w") + F.lit(a))).alias("s_ln_cw"),
        )
        .crossJoin(F.broadcast(scal))
    )
    denom = F.col("n_s").cast("double") + F.lit(a) * F.col("v")
    ln_nd = F.log(F.col("n_total") + F.lit(a) * F.col("v"))
    present = (
        F.col("a_term")
        + (F.col("n_s").cast("double") + F.lit(a) * F.col("v_s"))
        * (ln_nd - F.log(denom))
    ) / denom
    p0 = F.lit(a) / denom
    lq = F.col("sum_ln_cw") - F.col("v") * ln_nd
    lq_s = F.col("s_ln_cw") - F.col("v_s") * ln_nd
    absent = p0 * ((F.col("v") - F.col("v_s")) * F.log(p0) - (lq - lq_s))
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n_s").alias("n_tokens"),
        F.col("v_s").cast("long").alias("n_types"),
        F.round(present + absent, 6).alias("kl_vs_corpus"),
    )


def q_vocab_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_kl_drift(load_table(spark, sf_dir, "documents"))


ORACLE_VOCAB_KL_DRIFT = f"""
WITH words AS (
  SELECT source AS grp,
         unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
), sw AS (
  SELECT grp, word, CAST(count(*) AS BIGINT) AS c_sw
  FROM words GROUP BY grp, word
), wt AS (
  SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY word
), scal AS (
  SELECT CAST(count(*) AS DOUBLE) AS v,
         CAST(sum(c_w) AS DOUBLE) AS n_total,
         sum(ln(c_w + {VOCAB_KL_ALPHA!r})) AS sum_ln_cw
  FROM wt
), per AS (
  SELECT grp,
         CAST(sum(c_sw) AS BIGINT) AS n_s,
         CAST(count(*) AS DOUBLE) AS v_s,
         sum((c_sw + {VOCAB_KL_ALPHA!r})
             * (ln(c_sw + {VOCAB_KL_ALPHA!r}) - ln(c_w + {VOCAB_KL_ALPHA!r})))
           AS a_term,
         sum(ln(c_w + {VOCAB_KL_ALPHA!r})) AS s_ln_cw
  FROM sw JOIN wt USING (word) GROUP BY grp
)
SELECT grp AS source, n_s AS n_tokens, CAST(v_s AS BIGINT) AS n_types,
       ROUND(
         (a_term + (CAST(n_s AS DOUBLE) + {VOCAB_KL_ALPHA!r} * v_s)
                   * (ln(n_total + {VOCAB_KL_ALPHA!r} * v)
                      - ln(CAST(n_s AS DOUBLE) + {VOCAB_KL_ALPHA!r} * v)))
         / (CAST(n_s AS DOUBLE) + {VOCAB_KL_ALPHA!r} * v)
         + ({VOCAB_KL_ALPHA!r} / (CAST(n_s AS DOUBLE) + {VOCAB_KL_ALPHA!r} * v))
           * ((v - v_s)
              * ln({VOCAB_KL_ALPHA!r}
                   / (CAST(n_s AS DOUBLE) + {VOCAB_KL_ALPHA!r} * v))
              - ((sum_ln_cw - v * ln(n_total + {VOCAB_KL_ALPHA!r} * v))
                 - (s_ln_cw - v_s * ln(n_total + {VOCAB_KL_ALPHA!r} * v)))),
         6) AS kl_vs_corpus
FROM per, scal
"""
