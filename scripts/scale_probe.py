"""Reproducible 10x scale probe for the corpus/layout operator waves.

Synthesizes 10x-replicated documents and events tables (key-shifted, the
same recipe as the SCALE.md ladders) under a temp dir, then measures:

- corpus-hygiene ops (decontaminate / gopher_quality / bigram_lm_score)
  at 1x vs 10x documents — the explode+agg pipelines whose per-doc work
  must stay constant;
- the Z-order layout payoff at 10x events: wall time of a selective 2-D
  read against a z-ordered vs arrival-order parquet layout.

Prints one JSON line. Usage: python scripts/scale_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from m12_kafkastreams_python_azure_spark.operators import corpus as C  # noqa: E402
from m12_kafkastreams_python_azure_spark.pins import query_scope  # noqa: E402
from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402
from m12_kafkastreams_python_azure_spark.sources.layout import zorder_by  # noqa: E402
from m12_kafkastreams_python_azure_spark.sources.readers import (  # noqa: E402
    load_table,
    parallel_scan,
)

REPLICAS = 10
# the layout payoff needs enough rows that scan cost dominates job
# overhead; 50x events (5M rows over 64 files) is the smallest scale
# where the file-skipping difference is not noise
LAYOUT_REPLICAS = 50


def timed(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        with query_scope():
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"sf_dir": sf_dir, "replicas": REPLICAS}

    # ---- 10x documents (doc_id shifted per replica) ----------------------
    docs1 = load_table(spark, sf_dir, "documents")
    n1 = docs1.count()
    docs10 = docs1
    for i in range(1, REPLICAS):
        docs10 = docs10.unionByName(
            docs1.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        )
    # each timed run opens its own pin scope, so it re-pins its own input —
    # the pin cost is part of the measured operator, same as in the bench.
    out["docs_1x"] = n1
    out["docs_10x"] = n1 * REPLICAS

    from m12_kafkastreams_python_azure_spark.operators import audits as AU
    from m12_kafkastreams_python_azure_spark.operators import curation as CU2
    from m12_kafkastreams_python_azure_spark.operators import dsir as DS

    def _dsir(docs):
        # same split as q_dsir_resample; replicas repeat every source, so
        # both halves scale 10x together
        tgt = docs.filter(F.col("source").isin(*DS.DSIR_TARGET_SOURCES))
        raw = docs.filter(~F.col("source").isin(*DS.DSIR_TARGET_SOURCES))
        return DS.dsir_resample(tgt, raw)

    for name, fn in (
        ("decontaminate", C.decontaminate),
        ("gopher_quality", C.gopher_quality),
        ("bigram_lm_score", C.bigram_lm_score),
        # VERDICT r10 #3: the round-10 gram-keyed newcomers join the
        # ladder — decontaminate_bloom (bit-array prefilter + confirm
        # join) and ngram_novelty (gram-keyed min-agg) must show the
        # same sublinear 10x factors as the dedup suite
        ("decontaminate_bloom", C.decontaminate_bloom),
        ("ngram_novelty", AU.ngram_novelty),
        # round-11 newcomer: hashed-n-gram models + Gumbel top-n — the
        # models stay 256-row broadcasts at any corpus size, so the
        # factor should track the explode+sum shuffle alone
        ("dsir_resample", _dsir),
        # round-11 late wave: per-lang LM terciles (the exact-percentile
        # window is the documented caveat — the 10x factor shows its
        # cost), CDC chunk dedup (10x-replicated docs are the
        # worst-case all-chunks-shared corpus), and temperature
        # sampling (|langs|-row rates — should be ~flat)
        ("ccnet_buckets", C.ccnet_buckets),
        ("cdc_chunk_dedup", CU2.cdc_chunk_dedup),
        ("temperature_sample", CU2.temperature_sample),
    ):
        t1 = timed(lambda: fn(parallel_scan(docs1)).count())
        t10 = timed(lambda: fn(parallel_scan(docs10)).count())
        out[f"{name}_1x_s"] = t1
        out[f"{name}_10x_s"] = t10
        out[f"{name}_scale"] = round(t10 / t1, 2) if t1 else None

    # ---- Z-order payoff at 10x events ------------------------------------
    ev1 = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    ev10 = ev1
    for i in range(1, LAYOUT_REPLICAS):
        ev10 = ev10.unionByName(
            ev1.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
        )
    # Quantile-based box bounds: value is heavy-tailed, so min-max
    # fractions would select ~nothing; p10/p90 gives a real ~1% 2-D box.
    u10 = ev10.stat.approxQuantile("user_id", [0.1], 0.001)[0]
    v90 = ev10.stat.approxQuantile("value", [0.9], 0.001)[0]
    work = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        base_dir, zord_dir = f"{work}/base", f"{work}/zord"
        ev10.repartition(64).write.parquet(base_dir)
        zorder_by(ev10, "user_id", "value", num_files=64).write.parquet(zord_dir)
        pred = (F.col("user_id") < u10) & (F.col("value") > v90)

        def read_count(path: str) -> int:
            return (
                spark.read.parquet(path)
                .filter(pred)
                .agg(F.count(F.lit(1)), F.sum("value"))
                .collect()[0][0]
            )

        n_base = read_count(base_dir)
        n_zord = read_count(zord_dir)
        assert n_base == n_zord, (n_base, n_zord)
        out["events_layout"] = ev10.count()
        out["selective_rows"] = n_base
        out["read_unordered_s"] = timed(lambda: read_count(base_dir), runs=3)
        out["read_zordered_s"] = timed(lambda: read_count(zord_dir), runs=3)
        # The structural payoff: how many files could footer min/max stats
        # PRUNE for this 2-D box. (Wall time at this scale is dominated by
        # fixed job overhead — a vectorized 5M-row scan is ~0.2 s either
        # way; at 100 TB the pruned fraction IS the cost ratio.)
        import glob

        import pyarrow.parquet as pq

        def files_matching(d: str) -> tuple[int, int]:
            total, matching = 0, 0
            for f in glob.glob(f"{d}/*.parquet"):
                total += 1
                md = pq.read_metadata(f)
                mins: dict[str, float] = {}
                maxs: dict[str, float] = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        name = col.path_in_schema
                        if name in ("user_id", "value") and col.statistics:
                            s = col.statistics
                            mins[name] = min(mins.get(name, s.min), s.min)
                            maxs[name] = max(maxs.get(name, s.max), s.max)
                if "user_id" not in mins or "value" not in mins:
                    continue  # empty file / no stats: prunes trivially
                if mins["user_id"] < u10 and maxs["value"] > v90:
                    matching += 1
            return matching, total

        mb, tb = files_matching(base_dir)
        mz, tz = files_matching(zord_dir)
        out["files_scanned_unordered"] = f"{mb}/{tb}"
        out["files_scanned_zordered"] = f"{mz}/{tz}"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
