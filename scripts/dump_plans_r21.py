"""Dump explain("formatted") for named queries to plans/r21/<q>_<tag>.txt.

Usage: python scripts/dump_plans_r21.py <tag> [query ...]
  tag: 'before' or 'after' (file suffix)
  queries: names from __spark_entry__.queries(); default = the round-20
  optimization watchlist (the slow tail of BENCH_r19).

Construction-eager queries still produce a plan for the returned
DataFrame; the collapse persists they run at construction are part of
the operator and show up as InMemoryTableScan leaves.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "embedding_near_dup_lsh",
    "winnow_pairs",
    "containment_screened",
    "excerpt_screen",
    "subsumption_prune",
    "semantic_dedup",
    "source_overlap",
    "containment_near_dup",
    "phash_near_dup",
    "audio_near_dup",
    "video_near_dup",
    "ann_ivfpq",
    "ann_pq",
    "knn_label_vote",
    "dsir_resample",
    "simhash_near_dup",
    "doremi_resample",
    "ngram_novelty",
    "bigram_lm_score",
    "cms_merge_bound",
    "ccnet_buckets",
    "token_budget_select",
    "tokenizer_fertility",
    "bpe_encode",
    "hybrid_rrf_multi",
    "cdc_chunk_dedup",
    "knn_ivf_agreement",
    "minhash_near_dup",
    "url_dedup",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r21",
    )
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from m12_kafkastreams_python_azure_spark.pins import query_scope
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    spark = get_spark(app_name="plans-r21")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        try:
            with query_scope():
                plan = explain_str(queries[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
