"""Screened containment (winnow screen -> full-gram verify) and the
subsumption-prune consumer (ROADMAP r17 #2, built in r16): subset-parity
vs the exact operator, planted-excerpt recall, chain pruning, exact-dup
scope, and the cartesian-free plan pin.

Reference parity note: the reference app (src/main.py) has no near-dup
surface at all — this guards the training-data-pipeline extension tier.
"""

from __future__ import annotations

import re

from m12_kafkastreams_python_azure_spark.operators import dedup as D
from m12_kafkastreams_python_azure_spark.sources.readers import (
    load_table,
    parallel_scan,
)

SF = "/root/testdata/sf0.001"


def _planted(spark):
    docs = parallel_scan(load_table(spark, SF, "documents"))
    return D.docs_with_planted_contained(docs)


def _pairs_by_id(rows):
    return {
        (r.id_a, r.id_b): (
            r.shared_grams,
            r.containment_a,
            r.containment_b,
            r.containment,
        )
        for r in rows
    }


def test_screened_is_subset_of_exact_with_identical_values(spark):
    """The verify math is containment_pairs' math: every emitted pair
    must exist in the exact output with byte-identical values — the
    screen may only REMOVE pairs, never change one."""
    docs = _planted(spark)
    exact = _pairs_by_id(D.containment_pairs(docs).collect())
    screened = _pairs_by_id(D.containment_screened(docs).collect())
    assert screened, "screen killed every pair"
    for key, vals in screened.items():
        assert key in exact, f"screened emitted a pair exact never found: {key}"
        assert vals == exact[key], f"value drift on {key}: {vals} vs {exact[key]}"


def test_screened_full_planted_recall(spark):
    """Every planted prefix-excerpt pair the exact operator finds (the
    id_b - id_a == CONTAIN_CLONE_SHIFT population) must survive the
    screen: a contiguous 60%-prefix excerpt shares whole fingerprint
    RUNS with its original, so fingerprint containment sits far above
    the 0.5 screen bound."""
    docs = _planted(spark)

    def planted(rows):
        return {
            (r.id_a, r.id_b)
            for r in rows
            if r.id_b - r.id_a == D.CONTAIN_CLONE_SHIFT
        }

    exact = planted(D.containment_pairs(docs).collect())
    screened = planted(D.containment_screened(docs).collect())
    assert exact, "fixture lost its planted pairs"
    assert screened == exact


def test_subsumption_prune_partitions_the_reps(spark):
    """kept ∪ dropped == distinct contents, and the dropped set is
    exactly the mostly-contained side of each pair (exact method — the
    default; the screened method must agree wherever its pairs do)."""
    docs = _planted(spark)
    kept = {r.doc_id for r in D.subsumption_prune(docs).collect()}
    reps = {
        r.doc_id
        for r in D.collapse_reps_only(docs.select("doc_id", "text")).collect()
    }
    expected_drop = set()
    for r in D.containment_pairs(docs).collect():
        if r.containment_a > r.containment_b:
            expected_drop.add(r.id_a)
        elif r.containment_b > r.containment_a:
            expected_drop.add(r.id_b)
        else:
            expected_drop.add(max(r.id_a, r.id_b))
    assert kept == reps - expected_drop
    assert expected_drop, "fixture produced no drops"


def test_subsumption_prune_screened_method_agrees_on_planted(spark):
    """method="screened" must keep a SUPERSET of the exact keep-list
    (its pair set is a subset, so it can only drop less) and still drop
    every planted clone (full short+planted recall through the screen)."""
    docs = _planted(spark)
    kept_exact = {r.doc_id for r in D.subsumption_prune(docs).collect()}
    kept_scr = {
        r.doc_id for r in D.subsumption_prune(docs, method="screened").collect()
    }
    assert kept_exact <= kept_scr
    clones = {
        r.doc_id
        for r in D.collapse_reps_only(docs.select("doc_id", "text"))
        .where(f"doc_id >= {D.CONTAIN_CLONE_SHIFT}")
        .collect()
    }
    assert clones, "fixture lost its planted clones"
    assert not (clones & kept_scr)


def test_chain_keeps_only_maximal_docs(spark):
    """A ⊂ B ⊂ C chain: greedy drop-the-contained-side leaves exactly
    the maximal element; an exact duplicate of C collapses to C's rep
    and never reaches the pair stage (distinct-contents scope)."""
    base = " ".join(f"w{i}" for i in range(90))
    toks = base.split()
    rows = [
        (1, " ".join(toks[:30])),
        (2, " ".join(toks[:60])),
        (3, base),
        (5, base),  # exact duplicate of 3 -> collapses to rep 3
        (4, " ".join(f"z{i} q{i}" for i in range(30))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in D.subsumption_prune(docs).collect()}
    assert kept == {3, 4}


def _uniq_nodes(tree: str, node: str) -> int:
    return len(set(re.findall(node + r"[^(]*\((\d+)\)", tree)))


def test_screened_plan_is_cartesian_free(spark, sf_dir):
    """Plan pin (the weighted_budget_select discipline, VERDICT r15 #7):
    screen + verify are equi-joins end to end — no cartesian, no
    nested-loop anywhere (the candidate fan-out is a broadcast HASH join
    on id_a, the shared-gram count an (id_b, gram) equi-join)."""
    from m12_kafkastreams_python_azure_spark.pins import query_scope
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str

    spark.catalog.clearCache()
    with query_scope():
        s = explain_str(D.q_containment_screened(spark, sf_dir))
    tree = s.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert _uniq_nodes(tree, "BroadcastHashJoin") >= 1, tree
