"""The scoped pin lifecycle (``pins.pin`` / ``pins.query_scope``).

Operators pin and never release; the scope a top-level caller opens
releases exactly its own pins. These tests hold the three properties
that the old process-global FIFO registry broke or never had: a
caller's pin survives a nested operator, a nested scope leaves the
enclosing scope's pins alone, and leaving a scope empties the session
cache. A structural check keeps new persists inside the lifecycle.
"""

from __future__ import annotations

import re
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark import StorageLevel

import __spark_entry__ as entrymod
from m12_kafkastreams_python_azure_spark.operators import dedup as D
from m12_kafkastreams_python_azure_spark.pins import pin, query_scope
from m12_kafkastreams_python_azure_spark.sources.readers import load_table

PKG = Path(__file__).resolve().parent.parent / "m12_kafkastreams_python_azure_spark"


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_callers_pin_survives_nested_operator(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mine = pin(docs.select("doc_id", "lang"))
    D.minhash_near_dup_pairs(docs).count()
    assert _cached(mine)


def test_nested_scope_releases_only_its_own_pins(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with query_scope():
        outer = pin(docs.select("doc_id"), eager=False)
        with query_scope():
            inner = pin(docs.select("doc_id", "lang"), eager=False)
            # an identical plan pinned again stays the outer scope's
            again = pin(docs.select("doc_id"), eager=False)
            assert _cached(inner) and _cached(again)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


@pytest.mark.parametrize(
    "name",
    [
        "clean_corpus",
        "minhash_near_dup",
        "source_overlap",
        "cdc_chunk_dedup",
        "containment_near_dup",
    ],
)
def test_scope_exit_empties_session_cache(spark, sf_dir, name):
    spark.catalog.clearCache()
    with query_scope():
        entrymod.queries()[name](spark, sf_dir).count()
        assert not _cache_empty(spark), f"{name} pinned nothing"
    assert _cache_empty(spark), name


def test_front_door_releases_previous_calls_pins(spark, sf_dir):
    """The driver opens no scope: a front-door call's pins stay for the
    driver's action on its result and go when the next call starts. Run
    on a fresh thread, whose scope stack is empty like the driver's."""
    q = entrymod.queries()

    def drive() -> tuple[bool, bool]:
        q["cdc_chunk_dedup"](spark, sf_dir).count()
        held = not _cache_empty(spark)
        q["mask_field"](spark, sf_dir).count()
        return held, _cache_empty(spark)

    spark.catalog.clearCache()
    with ThreadPoolExecutor(max_workers=1) as pool:
        held, released = pool.submit(drive).result(timeout=600)
    assert held, "call 1 released its pins before the driver's action"
    assert released, "call 2 did not release call 1's pins"


#: the persists allowed outside ``pins.py``: local pairs that release in
#: the same function what they persist, plus pins.py's own
LOCAL_PERSISTS = {
    "pins.py": 1,
    "operators/graph.py": 1,
    "operators/pq.py": 1,
    "operators/ivf.py": 1,
    "streaming/advanced.py": 1,
}


def test_every_persist_goes_through_pin():
    found = Counter()
    for path in PKG.rglob("*.py"):
        n = len(re.findall(r"\.(?:persist|cache)\(", path.read_text()))
        if n:
            found[path.relative_to(PKG).as_posix()] = n
    assert dict(found) == LOCAL_PERSISTS
