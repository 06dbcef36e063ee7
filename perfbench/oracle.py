"""DuckDB oracle for the reference flow's ``hotels_count`` aggregate.

Computed independently of Spark over the generated JSON files: null-id
filter, lenient date parse, stay bucketing, then per category the hotel
count and the set of distinct hotels. Keeping the sets (not just their
sizes) lets a prefix of a file backlog be checked by union, without
re-reading the files.
"""

from __future__ import annotations

import math

import duckdb

_PER_FILE = """
WITH enriched AS (
  SELECT hotel_id,
         CASE WHEN d IS NULL THEN 'Erroneous data'
              WHEN d BETWEEN 1 AND 4 THEN 'Short stay'
              WHEN d BETWEEN 5 AND 10 THEN 'Standard stay'
              WHEN d BETWEEN 11 AND 14 THEN 'Standard extended stay'
              WHEN d > 14 THEN 'Long stay'
              ELSE 'Erroneous data' END AS stay_category
  FROM (
    SELECT hotel_id,
           datediff('day', try_cast(trim(srch_ci) AS DATE),
                           try_cast(trim(srch_co) AS DATE)) AS d
    FROM read_json(?, format = 'newline_delimited',
                   columns = {id: 'BIGINT', srch_ci: 'VARCHAR',
                              srch_co: 'VARCHAR', hotel_id: 'BIGINT'})
    WHERE id IS NOT NULL
  )
)
SELECT stay_category, count(hotel_id), list(DISTINCT hotel_id)
FROM enriched GROUP BY stay_category
"""

_ROWS = """
SELECT count(*), count(id) FROM read_json(?, format = 'newline_delimited',
  columns = {id: 'BIGINT'})
"""


class FileAggregate:
    """Per-file oracle facts: total rows, non-null-id rows, and per
    category (hotel count, distinct hotel set)."""

    def __init__(self, rows: int, kept: int, cats: dict[str, tuple[int, set[int]]]):
        self.rows = rows
        self.kept = kept
        self.cats = cats


def aggregate_files(paths: list[str]) -> dict[str, FileAggregate]:
    con = duckdb.connect()
    try:
        out = {}
        for p in paths:
            rows, kept = con.execute(_ROWS, [p]).fetchone()
            cats = {
                cat: (n, set(ids))
                for cat, n, ids in con.execute(_PER_FILE, [p]).fetchall()
            }
            out[p] = FileAggregate(rows, kept, cats)
        return out
    finally:
        con.close()


def combine(aggs: list[FileAggregate]) -> dict[str, tuple[int, int]]:
    """Exact ``hotels_count`` over the union of files (repeats allowed)."""
    counts: dict[str, int] = {}
    sets: dict[str, set[int]] = {}
    for a in aggs:
        for cat, (n, ids) in a.cats.items():
            counts[cat] = counts.get(cat, 0) + n
            sets.setdefault(cat, set()).update(ids)
    return {cat: (counts[cat], len(sets[cat])) for cat in counts}


def hll_tolerance(exact: int, rsd: float) -> int:
    """Allowed |approx - exact| for an HLL estimate with relative standard
    deviation ``rsd``: four standard deviations, at least one."""
    return max(1, math.ceil(4 * rsd * exact))


def check_exact(got: dict[str, tuple[int, int]], want: dict[str, tuple[int, int]]) -> list[str]:
    """Mismatches between two exact ``hotels_count`` results."""
    if got == want:
        return []
    return [f"{k}: got {got.get(k)} want {want.get(k)}" for k in sorted(set(got) | set(want))
            if got.get(k) != want.get(k)]


def check_approx(
    got: dict[str, tuple[int, int]], want: dict[str, tuple[int, int]], rsd: float
) -> list[str]:
    """Mismatches for the streaming result: ``hotels_amount`` exact,
    ``distinct_hotels`` within the HLL error implied by ``rsd``."""
    errors = []
    for k in sorted(set(got) | set(want)):
        if k not in got or k not in want:
            errors.append(f"{k}: got {got.get(k)} want {want.get(k)}")
            continue
        (ga, gd), (wa, wd) = got[k], want[k]
        if ga != wa or abs(gd - wd) > hll_tolerance(wd, rsd):
            errors.append(f"{k}: got {got[k]} want {want[k]} (rsd {rsd})")
    return errors
