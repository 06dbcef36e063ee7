"""Seeded, vectorized generator of expedia-shaped ingest files.

The stay-duration mix mirrors ``tests/fixtures.gen_expedia_rows`` (check-in
uniform over 300 days from 2025-01-01; ~0.08% ``not-a-date``, ~0.05% empty
check-in, ~0.07% ``co <= ci``; otherwise 88.8% 1-4 days, 10% 5-10, 0.6%
11-14, 0.3% 15-30 and the remainder 1-4), with ``hotel_id`` low-cardinality
per stay bucket so distinct counts saturate. On top of that mix a small share
of rows carries a null ``id``, so the enrichment's null filter drops rows.

Rows are built column-wise with numpy and written as JSON lines by DuckDB,
so generation stays small next to the measured runs. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

NULL_ID_FRAC = 0.005

# (weight, (min_days, max_days)), the fixture's stay buckets
_BUCKETS = [(0.888, (1, 4)), (0.10, (5, 10)), (0.006, (11, 14)), (0.003, (15, 30))]
_BASE = np.datetime64("2025-01-01")


def _bucket_of(duration: np.ndarray, malformed: np.ndarray) -> np.ndarray:
    """The fixture's hotel bucket: 0..3 by stay length, 4 for erroneous."""
    b = np.select(
        [duration <= 4, duration <= 10, duration <= 14], [0, 1, 2], default=3
    )
    return np.where(malformed | (duration < 1), 4, b)


def gen_expedia_frame(n: int, seed: int, id_offset: int = 0) -> pd.DataFrame:
    """``n`` expedia-shaped rows in the 20-column raw record layout."""
    rng = np.random.default_rng(seed)
    ci = _BASE + rng.integers(0, 300, n).astype("timedelta64[D]")
    r = rng.random(n)
    not_a_date = r < 0.0008
    empty = (r >= 0.0008) & (r < 0.0013)
    backwards = (r >= 0.0013) & (r < 0.0020)
    malformed = not_a_date | empty

    rr = rng.random(n)
    edges = np.cumsum([w for w, _ in _BUCKETS])
    lo = np.array([b[0] for _, b in _BUCKETS] + [1])
    hi = np.array([b[1] for _, b in _BUCKETS] + [4])
    k = np.searchsorted(edges, rr, side="left")
    dur = lo[k] + (rng.random(n) * (hi[k] - lo[k] + 1)).astype(np.int64)
    dur = np.where(backwards, -rng.integers(0, 4, n), dur)
    co = ci + dur.astype("timedelta64[D]")

    ci_s = np.datetime_as_string(ci, unit="D").astype(object)
    co_s = np.datetime_as_string(co, unit="D").astype(object)
    ci_s[not_a_date] = "not-a-date"
    ci_s[empty] = ""
    co_s[malformed] = "2025-06-01"

    secs = rng.integers(0, 365 * 86400, n).astype("timedelta64[s]")
    date_time = np.datetime_as_string(
        np.datetime64("2024-01-01T00:00:00") + secs, unit="s"
    )
    distance = np.round(rng.uniform(0, 12000, n), 4)
    distance[rng.random(n) < 0.3] = np.nan
    ids = pd.array(np.arange(id_offset, id_offset + n), dtype="Int64")
    ids[rng.random(n) < NULL_ID_FRAC] = pd.NA

    def ints(lo_: int, hi_: int) -> np.ndarray:
        return rng.integers(lo_, hi_, n)

    return pd.DataFrame(
        {
            "id": ids,
            "date_time": np.char.replace(date_time, "T", " "),
            "site_name": ints(0, 50),
            "posa_container": ints(0, 5),
            "user_location_country": ints(0, 250),
            "user_location_region": ints(0, 1000),
            "user_location_city": ints(0, 50000),
            "orig_destination_distance": distance,
            "user_id": ints(0, 1_200_000),
            "is_mobile": ints(0, 2),
            "is_package": ints(0, 2),
            "channel": ints(0, 11),
            "srch_ci": ci_s,
            "srch_co": co_s,
            "srch_adults_cnt": ints(1, 10),
            "srch_children_cnt": ints(0, 10),
            "srch_rm_cnt": ints(1, 9),
            "srch_destination_id": ints(0, 65000),
            "srch_destination_type_id": ints(1, 10),
            "hotel_id": _bucket_of(dur, malformed) * 10_000 + ints(0, 120),
        }
    )


def write_json_lines(df: pd.DataFrame, path: str) -> None:
    """One JSON object per line, nulls written as ``null``."""
    con = duckdb.connect()
    try:
        con.register("rows", df)
        con.execute(f"COPY rows TO '{path}' (FORMAT JSON)")
    finally:
        con.close()


def write_pool(out_dir: str, n_files: int, rows_per_file: int, seed: int) -> list[str]:
    """``n_files`` distinct files of ``rows_per_file`` rows each; file ``i``
    is generated from ``(seed, i)`` so the pool is reproducible file by
    file. Returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"pool-{i:04d}.json")
        frame = gen_expedia_frame(
            rows_per_file, seed=seed * 1_000_003 + i, id_offset=i * rows_per_file
        )
        write_json_lines(frame, p)
        paths.append(p)
    return paths


def _fresh_dir(inputs_root: str, tag: str, key: str) -> tuple[str, bool]:
    """``inputs_root/tag-key``; True if a finished copy is already there.
    Inputs of other seeds for the same tag are removed, so at most one
    input set per workload stays on disk."""
    os.makedirs(inputs_root, exist_ok=True)
    out = os.path.join(inputs_root, f"{tag}-{key}")
    for name in os.listdir(inputs_root):
        if name.startswith(f"{tag}-") and name != os.path.basename(out):
            shutil.rmtree(os.path.join(inputs_root, name))
    if os.path.exists(os.path.join(out, ".done")):
        return out, True
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    return out, False


def static_input(
    inputs_root: str, tag: str, n_files: int, rows_per_file: int, seed: int
) -> list[str]:
    """A directory ``.../files`` of ``n_files`` distinct files."""
    out, done = _fresh_dir(inputs_root, tag, f"s{seed}-{n_files}x{rows_per_file}")
    pool_dir = os.path.join(out, "files")
    if not done:
        write_pool(pool_dir, n_files, rows_per_file, seed)
        open(os.path.join(out, ".done"), "w").close()
    return sorted(os.path.join(pool_dir, p) for p in os.listdir(pool_dir))


def stream_backlog(
    inputs_root: str,
    tag: str,
    pool_files: int,
    rows_per_file: int,
    part_files: list[int],
    seed: int,
) -> tuple[list[str], list[tuple[str, list[str]]]]:
    """A pool of distinct files, and one source directory per entry of
    ``part_files`` holding that many hard links to pool files, picked in a
    seeded order. The file source tracks files by path, so each link is
    read as a file of its own. Returns the pool paths and, per part,
    ``(source_dir, [pool path behind each link])``."""
    key = f"s{seed}-{pool_files}x{rows_per_file}-" + "+".join(map(str, part_files))
    out, done = _fresh_dir(inputs_root, tag, key)
    pool_dir = os.path.join(out, "pool")
    if not done:
        write_pool(pool_dir, pool_files, rows_per_file, seed)
    pool = sorted(os.path.join(pool_dir, p) for p in os.listdir(pool_dir))
    order = iter(np.random.default_rng(seed).integers(0, pool_files, sum(part_files)))
    result = []
    for part, n in enumerate(part_files):
        src = os.path.join(out, f"src{part}")
        picks = [pool[next(order)] for _ in range(n)]
        if not done:
            os.makedirs(src)
            for i, p in enumerate(picks):
                os.link(p, os.path.join(src, f"part-{i:05d}.json"))
        result.append((src, picks))
    if not done:
        open(os.path.join(out, ".done"), "w").close()
    return pool, result
