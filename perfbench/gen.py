"""Seeded input generator for the ``replay_canonical`` workload.

Writes an ``events`` table with the testdata schema (event_id, ts,
user_id, event_type, value, props) and the ``customer`` dimension the
YSB query joins against. Properties the benchmark relies on:

- ``ts`` strictly increasing with ``event_id`` (an in-order history);
- ``value`` is integer cents / 100, so the queries' cents arithmetic is
  exact on both engines;
- ``event_id`` unique, ``user_id`` inside ``customer.c_custkey``;
- no value sits on a query decision boundary: no ``ts`` on a whole
  second (every window start and pane edge is a whole second) and no
  ``value`` that is a multiple of 50 (LRB1's ``floor(value / 50)``);
- the same (seed, size) gives byte-identical files, cached on disk so a
  repeated run skips generation.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
N_CUSTOMERS = 15_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_S = 3 * 86_400
US = 1_000_000
_ROW_GROUPS = 8
_FORMAT = 1  # bump when the layout changes so stale caches are not reused


def events_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, n, 0xE7])
    # strictly increasing µs offsets: gaps >= 2 leave room for the +1
    # nudge off a whole second without creating a tie
    mean_gap = max(2 * SPAN_S * US // max(n, 1), 4)
    gaps = rng.integers(2, mean_gap - 1, size=n, dtype=np.int64)
    ts = BASE_US + np.cumsum(gaps)
    ts += ts % US == 0
    cents = rng.integers(1, 50_000, size=n, dtype=np.int64)
    cents += cents % 5_000 == 0
    props_k = rng.integers(0, 100, size=n, dtype=np.int64)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)], pa.string())
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_CUSTOMERS, size=n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), size=n)
        ], pa.string()),
        "value": pa.array(cents / 100.0),
        "props": props.take(pa.array(props_k)),
    })


def customer_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0xC5])
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=N_CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, size=N_CUSTOMERS) / 100.0),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[
            rng.integers(0, len(SEGMENTS), size=N_CUSTOMERS)
        ], pa.string()),
    })


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    # several row groups so Spark splits the scan across cores
    pq.write_table(
        table, path,
        row_group_size=max(1, -(-table.num_rows // row_groups)),
        compression="snappy",
    )


def ensure_inputs(cache_root: str, seed: int, n: int) -> str:
    """Directory holding ``events.parquet`` and ``customer.parquet`` for
    (seed, n); generated once, then reused. Publication is a directory
    rename, so a killed run never leaves a half-written input behind."""
    out = os.path.join(cache_root, f"replay-v{_FORMAT}-s{seed}-n{n}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _write(events_table(seed, n), os.path.join(tmp, "events.parquet"), _ROW_GROUPS)
        _write(customer_table(seed), os.path.join(tmp, "customer.parquet"))
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
    finally:  # a concurrent run published first, or the write failed
        shutil.rmtree(tmp, ignore_errors=True)
    return out
