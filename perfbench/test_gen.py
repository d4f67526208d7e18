"""Properties of the replay generator (``gen.py``).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

N = 20_000


@pytest.fixture(scope="module")
def events():
    return gen.events_table(7, N)


def _us(table):
    return table.column("ts").cast("int64").to_numpy()


def test_ts_in_order_of_event_id(events):
    ids = events.column("event_id").to_numpy()
    assert np.array_equal(ids, np.arange(N))
    assert np.all(np.diff(_us(events)) > 0)


def test_event_id_unique(events):
    assert len(np.unique(events.column("event_id").to_numpy())) == N


def test_value_is_integer_cents(events):
    v = events.column("value").to_numpy()
    cents = np.round(v * 100).astype(np.int64)
    assert np.array_equal(cents / 100.0, v)
    assert cents.min() >= 1


def test_user_id_inside_customer_keys(events):
    keys = gen.customer_table(7).column("c_custkey").to_numpy()
    users = events.column("user_id").to_numpy()
    assert np.isin(users, keys).all()
    assert len(np.unique(keys)) == len(keys)


def test_no_value_on_a_decision_boundary(events):
    # window starts and pane edges are whole seconds
    assert not np.any(_us(events) % 1_000_000 == 0)
    # LRB1 segments by floor(value / 50)
    cents = np.round(events.column("value").to_numpy() * 100).astype(np.int64)
    assert not np.any(cents % 5_000 == 0)


def test_history_spans_the_configured_period(events):
    us = _us(events)
    assert us[0] >= gen.BASE_US
    assert us[-1] - us[0] > gen.SPAN_S * 1_000_000 // 2


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_bytes(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 3, 5_000)
    b = gen.ensure_inputs(str(tmp_path / "b"), 3, 5_000)
    c = gen.ensure_inputs(str(tmp_path / "c"), 4, 5_000)
    assert _files(a) == _files(b)
    assert _files(a)["events.parquet"] != _files(c)["events.parquet"]
    assert pq.read_metadata(os.path.join(a, "events.parquet")).num_rows == 5_000


def test_cached_inputs_are_reused(tmp_path, monkeypatch):
    first = gen.ensure_inputs(str(tmp_path), 5, 3_000)

    def boom(*_a, **_k):
        raise AssertionError("regenerated a cached input")

    monkeypatch.setattr(gen, "events_table", boom)
    assert gen.ensure_inputs(str(tmp_path), 5, 3_000) == first
    with pytest.raises(AssertionError):
        gen.ensure_inputs(str(tmp_path), 5, 3_001)
