"""Unit tests for the benchmark's own rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT]

import datagen  # noqa: E402
from measure import Tracer, tail  # noqa: E402
from progress import attribute, dedupe, peak_backlog  # noqa: E402


def _p(batch_id, rows, qid="q", ts="2026-01-01T00:00:00.000Z", dur=500):
    return {"id": qid, "batchId": batch_id, "numInputRows": rows,
            "timestamp": ts, "durationMs": {"triggerExecution": dur}}


# ---- tail-percentile rule -------------------------------------------------

def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(100))
    value, pct, n = tail(xs)
    assert n == 100
    assert sum(x > value for x in xs) == 10
    assert value == 89 and pct == 90.0


def test_tail_ignores_input_order():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    assert tail(xs) == tail(sorted(xs)) == tail(sorted(xs, reverse=True))


def test_tail_percentile_follows_sample_count():
    assert tail(range(20))[1] == 50.0
    assert tail(range(72))[1] == pytest.approx(100 * 62 / 72)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail(range(10))
    assert tail(range(11))[0] == 0


# ---- progress attribution ---------------------------------------------------

def test_attribution_uses_batch_id_not_arrival_order():
    events = [_p(2, 100), _p(0, 100), _p(1, 100)]
    got = attribute([100, 100, 100], dedupe(events, "q"))
    assert [p["batchId"] for p in got] == [0, 1, 2]


def test_late_event_of_another_query_does_not_shift_files():
    # a warm-up query's progress arriving late must not be counted
    events = [_p(0, 100), _p(7, 100, qid="warmup"), _p(1, 100)]
    got = attribute([100, 100], dedupe(events, "q"))
    assert [p["batchId"] for p in got] == [0, 1]


def test_duplicate_and_no_data_batches():
    events = [_p(0, 100), _p(1, 0), _p(0, 100), _p(2, 200)]
    got = attribute([100, 50, 150], dedupe(events, "q"))
    assert [p["batchId"] for p in got] == [0, 2, 2]


def test_uncommitted_files_map_to_none():
    got = attribute([100, 100, 100], [_p(0, 100)])
    assert got[0]["batchId"] == 0 and got[1:] == [None, None]


def test_batch_ending_inside_a_file_raises():
    with pytest.raises(ValueError):
        attribute([100, 100], [_p(0, 150)])
    with pytest.raises(ValueError):
        attribute([100], [_p(0, 100), _p(1, 1)])


def test_peak_backlog():
    # file 1 arrives before file 0 commits: two pending at once
    assert peak_backlog([0.0, 1.0, 3.0], [1.5, 2.0, 3.5]) == 2
    assert peak_backlog([0.0, 2.0], [1.0, 3.0]) == 1


# ---- spans --------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    tr = Tracer(enabled=True)
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 5.0, root)      # overlaps a: union is 1..5
    tr.add("c", 9.0, 12.0, root)     # clipped to the parent: 9..10
    assert tr.self_times()[0] == pytest.approx(10 - 4 - 1)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.add("y", 0, 1) is None and tr.spans == []


# ---- inputs and payload checks ---------------------------------------------

def test_event_stream_is_seeded_and_late_events_stay_within_watermark():
    a = datagen.EventStream(5, 500, 1.5, 0, 0, 4.0).batch(3)
    b = datagen.EventStream(5, 500, 1.5, 0, 0, 4.0).batch(3)
    c = datagen.EventStream(6, 500, 1.5, 0, 0, 4.0).batch(3)
    assert a.equals(b) and not a.equals(c)
    ts = a["ts"].to_numpy().astype(np.int64)
    start = datagen.EPOCH_US + int(3 * 1.5e6)
    # every event lies after the end of the previous file minus < 2 s
    assert ts.min() > start - 2_000_000
    assert ts.max() <= start + int(1.5e6)
    assert a["event_id"].to_pylist() == list(range(1500, 2000))
    users = a["user_id"].to_numpy()
    assert users.min() >= 0 and users.max() < datagen.STREAM_USERS


def test_event_stream_small_warm_files_keep_ids_and_counts_consistent():
    gen = datagen.EventStream(1, 2000, 1.5, 3, 250, 4.0)
    sizes = [gen.rows_in(i) for i in range(6)]
    assert sizes == [250, 250, 250, 2000, 2000, 2000]
    assert [gen.rows_before(i) for i in range(7)] == [
        0, 250, 500, 750, 2750, 4750, 6750]
    assert gen.batch(4)["event_id"][0].as_py() == 2750
    # warm files span 4 s of event time each, the rest 1.5 s
    assert [gen.due(i) for i in range(5)] == [4.0, 8.0, 12.0, 13.5, 15.0]
    ts = gen.batch(3)["ts"].to_numpy().astype(np.int64) - datagen.EPOCH_US
    assert 12e6 - 2e6 < ts.min() and ts.max() <= 13.5e6


def test_oracle_rows_tolerate_last_bit_float_differences():
    from ads import _rowset, _same_rows

    spark = _rowset(["d", "r"], [(20000229, 0.0535566321859499)])
    duck = _rowset(["d", "r"], [(20000229, 0.05355663218595)])
    other = _rowset(["d", "r"], [(20000229, 0.0535567)])
    assert _same_rows(spark, duck) and not _same_rows(spark, other)


def test_events_model_is_skewed_over_the_fixture_key_space():
    rng = np.random.default_rng(0)
    created = datagen.EPOCH_US + np.arange(100_000) * 1_000
    t = datagen.events(rng, created, 0, 1_500)
    counts = np.bincount(t["user_id"].to_numpy(), minlength=1_500)
    # weights (k+1)^-0.8: user 0 draws about 4x the events of user 5
    assert counts[0] > 3 * counts[5] > 0
    late = created - t["ts"].to_numpy().astype(np.int64)
    assert 0.04 < (late > 0).mean() < 0.06
    assert late.max() < datagen.MAX_LATE_S * 1e6


def test_ads_tables_are_seeded():
    t1, t2 = datagen.ads_tables(3, 0.001), datagen.ads_tables(3, 0.001)
    assert tuple(t1) == datagen.ADS_TABLES
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(datagen.ads_tables(4, 0.001)["lineitem"])


def test_payload_hash_ignores_record_order_only():
    from ads import canonical_hash

    a = json.dumps({"status": 0, "data": [{"k": 1}, {"k": 2}]}).encode()
    b = json.dumps({"status": 0, "data": [{"k": 2}, {"k": 1}]}).encode()
    c = json.dumps({"status": 0, "data": [{"k": 2}, {"k": 3}]}).encode()
    d = json.dumps({"data": {"categories": ["x", "y"]}}).encode()
    e = json.dumps({"data": {"categories": ["y", "x"]}}).encode()
    assert canonical_hash(a) == canonical_hash(b) != canonical_hash(c)
    assert canonical_hash(d) != canonical_hash(e)


# ---- BENCHMARK.json matches what the runner prints ----------------------------

def test_benchmark_json_lists_the_runner_metrics():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
