"""Self-tests of the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

import gen
import oracle
from sparkstats import parse_metric
from spans import Span, Tracer, coverage, covers, median, self_time, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


# -- tail percentile --------------------------------------------------------

def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 41))                 # 40 samples
    value, pct, n = tail(xs)
    assert n == 40
    assert value == 30 and pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_uses_the_highest_such_percentile():
    rng = np.random.default_rng(0)
    xs = list(rng.permutation(1000).astype(float))
    value, pct, _ = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == 99.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail(list(range(10)))
    assert tail(list(range(11)))[0] == 0


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


# -- span self time and coverage --------------------------------------------

def _span(start, end, sid=0, parent=None):
    return Span(sid, "x", "op", parent, start, end)


def test_self_time_subtracts_children_once():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0), _span(2.0, 4.0), _span(6.0, 7.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(5.0, 10.0)
    assert self_time(parent, [_span(4.0, 6.0), _span(9.0, 12.0)]) == \
        pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(5.0)


def test_tracer_records_parents_and_operation_ids():
    tr = Tracer(True)
    with tr.span("query", "q#1"):
        with tr.span("plans.build"):
            with tr.span("sources.load"):
                pass
        with tr.span("exec"):
            pass
    q, b, load, e = tr.spans
    assert (b.parent, load.parent, e.parent) == (q.sid, b.sid, q.sid)
    assert {s.op for s in tr.spans} == {"q#1"}
    assert [c.name for c in tr.children(q)] == ["plans.build", "exec"]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("query", "q") as s:
        assert s is None
    assert tr.spans == []


def test_layer_spans_must_sum_to_the_inclusive_time():
    assert coverage(2.0, [0.5, 0.1, 1.38]) == pytest.approx(0.99)
    assert covers(2.0, [0.5, 0.1, 1.38])
    assert not covers(2.0, [0.5, 0.1, 1.0])        # 20% unaccounted
    assert not covers(2.0, [1.0, 0.2, 1.0])        # 10% double-counted
    with pytest.raises(ValueError):
        coverage(0.0, [])


# -- generators --------------------------------------------------------------

def test_query_orders_are_seeded_permutations():
    names = [f"q{i}" for i in range(20)]
    a = gen.query_orders(names, 7, 3)
    assert a == gen.query_orders(names, 7, 3)
    assert a != gen.query_orders(names, 8, 3)
    assert all(sorted(o) == sorted(names) for o in a)
    assert a[0] != a[1]


def test_price_walk_is_seeded():
    a = gen.price_walk(3, 1000)
    assert np.array_equal(a, gen.price_walk(3, 1000))
    assert not np.array_equal(a, gen.price_walk(4, 1000))
    assert a[0] == pytest.approx(100.0, abs=1.0)


def test_ticks_are_seeded_and_shaped():
    a = gen.ticks_numpy(5, range(20_000))
    b = gen.ticks_numpy(5, np.arange(20_000))
    c = gen.ticks_numpy(6, range(20_000))
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["sym"], c["sym"])
    # a tick depends only on (seed, value): any slice agrees
    part = gen.ticks_numpy(5, range(100, 200))
    assert np.array_equal(part["price"], a["price"][100:200])
    p = gen.tick_params(5)
    hot = np.mean(a["sym"] == gen.HOT_SYMBOL)
    assert abs(hot - p["hot_bp"] / 1e4) < 0.02
    assert len(np.unique(a["sym"])) == gen.N_SYMBOLS
    assert (a["price"] > 0).all()
    assert (a["volume"][:: p["spike_every"]] >= 600).all()


def test_hash32_stays_in_32_bits_without_overflow():
    v = np.array([0, 1, 2**31, 2**40, 2**50], dtype=np.int64)
    h = gen.hash32(v, 2**31 - 1, 3)
    assert ((h >= 0) & (h < 2**32)).all()
    assert [gen.hash32(int(x), 2**31 - 1, 3) for x in v] == list(h)


def test_tables_are_deterministic(tmp_path):
    import pandas as pd

    a = gen.ensure_tables(str(tmp_path / "a"))
    b = gen.ensure_tables(str(tmp_path / "b"))
    for t in ("events", "lineitem"):
        x = pd.read_parquet(os.path.join(a, f"{t}.parquet"))
        y = pd.read_parquet(os.path.join(b, f"{t}.parquet"))
        pd.testing.assert_frame_equal(x, y)
    ev = pd.read_parquet(os.path.join(a, "events.parquet"))
    assert len(ev) == gen.N_EVENTS and ev["ts"].is_monotonic_increasing
    assert (ev["value"] > 0).all()


# -- metric parsing and the output comparison -------------------------------

def test_parse_metric_forms():
    assert parse_metric("2.3 s") == pytest.approx(2.3)
    assert parse_metric("857 ms") == pytest.approx(0.857)
    assert parse_metric("610.8 KiB") == pytest.approx(610.8 * 1024)
    assert parse_metric("10,000") == 10000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") \
        == pytest.approx(90.0)


def test_same_is_order_free_and_bitwise():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, np.nan], "s": ["b", "a"]})
    b = pd.DataFrame({"s": ["a", "b"], "v": [np.nan, 0.5], "k": [1, 2]})
    assert oracle.same(a, b)
    c = b.copy()
    c.loc[1, "v"] = 0.5 + 1e-15
    assert not oracle.same(a, c)
    assert not oracle.same(a, b.iloc[:1])


def test_ticks_fire_every_signal_kind():
    from datafusion_functions_financial_spark.streaming.engine import (
        MarketTick, StreamingProcessor)

    for seed in (1, 2, 3):
        t = gen.ticks_numpy(seed, range(20_000))
        kinds = set()
        proc = StreamingProcessor(14)
        proc.add_signal_handler(lambda s: kinds.add(s.signal_type))
        for v, (s, p, q) in enumerate(zip(t["sym"], t["price"],
                                          t["volume"])):
            proc.process_tick(MarketTick(gen.symbol_name(s), v, float(p),
                                         int(q)))
        assert kinds == {"Oversold", "Overbought", "VolumeSpike",
                         "BullishCrossover", "BearishCrossover"}


# -- the traced engine pass and the reported metric names --------------------

def test_traced_phase_a_drives_the_engine_and_restores_it():
    import workloads
    from datafusion_functions_financial_spark.streaming.engine import (
        StreamingIndicators, StreamingSignalDetector)

    before = (StreamingIndicators.update,
              StreamingSignalDetector.detect_signals)
    ticks = workloads._phase_a_ticks(1)[:5000]
    _, _, counts = workloads._phase_a_pass(ticks)
    traced = workloads._phase_a_traced(ticks)
    assert traced["traced_signals"] == sum(counts.values()) > 0
    assert (StreamingIndicators.update,
            StreamingSignalDetector.detect_signals) == before
    for step in ("update", "detect", "dispatch"):
        assert traced[f"streaming.{step}_us"] > 0


def test_reported_metrics_match_benchmark_json():
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        ("setup_s", "s")]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        workloads.PER_LAYER)
