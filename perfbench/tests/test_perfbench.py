"""Tests of the benchmark's own code; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import common
import gen
import registry_pass
import run
import serve
import spans
import suite
from oracle import ServeOracle, rows_match

TINY = gen.Scale(sf=0.0, events=2_000, users=60, documents=50, embeddings=20)


# -- generators ---------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(gen.TABLES))
def test_tables_repeat_per_seed(name):
    make = gen.TABLES[name]
    assert make(7, TINY).equals(make(7, TINY))
    assert not make(7, TINY).equals(make(8, TINY))


def test_request_stream_repeats_per_seed():
    assert gen.request_stream(3, 200) == gen.request_stream(3, 200)
    assert gen.request_stream(3, 200) != gen.request_stream(4, 200)


def test_request_stream_shape():
    stream = gen.request_stream(5, 400, write_every=4)
    routes = [r["route"] for r in stream]
    assert [i for i, r in enumerate(routes) if r == "incr"] == list(range(3, 400, 4))
    assert {r["route"] for r in gen.request_stream(5, 400)} == {"dist", "get", "nmost"}
    for r in stream:
        assert r["distribution"].startswith("u") and 0 <= int(r["distribution"][1:]) < 1000
        if r["route"] in ("get", "incr"):
            assert 1 <= len(r["fields"]) <= 3 and set(r["fields"]) <= set(gen.EVENT_TYPES)
        else:
            assert r["fields"] == []


def test_zipf_keys_are_skewed():
    keys = gen.zipf_keys(gen.rng_for(1, "t"), 20_000)
    _, counts = np.unique(keys, return_counts=True)
    assert counts.max() > 20 * np.median(counts)


def test_batch_split_is_contiguous_and_near_even():
    split = gen.batch_split(9, 100_000, 4)
    assert np.array_equal(split, gen.batch_split(9, 100_000, 4))
    assert not np.array_equal(split, gen.batch_split(10, 100_000, 4))
    assert np.all(np.diff(split) >= 0)  # time order is kept
    sizes = np.bincount(split)
    assert len(sizes) == 4 and np.all(np.abs(sizes - 25_000) <= 500)


def test_pinned_now_is_whole_seconds_after_last_event():
    events = gen.events_table(2, TINY)
    now = gen.pinned_now_us(events)
    assert now % 1_000_000 == 0
    assert now - max(events["ts"].cast("int64").to_pylist()) >= gen.NOW_OFFSET_US


# -- metric names -------------------------------------------------------------


def _benchmark_json() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_result_line_carries_every_metric():
    res = common.Result(attempted=3, failed=0, metrics={"op_p50_ms": 1.5})
    line = run.result_line(res, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(run.END_TO_END)
    assert line["metrics"]["op_p50_ms"] == {"value": 1.5, "unit": "ms"}
    assert set(run.result_line(res, trace=True)["metrics"]) == set(run.PER_LAYER)


def test_a_failure_makes_the_run_incorrect():
    assert run.result_line(common.Result(attempted=3, failed=1), trace=False)["correct"] is False


def test_missing_program_exits_nonzero(monkeypatch, capsys):
    monkeypatch.setattr(common, "program_present", lambda: False)
    assert run.main(["--workload", "serve_read", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


# -- output checks ------------------------------------------------------------


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    events = gen.events_table(4, TINY)
    pq.write_table(events, path)
    # rate 0: nothing decays, so every distribution has live bins
    return ServeOracle(path, gen.pinned_now_us(events), 0.0)


def _live_dist(oracle) -> str:
    return sorted(oracle.live)[0]


def test_serve_check_accepts_the_expected_payload(oracle):
    req = {"route": "dist", "distribution": _live_dist(oracle), "fields": []}
    body = json.dumps(oracle.expected(req)).encode()
    assert oracle.read_ok(req, body)
    data = oracle.expected(req)["data"]
    assert data["Z"] == sum(d["count"] for d in data["data"]) == oracle.base_n[req["distribution"]]


@pytest.mark.parametrize("field,value", [("count", 10_000), ("p", 0.5), ("bin", "nope")])
def test_serve_check_rejects_a_corrupted_payload(oracle, field, value):
    req = {"route": "get", "distribution": _live_dist(oracle), "fields": ["click", "view"]}
    envelope = oracle.expected(req)
    envelope["data"]["data"][0][field] = value
    assert not oracle.read_ok(req, json.dumps(envelope).encode())
    assert not oracle.read_ok(req, b"not json")


def test_serve_check_counts_errors_and_bad_writes(oracle):
    dist = _live_dist(oracle)
    requests = [
        {"route": "dist", "distribution": dist, "fields": []},
        {"route": "incr", "distribution": dist, "fields": ["click"]},
        {"route": "nmost", "distribution": dist, "fields": []},
        {"route": "incr", "distribution": "u1", "fields": ["view"]},
    ]
    good = json.dumps(oracle.expected(requests[0])).encode()
    done = [
        {"i": 0, "status": 200, "body": good},
        {"i": 1, "status": 200, "body": b"OK"},
        {"i": 2, "status": 500, "body": b"{}"},
        {"i": 3, "status": 500, "body": b"FAIL"},
    ]
    assert serve.check(requests, done, oracle, written=set()) == [True, True, False, False]


class _FakeSpark:
    """Just enough of a session for ``suite._pass`` with tracing off."""

    sparkContext = None

    class catalog:
        @staticmethod
        def clearCache():
            pass


class _FakeFrame:
    def __init__(self):
        self.write = self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def test_a_raising_suite_step_is_dropped_not_fatal():
    def broken():
        raise RuntimeError("boom")

    frame = _FakeFrame()
    steps = [("good", lambda: frame, "noop"), ("bad", broken, "noop"), ("train", lambda: None, None)]
    timings, frames = suite._pass(_FakeSpark(), steps, spans.Tracer(False), ["x"])
    assert set(timings) == {"good", "train"} and frames == {"good": frame}


def test_registry_selection_keeps_the_fixed_steps_then_the_heaviest():
    times = {"spine_build": 3.0, "codebook_train": 1.0, "a": 0.5, "b": 4.0, "c": 2.0, "d": 1.5,
             "layout_bucketed_get_dist": 0.5}
    fixed = ["spine_build", "codebook_train"]
    assert registry_pass.select(times, budget=8.5) == [*fixed, "b", "layout_bucketed_get_dist"]
    assert registry_pass.select(times, budget=10.1) == [*fixed, "b", "d", "layout_bucketed_get_dist"]
    assert registry_pass.select(times, budget=1.0) == [*fixed, "layout_bucketed_get_dist"]


def test_rows_match_rejects_a_changed_value():
    import duckdb

    rel = duckdb.sql("SELECT * FROM (VALUES ('a', 1, 0.5), ('b', 2, 0.25)) t(k, n, p)")
    rows = [{"k": "b", "n": 2, "p": 0.25}, {"k": "a", "n": 1, "p": 0.5}]
    assert rows_match(["k", "n", "p"], rows, rel)
    assert not rows_match(["k", "n", "p"], rows[:1], rel)
    assert not rows_match(["k", "n", "p"], [rows[0], {"k": "a", "n": 1, "p": 0.5000001}], rel)


# -- spans --------------------------------------------------------------------


def test_covered_counts_overlapping_children_once():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to the parent


def test_self_time_is_duration_minus_children():
    s = [
        spans.Span("server", 0.0, 10.0, span_id=1),
        spans.Span("api", 1.0, 3.0, span_id=2, parent=1),
        spans.Span("exec", 4.0, 9.0, span_id=3, parent=1),
        spans.Span("inner", 5.0, 6.0, span_id=4, parent=3),
    ]
    own = spans.self_times(s)
    assert own == {1: 3.0, 2: 2.0, 3: 4.0, 4: 1.0}


def test_tracer_nests_spans_and_shares_request_ids():
    t = spans.Tracer(True)
    with t.span("server", new_request=True) as outer:
        with t.span("api") as inner:
            pass
    with t.span("server", new_request=True) as second:
        pass
    assert inner.parent == outer.span_id and inner.request == outer.request
    assert second.request != outer.request and second.parent is None
    assert spans.self_times(t.spans)[outer.span_id] <= outer.duration
    assert [d["name"] for d in t.dump()] == ["server", "api", "server"]
    assert t.overhead_s > 0


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(False)
    with t.span("server", new_request=True):
        pass

    class Owner:
        def f(self):
            return 1

    t.wrap(Owner, "f", "x")
    assert Owner().f() == 1 and t.spans == [] and t.overhead_s == 0


def test_steal_frac_is_the_steal_share_of_cpu_time():
    before = [100, 0, 10, 500, 0, 0, 0, 5]
    after = [160, 0, 20, 520, 0, 0, 0, 15]
    assert common.steal_frac(before, after) == 0.1
    assert common.steal_frac(before, before) == 0.0


def test_busy_cores_ends_its_spinners():
    with common.busy_cores():
        spinners = common._children(os.getpid())
        assert len(spinners) == common.CORES
    assert not [pid for pid in spinners if os.path.exists(f"/proc/{pid}")]


def test_percentiles():
    assert spans.p50([]) == 0.0
    assert spans.p50([3, 1, 2]) == 2
    assert spans.percentile(range(1, 101), 90) == 90
    assert spans.percentile([5], 90) == 5


def test_count_exchanges():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) Project [distribution#1]
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 1
         +- Exchange hashpartitioning(distribution#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
            :- BroadcastExchange HashedRelationBroadcastMode
            +- *(1) Scan parquet"""
    assert spans.count_exchanges(plan) == 2
