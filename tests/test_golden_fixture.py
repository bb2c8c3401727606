"""Golden micro-fixture from FIXTURES.md §B — the reference's own `colors`
example (goforget/README.md:23-35) plus wipe/floor/expiry edge cases, with
hand-computed expected values.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from forgettable_spark import operators as ops
from forgettable_spark.operators.snapshot import FORGET_EVENTS_SCHEMA

NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
NOW_US = int(NOW.timestamp()) * 1_000_000
RATE = 0.5


def _ts(seconds_before_now: float) -> datetime:
    return datetime.fromtimestamp(NOW.timestamp() - seconds_before_now, tz=timezone.utc)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        ("colors", "red", 9, _ts(10)),
        ("colors", "blue", 5, _ts(10)),
        ("colors", "green", 1, _ts(10)),
        ("colors", "red", 1, _ts(2)),
        ("animals", "cat", 3, _ts(1)),
        ("animals", "dog", 2, _ts(40)),
        ("stale", "old", 7, _ts(120)),
    ]
    return spark.createDataFrame(rows, FORGET_EVENTS_SCHEMA)


@pytest.fixture(scope="module")
def snap(events):
    return ops.snapshot(events)


def test_snapshot_shape(snap):
    rows = {(r["distribution"], r["bin"]): (r["count"], r["t"]) for r in snap.collect()}
    assert rows[("colors", "red")][0] == 10  # 9 + 1
    assert rows[("colors", "blue")][0] == 5
    # t is per-distribution: max event ts, shared by every bin
    assert rows[("colors", "green")][1] == rows[("colors", "red")][1]
    assert rows[("colors", "red")][1].replace(tzinfo=timezone.utc) == _ts(2)


def test_get_dist_prune(snap):
    """colors: dt=2s, k=floor(0.5*2)=1 → red 9, blue 4, green pruned; Z=13."""
    out = ops.get_dist(snap, now_us=NOW_US, distribution="colors", rate=RATE)
    rows = {r["bin"]: r for r in out.collect()}
    assert set(rows) == {"red", "blue"}
    assert rows["red"]["count"] == 9 and rows["blue"]["count"] == 4
    assert rows["red"]["Z"] == 13
    assert rows["red"]["p"] == 9 / 13
    assert rows["blue"]["p"] == 4 / 13


def test_get_dist_noprune_floors_at_one(snap):
    out = ops.get_dist(snap, now_us=NOW_US, distribution="colors", rate=RATE, prune=False)
    rows = {r["bin"]: r["count"] for r in out.collect()}
    assert rows == {"red": 9, "blue": 4, "green": 1}


def test_stale_distribution_wipes_to_empty(snap):
    """stale: dt=120s, k=60 >= count 7 → whole distribution gone (the
    expected-mode analogue of the λ≥18.4 wipe + empty-write discard)."""
    out = ops.get_dist(snap, now_us=NOW_US, distribution="stale", rate=RATE)
    assert out.count() == 0


def test_animals_partial(snap):
    """animals: t=now-1s (dog's 40s-old event doesn't set T), k=0 → intact."""
    out = ops.get_dist(snap, now_us=NOW_US, distribution="animals", rate=RATE)
    rows = {r["bin"]: r for r in out.collect()}
    assert rows["cat"]["count"] == 3 and rows["dog"]["count"] == 2
    assert rows["cat"]["Z"] == 5


def test_n_most_probable_selects_on_undecayed_counts(snap):
    out = ops.n_most_probable(snap, n=1, now_us=NOW_US, distribution="colors", rate=RATE)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["bin"] == "red" and rows[0]["rank"] == 1
    # p uses the full decayed Z, not just the returned row
    assert rows[0]["Z"] == 13 and rows[0]["p"] == 9 / 13


def test_n_most_probable_can_return_fewer_than_n(snap):
    """Selection happens pre-decay; pruned selections vanish from the
    response (goforget/forget.go:210-211 decays the N returned rows)."""
    out = ops.n_most_probable(snap, n=10, now_us=NOW_US, distribution="colors", rate=RATE)
    assert out.count() == 2  # green selected but decayed to 0


def test_db_size(snap):
    assert ops.db_size(snap).collect()[0]["db_size"] == 3
    assert ops.db_size(snap, approx=True).collect()[0]["db_size"] == 3


def test_get_field_full_z(snap):
    out = ops.get_field(snap, fields=["blue"], now_us=NOW_US, distribution="colors", rate=RATE)
    r = out.collect()[0]
    assert r["count"] == 4 and r["Z"] == 13 and r["p"] == 4 / 13


def test_get_field_compat_partial_z(snap):
    """Compat: p from un-decayed count (5) over un-decayed Z (16)."""
    out = ops.get_field(
        snap,
        fields=["blue"],
        now_us=NOW_US,
        distribution="colors",
        rate=RATE,
        compat_partial_z=True,
    )
    r = out.collect()[0]
    assert r["count"] == 4  # post-decay
    assert r["Z"] == 16 and r["p"] == 5 / 16  # pre-decay quirk


def test_live_distributions_expiry(snap):
    """η = sqrt(max_count/rate); horizon = (2+η)·η.
    colors: η=sqrt(20)≈4.47 → horizon≈28.9s, age 2s → live.
    animals: η=sqrt(6)≈2.45 → horizon≈10.9s, age 1s → live.
    stale: η=sqrt(14)≈3.74 → horizon≈21.5s, age 120s → expired."""
    live = ops.live_distributions(snap, now_us=NOW_US, rate=RATE)
    names = {r["distribution"] for r in live.collect()}
    assert names == {"colors", "animals"}


def test_json_payload(snap):
    out = ops.get_dist(snap, now_us=NOW_US, distribution="colors", rate=RATE)
    payload = ops.to_json_payload(out, rate=RATE, prune=True, now_us=NOW_US).collect()
    assert len(payload) == 1
    import json

    doc = json.loads(payload[0]["json"])
    assert doc["distribution"] == "colors"
    assert doc["Z"] == 13
    assert doc["T"] == NOW_US // 1_000_000
    assert [d["bin"] for d in doc["data"]] == ["red", "blue"]  # count desc
    assert doc["rate"] == RATE and doc["prune"] is True
