"""ForgetTable facade: the reference's README walkthrough, replayed
(goforget/README.md:23-35 — incr colors red/blue, read back, top-1)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from forgettable_spark.api import ForgetTable

T0 = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


@pytest.fixture()
def ft(spark):
    return (
        ForgetTable.empty(spark, rate=0.5)
        .incr("colors", ["red"], n=9, ts=T0)
        .incr("colors", ["blue"], n=5, ts=T0)
        .incr("colors", ["green"], ts=T0)
        .incr("colors", ["red"], ts=datetime.fromtimestamp(T0.timestamp() + 8, tz=timezone.utc))
        .incr("animals", ["cat", "dog"], n=2, ts=T0)
    )


def _now(offset: float):
    return datetime.fromtimestamp(T0.timestamp() + offset, tz=timezone.utc)


def test_readme_walkthrough(ft):
    # At T0+10s: colors T = T0+8s → dt=2, k=1: red 10-1=9, blue 4, green 0
    rows = {r["bin"]: r for r in ft.dist("colors", now=_now(10)).collect()}
    assert rows["red"]["count"] == 9 and rows["blue"]["count"] == 4
    assert "green" not in rows
    assert abs(sum(r["p"] for r in rows.values()) - 1.0) < 1e-12

    top = ft.n_most_probable("colors", n=1, now=_now(10)).collect()
    assert top[0]["bin"] == "red"

    got = ft.get("colors", ["blue"], now=_now(10)).collect()
    assert got[0]["count"] == 4

    assert ft.db_size() == 2
    assert ft.ping()


def test_multi_field_incr_weights(ft):
    """incr with several fields adds n to each (goforget/forget.go:31-69)."""
    rows = {r["bin"]: r["count"] for r in ft.dist("animals", now=T0).collect()}
    assert rows == {"cat": 2, "dog": 2}


def test_immutable_append(ft):
    before = {r["bin"] for r in ft.dist("colors", now=_now(10)).collect()}
    assert before == {"red", "blue"}
    grown = ft.incr("colors", ["purple"], n=50, ts=_now(9))
    after = {r["bin"] for r in grown.dist("colors", now=_now(10)).collect()}
    # the append advances T to +9s → dt=1, k=0: green resurfaces too
    assert after == {"red", "blue", "green", "purple"}
    # old handle still answers from the un-appended log
    assert {r["bin"] for r in ft.dist("colors", now=_now(10)).collect()} == before


def test_compact_then_query(ft):
    compacted = ft.compact(now=_now(10))
    rows = {r["bin"]: r["count"] for r in compacted.dist("colors", now=_now(10)).collect()}
    # compaction already decayed to now; reading at the same now adds no decay
    assert rows == {"red": 9, "blue": 4}


def test_incr_validation(ft):
    """Reference handler 400s: empty distribution/field, bad N
    (goforget/forget.go:32-57)."""
    with pytest.raises(ValueError):
        ft.incr("", ["red"])
    with pytest.raises(ValueError):
        ft.incr("colors", [])
    with pytest.raises(ValueError):
        ft.incr("colors", ["red", ""])
    with pytest.raises(ValueError):
        ft.incr("colors", ["red"], n=0)


def test_json_payload_shape(ft):
    import json

    payload = ft.dist("colors", now=_now(10), json=True).collect()
    doc = json.loads(payload[0]["json"])
    assert doc["distribution"] == "colors"
    assert {d["bin"] for d in doc["data"]} == {"red", "blue"}


def test_incr_naive_ts_is_utc_on_non_utc_driver(spark):
    """A naive ``ts`` means UTC on every host, as a naive ``now`` does
    (``api._to_us``). Pickled rows read it as driver-local time, so a
    New York driver stored the append 4 h later than ``_to_us``."""
    import os
    import time

    from forgettable_spark.api import _to_us

    naive = datetime(2024, 6, 1, 12)
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        events = ForgetTable.empty(spark).incr("d", ["a"], ts=naive).events
        got = events.selectExpr("unix_micros(ts) AS us").first()["us"]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got == _to_us(naive) == 1_717_243_200_000_000
