"""HTTP edge tests: routes, envelopes, and error texts verb-for-verb
against the reference server (goforget/forget.go, http_utils.go,
pyforget's /ping). Decay-through-HTTP is pinned via the documented
``now`` parameter so results are deterministic."""

from __future__ import annotations

import json
import socket
import sys
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone
from urllib.parse import parse_qs

import pytest

from forgettable_spark.api import ForgetTable
from forgettable_spark.operators.snapshot import FORGET_EVENTS_SCHEMA
from forgettable_spark.server import ForgetHTTPServer, _payload
from tests.test_cache_lifecycle import _persistent_ids

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
T0_SEC = int(T0.timestamp())


def _get(base: str, path: str):
    """Returns (status, body_bytes) without raising on HTTP errors."""
    try:
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _get_json(base: str, path: str):
    status, body = _get(base, path)
    return status, json.loads(body)


def _colors_table(spark) -> ForgetTable:
    t = ForgetTable.empty(spark)
    t = t.incr("colors", ["red"], n=3, ts=T0)
    return t.incr("colors", ["blue"], n=1, ts=T0)


@pytest.fixture(scope="module")
def served(spark):
    """Read-only server over the colors fixture (reference README's own
    example distribution, goforget/README.md:23-35)."""
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


# -- liveness ---------------------------------------------------------------


def test_ping(served):
    status, body = _get(served, "/ping")
    assert (status, body) == (200, b"OK")
    req = urllib.request.Request(served + "/ping", method="HEAD")
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200


def test_unknown_route_404(served):
    status, _ = _get(served, "/nope")
    assert status == 404


# -- reads ------------------------------------------------------------------


def test_dist_envelope_and_payload(served):
    status, env = _get_json(served, f"/dist?distribution=colors&rate=0&now={T0_SEC + 5}")
    assert status == 200
    assert env["status_code"] == 200 and env["status_txt"] == ""
    d = env["data"]
    assert d["distribution"] == "colors"
    assert d["Z"] == 4
    assert d["T"] == T0_SEC + 5
    assert d["rate"] == 0.0 and d["prune"] is True
    assert d["data"] == [
        {"bin": "red", "count": 3, "p": 0.75},
        {"bin": "blue", "count": 1, "p": 0.25},
    ]


def test_dist_decays_at_now(served):
    # rate 0.2 over 10 s -> k = floor(2) = 2: red 3->1, blue 1->0 (pruned)
    _, env = _get_json(served, f"/dist?distribution=colors&rate=0.2&now={T0_SEC + 10}")
    d = env["data"]
    assert d["data"] == [{"bin": "red", "count": 1, "p": 1.0}]
    assert d["Z"] == 1


def test_dist_absent_distribution_is_empty_not_error(served):
    # An unfilled reference Distribution serializes Z=0, T=0, data=[]
    status, env = _get_json(served, "/dist?distribution=ghost&rate=0")
    assert status == 200
    assert env["data"] == {
        "distribution": "ghost",
        "Z": 0,
        "T": 0,
        "data": [],
        "rate": 0.0,
        "prune": True,
    }


def test_get_field(served):
    _, env = _get_json(served, f"/get?distribution=colors&field=red&rate=0&now={T0_SEC}")
    assert env["data"]["data"] == [{"bin": "red", "count": 3, "p": 0.75}]


def test_nmostprobable_top1(served):
    _, env = _get_json(
        served, f"/nmostprobable?distribution=colors&N=1&rate=0&now={T0_SEC}"
    )
    d = env["data"]["data"]
    assert d == [{"bin": "red", "count": 3, "p": 0.75}]


def test_nmostprobable_default_n_is_10(served):
    _, env = _get_json(served, f"/nmostprobable?distribution=colors&rate=0&now={T0_SEC}")
    assert len(env["data"]["data"]) == 2  # both bins, N defaults to 10


def test_dbsize(served):
    status, env = _get_json(served, "/dbsize")
    assert status == 200
    assert env["data"] == 1


# -- errors (reference reason strings) --------------------------------------


@pytest.mark.parametrize(
    "path,reason",
    [
        ("/dist", "MISSING_ARG_DISTRIBUTION"),
        ("/get", "MISSING_ARG_DISTRIBUTION"),
        ("/incr", "MISSING_ARG_DISTRIBUTION"),
        ("/nmostprobable", "MISSING_ARG_DISTRIBUTION"),
        ("/incr?distribution=colors", "MISSING_ARG_FIELD"),
        ("/get?distribution=colors", "MISSING_ARG_FIELD"),
        ("/incr?distribution=colors&field=red&N=abc", "COULDNT_PARSE_N"),
        ("/nmostprobable?distribution=colors&N=abc", "INVALID_ARG_N"),
        ("/dist?distribution=colors&rate=xyz", "CANNOT_PARSE_RATE"),
        ("/get?distribution=colors&field=red&rate=xyz", "CANNOT_PARSE_RATE"),
        ("/nmostprobable?distribution=colors&rate=xyz", "CANNOT_PARSE_RATE"),
    ],
)
def test_error_reasons(served, path, reason):
    status, env = _get_json(served, path)
    assert status == 500
    assert env == {"status_code": 500, "status_txt": reason, "data": None}


# -- writes and lifecycle ---------------------------------------------------


def test_incr_then_read_back(spark):
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    base = f"http://{host}:{port}"
    try:
        status, body = _get(base, "/incr?distribution=pets&field=dog&N=5")
        assert (status, body) == (200, b"OK")
        # default N is 1
        status, body = _get(base, "/incr?distribution=pets&field=cat")
        assert (status, body) == (200, b"OK")

        _, env = _get_json(base, "/dbsize")
        assert env["data"] == 2

        _, env = _get_json(base, "/dist?distribution=pets&rate=0")
        assert env["data"]["Z"] == 6
        assert env["data"]["data"][0] == {"bin": "dog", "count": 5, "p": 5 / 6}

        # engine validates N >= 1 -> reference's "FAIL" text path
        status, body = _get(base, "/incr?distribution=pets&field=dog&N=0")
        assert (status, body) == (500, b"FAIL")
    finally:
        srv.stop()


def test_exit_stops_server(spark):
    before = _persistent_ids(spark)
    srv = ForgetHTTPServer(_colors_table(spark))
    host, port = srv.start()
    base = f"http://{host}:{port}"
    status, body = _get(base, "/exit")
    assert (status, body) == (200, b"OK")
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            with socket.create_connection((host, port), timeout=1):
                time.sleep(0.1)
        except OSError:
            break
    else:
        pytest.fail("server did not shut down after /exit")
    while _persistent_ids(spark) != before and time.time() < deadline:
        time.sleep(0.1)
    assert _persistent_ids(spark) == before, "/exit left the served state persisted"


def test_checkpoint_rematerializes_and_frees_replaced_state(spark):
    """Every ``checkpoint_every`` appends the served table is materialized
    again and the state it replaces is unpersisted: counts stay exact and
    the server holds one persisted state, which ``stop()`` frees."""
    before = _persistent_ids(spark)
    srv = ForgetHTTPServer(_colors_table(spark), checkpoint_every=2)
    host, port = srv.start()
    base = f"http://{host}:{port}"
    try:
        for path in (
            "/incr?distribution=colors&field=red&N=2",
            "/incr?distribution=pets&field=dog&N=5",
            "/incr?distribution=colors&field=green",
            "/incr?distribution=pets&field=cat&field=dog&N=3",
        ):
            assert _get(base, path) == (200, b"OK")
        assert len(_persistent_ids(spark) - before) == 1
        for d, z in (("colors", 4 + 2 + 1), ("pets", 5 + 3 * 2)):
            _, env = _get_json(base, f"/dist?distribution={d}&rate=0")
            assert env["data"]["Z"] == z
    finally:
        srv.stop()
    assert _persistent_ids(spark) == before


def test_replaced_state_outlives_reads_in_flight(spark):
    before = _persistent_ids(spark)
    srv = ForgetHTTPServer(_colors_table(spark), checkpoint_every=1)
    srv.start()
    try:
        with srv.reading() as held:
            srv.apply_incr("colors", ["red"], 1)
            assert len(_persistent_ids(spark) - before) == 2
            assert held.dist("colors", rate=0).count() == 2
        assert len(_persistent_ids(spark) - before) == 1
    finally:
        srv.stop()
    assert _persistent_ids(spark) == before


def test_concurrent_reads_and_rematerializations_free_every_state(spark):
    """Reads on more threads than cores while every /incr re-materializes:
    no replaced state is leaked and no append is lost."""
    before = _persistent_ids(spark)
    srv = ForgetHTTPServer(_colors_table(spark), checkpoint_every=1)
    host, port = srv.start()
    base = f"http://{host}:{port}"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            reads = [
                pool.submit(_get_json, base, f"/dist?distribution=colors&rate=0&now={T0_SEC}")
                for _ in range(16)
            ]
            for _ in range(4):
                assert _get(base, "/incr?distribution=colors&field=red") == (200, b"OK")
            assert all(f.result(timeout=120)[0] == 200 for f in reads)
        _, env = _get_json(base, "/dist?distribution=colors&rate=0")
        assert env["data"]["Z"] == 4 + 4
        assert len(_persistent_ids(spark) - before) == 1
    finally:
        sys.setswitchinterval(interval)
        srv.stop()
    assert _persistent_ids(spark) == before


# -- materialized serving == raw-log reads ----------------------------------

#: Reads are evaluated here: ``colors`` has lost ``blue``, ``fading``
#: (last touched a day earlier) has decayed away entirely. ``colors`` and
#: ``pets`` sit one second before their next decay step, so a ``T`` off
#: by a second changes the counts.
PARITY_NOW = T0_SEC + 199
PARITY_RATE = 0.01


def _parity_log(spark):
    rows = [
        ("colors", "red", 3, T0),
        ("colors", "blue", 1, T0),
        ("pets", "dog", 5, T0),
        ("pets", "cat", 2, T0 + timedelta(seconds=100)),
        ("pets", "dog", 4, T0 + timedelta(seconds=50)),
        ("fading", "x", 1, T0 - timedelta(days=1)),
    ]
    rows += [("wide", f"b{i:02d}", 1 + i % 4, T0 + timedelta(seconds=i)) for i in range(14)]
    return spark.createDataFrame(rows, FORGET_EVENTS_SCHEMA)


PARITY_READS = [
    "/dist?distribution={d}",
    "/get?distribution={d}&field=red&field=dog&field=b03&field=x",
    "/nmostprobable?distribution={d}&N=3",
]


def _plain_read(table: ForgetTable, path: str):
    """What the server replies to ``path``, computed on ``table`` directly."""
    route, _, query = path.partition("?")
    if route == "/dbsize":
        return {"status_code": 200, "status_txt": "", "data": table.db_size()}
    q = parse_qs(query)
    d, rate, now_sec = q["distribution"][0], float(q["rate"][0]), int(q["now"][0])
    now_us = now_sec * 1_000_000
    if route == "/dist":
        df = table.dist(d, rate=rate, now=now_us)
    elif route == "/get":
        df = table.get(d, q["field"], rate=rate, now=now_us)
    else:
        df = table.n_most_probable(d, n=int(q.get("N", ["10"])[0]), rate=rate, now=now_us)
    data = _payload(df.collect(), d, rate, table.prune, now_sec)
    return {"status_code": 200, "status_txt": "", "data": data}


def _assert_parity(base: str, plain: ForgetTable, distributions, now_sec: int) -> None:
    paths = ["/dbsize"] + [
        p.format(d=d) + f"&rate={PARITY_RATE}&now={now_sec}"
        for d in distributions
        for p in PARITY_READS
    ]
    for path in paths:
        status, env = _get_json(base, path)
        assert status == 200, path
        assert env == _plain_read(plain, path), path


@pytest.mark.parametrize("prune", [True, False])
def test_materialized_server_matches_raw_log(spark, prune):
    raw = ForgetTable(spark, _parity_log(spark), prune=prune)
    assert raw.dist("fading", rate=PARITY_RATE, now=PARITY_NOW * 1_000_000).count() == (
        0 if prune else 1
    )
    srv = ForgetHTTPServer(raw)
    host, port = srv.start()
    base = f"http://{host}:{port}"
    try:
        _assert_parity(base, raw, ("colors", "pets", "fading", "wide", "ghost"), PARITY_NOW)

        # Reads after an /incr: replay the server's append (same ts) on the raw log.
        assert _get(base, "/incr?distribution=pets&field=cat&field=eel&N=2") == (200, b"OK")
        ts_us = (
            srv.table().events.filter("distribution = 'pets'")
            .selectExpr("unix_micros(max(ts))").first()[0]
        )
        ts = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=ts_us)
        grown = raw.incr("pets", ["cat", "eel"], n=2, ts=ts)
        _assert_parity(base, grown, ("pets",), ts_us // 1_000_000 + 199)
        # Unwritten distributions are now re-aggregated from the projection.
        _assert_parity(base, grown, ("colors", "fading"), PARITY_NOW)
    finally:
        srv.stop()


def test_materialized_compact_matches_raw_log(spark):
    raw = ForgetTable(spark, _parity_log(spark), rate=PARITY_RATE)
    mat = raw.materialize()
    try:
        now_us = PARITY_NOW * 1_000_000
        for apply_expiry in (True, False):
            got = mat.compact(now=now_us, apply_expiry=apply_expiry).events.collect()
            want = raw.compact(now=now_us, apply_expiry=apply_expiry).events.collect()
            assert sorted(got) == sorted(want)
    finally:
        mat._snapshot().unpersist()
