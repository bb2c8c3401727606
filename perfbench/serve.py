"""The serve workloads: ``ForgetHTTPServer`` in its own process, driven
by a closed loop of keep-alive connections from this process.

``serve_read`` sends reads only, for ``--seconds`` seconds. ``serve_rw``
sends a fixed request stream in which one request in four is an
``/incr``, so every run makes the same number of appends.
"""

from __future__ import annotations

import http.client
import json
import os
import select
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

import common
import gen
import spans
from oracle import ServeOracle

CONNECTIONS = 2
RATE = 1e-3
#: Requests pre-generated for the timed loop; more than it can send.
READ_STREAM = 5_000
#: Untimed load before the timed window, a fixed count so the timed window
#: starts at the same point of the read path's JIT compilation on a fast
#: or a slow host (a fresh server's read latency falls steeply for about
#: 40 reads, then slowly for minutes).
WARM_REQUESTS = 48
#: serve_rw's fixed stream: 4 appends, no lineage checkpoint (the server
#: checkpoints every 64th append).
RW_REQUESTS = 16
RW_WRITE_EVERY = 4
ROUTE_PATH = {"dist": "/dist", "get": "/get", "nmost": "/nmostprobable", "incr": "/incr"}


def url(request: dict, now_sec: int) -> str:
    q = [("distribution", request["distribution"])]
    q += [("field", f) for f in request["fields"]]
    if request["route"] == "incr":
        q.append(("N", 1))
    else:
        if request["route"] == "nmost":
            q.append(("N", 10))
        q += [("rate", RATE), ("now", now_sec)]
    return f"{ROUTE_PATH[request['route']]}?{urlencode(q)}"


def closed_loop(port: int, requests: list[dict], now_sec: int, seconds: float | None) -> tuple[list[dict], float]:
    """Send ``requests`` in order over ``CONNECTIONS`` keep-alive
    connections, each waiting for its reply before taking the next
    request. With ``seconds`` the loop stops taking requests after that
    long; otherwise it sends them all. Returns one record per completed
    request and the wall time of the loop."""
    lock = threading.Lock()
    todo = iter(enumerate(requests))
    done: list[dict] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds if seconds else None

    def worker() -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        try:
            while True:
                with lock:
                    if deadline and time.perf_counter() >= deadline:
                        return
                    nxt = next(todo, None)
                if nxt is None:
                    return
                i, req = nxt
                start = time.perf_counter()
                try:
                    conn.request("GET", url(req, now_sec))
                    resp = conn.getresponse()
                    status, body = resp.status, resp.read()
                except (OSError, http.client.HTTPException) as exc:
                    status, body = 0, repr(exc).encode()
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
                end = time.perf_counter()
                with lock:
                    done.append({"i": i, "start": start, "end": end, "status": status, "body": body})
        finally:
            conn.close()

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(done, key=lambda r: r["i"]), time.perf_counter() - t0


def _read_line(proc: subprocess.Popen, timeout: float) -> str:
    ready, _, _ = select.select([proc.stdout], [], [], timeout)
    if not ready:
        raise TimeoutError("server process did not report ready")
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError("server process exited before it was ready")
    return line


def _send(proc: subprocess.Popen, line: str) -> None:
    proc.stdin.write(line + "\n")
    proc.stdin.flush()


def check(requests: list[dict], done: list[dict], oracle: ServeOracle, written: set[str]) -> list[bool]:
    """Per completed request: did it succeed with the right payload?
    Reads of distributions the stream writes to are checked after the
    run instead (their payload depends on how far the writes got)."""
    ok = []
    for r in done:
        req = requests[r["i"]]
        if r["status"] != 200:
            ok.append(False)
        elif req["route"] == "incr":
            ok.append(r["body"] == b"OK")
        elif req["distribution"] in written:
            ok.append(True)
        else:
            ok.append(oracle.read_ok(req, r["body"]))
    return ok


def final_z_ok(port: int, requests: list[dict], oracle: ServeOracle) -> dict[str, bool]:
    """After a write stream: ``Z`` of each written distribution equals its
    base event count plus the increments sent (the appended events are
    stamped after the pinned ``now``, so nothing of that distribution
    decays)."""
    sent: dict[str, int] = {}
    for req in requests:
        if req["route"] == "incr":
            sent[req["distribution"]] = sent.get(req["distribution"], 0) + len(req["fields"])
    out = {}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        for dist, n in sorted(sent.items()):
            conn.request("GET", url({"route": "dist", "distribution": dist, "fields": []}, oracle.now_sec))
            resp = conn.getresponse()
            body = resp.read()
            z = json.loads(body)["data"]["Z"] if resp.status == 200 else None
            out[dist] = z == oracle.base_n.get(dist, 0) + n
    finally:
        conn.close()
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, workdir: str, started: float) -> common.Result:
    data_dir = os.path.join(workdir, "data")
    gen.write_tables(seed, gen.SF01, data_dir, names=("events",))
    events_path = os.path.join(data_dir, "events.parquet")
    import pyarrow.parquet as pq

    now_us = gen.pinned_now_us(pq.read_table(events_path, columns=["ts"]))
    now_sec = now_us // 1_000_000
    writes = workload == "serve_rw"
    requests = gen.request_stream(
        seed, RW_REQUESTS if writes else READ_STREAM, RW_WRITE_EVERY if writes else 0
    )
    result_path = os.path.join(workdir, "server-result.json")
    cfg = {"workdir": workdir, "data_dir": data_dir, "now_us": now_us, "rate": RATE,
           "trace": trace, "result_path": result_path}
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(workdir, "server.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "serve_proc.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True, cwd=common.ROOT,
        )
    try:
        ready = json.loads(_read_line(proc, 170))
        res = common.Result()
        with common.busy_cores():
            warm, _ = closed_loop(ready["port"], gen.request_stream(seed + 1, WARM_REQUESTS), now_sec, None)
            res.set_up(started)
            _send(proc, "measure")
            done, wall = closed_loop(ready["port"], requests, now_sec, None if writes else seconds)
        oracle = ServeOracle(events_path, now_us, RATE)
        written = {r["distribution"] for r in requests if r["route"] == "incr"}
        ok = check(requests, done, oracle, written)
        z_ok = final_z_ok(ready["port"], requests, oracle) if writes else {}
        _send(proc, "finish")
        proc.wait(timeout=120)
        with open(result_path) as fh:
            server = json.load(fh)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()

    # a write whose distribution's final Z is wrong counts as failed
    for k, r in enumerate(done):
        req = requests[r["i"]]
        if req["route"] == "incr" and not z_ok.get(req["distribution"], True):
            ok[k] = False
    res.attempted = len(done)
    res.failed = ok.count(False)

    lat: dict[str, list[float]] = {}
    for r in done:
        lat.setdefault(requests[r["i"]]["route"], []).append((r["end"] - r["start"]) * 1e3)
    reads = [v for route, vals in lat.items() if route != "incr" for v in vals]
    res.metrics["op_p50_ms"] = spans.p50(reads)
    res.samples["op_p50_ms"] = len(reads)
    res.metrics["ops_per_s"] = len(done) / wall
    res.samples["ops_per_s"] = len(done)
    per_route = {
        f"serve.{route}_p50_ms": spans.p50(lat.get(route, [])) for route in ("dist", "get", "nmost", "incr")
    }
    res.detail.update(
        routes={route: {"n": len(v), "p50_ms": spans.p50(v), "p90_ms": spans.percentile(v, 90)}
                for route, v in sorted(lat.items())},
        reads={"n": len(reads), "p50_ms": spans.p50(reads), "p90_ms": spans.percentile(reads, 90)},
        session_s=ready["session_s"],
        peak_rss_mb=server["rss_mb"],
        warm_requests=len(warm),
        wall_s=wall,
        written_z_ok=z_ok,
    )
    if trace:
        res.layers.update(server["layers"], **per_route)
        res.layers["session.start_s"] = ready["session_s"]
        res.layers["proc.peak_rss_mb"] = server["rss_mb"]
        res.detail["reads_traced"] = server["reads"]
        res.detail["spans"] = server["spans"]
    return res
