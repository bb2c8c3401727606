"""HTTP edge: the reference's actual user surface, verb for verb.

Routes, query parameters, error texts, and response envelopes mirror the
reference server (``goforget/forget.go:258-266`` route table,
``goforget/http_utils.go:10-46`` envelope, plus pyforget's ``/ping`` —
``pyforget/forget_table.py:16,23-27``):

    GET /incr?distribution=d&field=f[&field=g...][&N=k]  -> "OK"/"FAIL" (text)
    GET /dist?distribution=d[&rate=r]                    -> JSON envelope
    GET /get?distribution=d&field=f[&field=g...][&rate=r]-> JSON envelope
    GET /nmostprobable?distribution=d[&N=n][&rate=r]     -> JSON envelope
    GET /dbsize                                          -> JSON envelope
    GET /ping                                            -> "OK" (text)
    GET /exit                                            -> "OK", then shutdown

Success envelope is ``{"status_code": 200, "status_txt": "", "data": ...}``
(Go marshals the unset StatusTxt as ``""``); errors are HTTP 500 with
``{"status_code": 500, "status_txt": "<REASON>", "data": null}`` using the
reference's exact reason strings (``MISSING_ARG_DISTRIBUTION``,
``MISSING_ARG_FIELD``, ``COULDNT_PARSE_N``, ``CANNOT_PARSE_RATE``,
``INVALID_ARG_N`` — ``goforget/forget.go:31-215``). A distribution payload
is ``{distribution, Z, T, data: [{bin, count, p}...], rate, prune}``
(``goforget/distribution.go:18-40``) with bins ordered (count desc, bin
asc) — the reference's Go map iteration is unordered, so any order is
compatible; ours is deterministic.

Documented differences (engine semantics, not route semantics):

- Reads accept an optional ``now`` parameter (unix seconds, float) so
  decay is evaluated at an explicit instant — the engine is pure
  decay-at-read, so "now" is an input, not ambient state. Omitted ->
  wall clock, like the reference.
- There is no write-back: the reference enqueues a read-repair after
  every request (``goforget/forget.go:68,111,159,214``) because Redis
  stores mutable aggregates; here reads are pure plans over an immutable
  log, so the queue does not exist. Durable decay is the scheduled
  compaction job (``operators/compact.py``).
- ``/incr`` with N < 1 returns "FAIL": the engine validates positivity
  (``api.ForgetTable.incr``), where the reference would forward a
  negative ZINCRBY unchecked.

Scale posture: this edge serves *point* reads — every route touches one
distribution. The server computes the table's snapshot once at start
(:meth:`ForgetTable.materialize`) and persists it hash-partitioned by
distribution, so a read is a filtered scan of that in-memory snapshot
plus the per-distribution window, with no exchange and no aggregate —
the same read operators as the batch path. Appends union onto the
persisted snapshot; every ``checkpoint_every`` appends the snapshot is
recomputed and the one it replaces is freed.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from forgettable_spark.api import ForgetTable, _to_us

_ORDERED_ROUTES = ("/incr", "/dist", "/get", "/nmostprobable", "/dbsize", "/ping", "/exit")


class ForgetHTTPServer:
    """Serve a :class:`ForgetTable` over the reference's HTTP routes.

    The table is materialized at construction. ``incr`` swaps the
    underlying (immutable) table under a lock; every ``checkpoint_every``
    appends it is materialized again and the state it replaces is
    unpersisted once no read holds it (:meth:`reading`), so a long-lived
    server neither accretes an unbounded union lineage nor keeps more
    than one persisted state. :meth:`stop` and ``/exit`` free the served
    state.

    ``stop_spark_on_exit=True`` makes ``/exit`` also stop the
    SparkSession (the reference's ``/exit`` ends the whole process —
    ``goforget/forget.go:217-224``); default only stops the HTTP server.
    """

    def __init__(
        self,
        table: ForgetTable,
        host: str = "127.0.0.1",
        port: int = 0,
        stop_spark_on_exit: bool = False,
        checkpoint_every: int = 64,
    ):
        self._table = table.materialize()
        self._state = self._table._snapshot()
        self._retired: list = []
        self._readers = 0
        self._lock = threading.Lock()
        self._appends = 0
        self._checkpoint_every = checkpoint_every
        self._stop_spark_on_exit = stop_spark_on_exit
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        with self._lock:
            if self._state is not None:
                self._retired.append(self._state)
                self._state = None
            self._release_retired()

    def _exit(self) -> None:
        def stop_all() -> None:
            self.stop()
            if self._stop_spark_on_exit:
                self._table.shutdown()

        # shutdown() blocks until serve_forever returns; detach so the
        # /exit handler can finish its response first.
        threading.Thread(target=stop_all, daemon=True).start()

    # -- table access ------------------------------------------------------

    def table(self) -> ForgetTable:
        with self._lock:
            return self._table

    @contextmanager
    def reading(self):
        """The served table; the persisted state it reads stays persisted
        until the block exits. Unpersisting it under a running read would
        make Spark rebuild the cache buffers outside the cache manager,
        where nothing frees them."""
        with self._lock:
            self._readers += 1
            table = self._table
        try:
            yield table
        finally:
            with self._lock:
                self._readers -= 1
                self._release_retired()

    def apply_incr(self, distribution: str, fields: list[str], n: int) -> None:
        with self._lock:
            new = self._table.incr(distribution, fields, n=n)
            self._appends += 1
            if self._checkpoint_every and self._appends % self._checkpoint_every == 0:
                new = new.materialize()
                self._retired.append(self._state)
                self._state = new._snapshot()
                self._release_retired()
            self._table = new

    def _release_retired(self) -> None:
        """Unpersist replaced states once no read holds them (lock held)."""
        if not self._readers:
            for state in self._retired:
                state.unpersist()
            self._retired.clear()


def _payload(rows, distribution: str, rate: float, prune: bool, now_sec: int) -> dict:
    """Distribution response body (``goforget/distribution.go:18-40``).

    ``Z`` comes from the engine rows (all rows of one distribution carry
    the same Z); an absent/empty distribution serializes as Z=0, T=0,
    data=[] — matching an unfilled reference Distribution.
    """
    rows = sorted(rows, key=lambda r: (-r["count"], r["bin"]))
    return {
        "distribution": distribution,
        "Z": int(rows[0]["Z"]) if rows else 0,
        "T": now_sec if rows else 0,
        "data": [{"bin": r["bin"], "count": int(r["count"]), "p": r["p"]} for r in rows],
        "rate": rate,
        "prune": prune,
    }


def _make_handler(server: ForgetHTTPServer):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        # -- plumbing ------------------------------------------------------

        def log_message(self, *args) -> None:  # quiet test output
            pass

        def _send(self, code: int, body: bytes, ctype: str = "application/json") -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _text(self, code: int, txt: str) -> None:
            self._send(code, txt.encode(), ctype="text/plain")

        def _envelope(self, code: int, data=None, status_txt: str = "") -> None:
            body = json.dumps(
                {"status_code": code, "status_txt": status_txt, "data": data}
            ).encode()
            self._send(code, body)

        def _error(self, status_txt: str) -> None:
            self._envelope(500, data=None, status_txt=status_txt)

        # -- shared param parsing (goforget/forget.go handler preambles) ---

        def _params(self):
            return parse_qs(urlparse(self.path).query, keep_blank_values=True)

        def _distribution(self, q) -> str | None:
            d = q.get("distribution", [""])[0]
            if not d:
                self._error("MISSING_ARG_DISTRIBUTION")
                return None
            return d

        def _fields(self, q) -> list[str] | None:
            fields = [f for f in q.get("field", []) if f]
            if not fields:
                self._error("MISSING_ARG_FIELD")
                return None
            return fields

        def _rate(self, q) -> float | None:
            raw = q.get("rate", [""])[0]
            if raw == "":
                return server.table().rate
            try:
                return float(raw)
            except ValueError:
                self._error("CANNOT_PARSE_RATE")
                return None

        def _now_us(self, q) -> int:
            """Engine extension: explicit evaluation instant (unix sec);
            omitted -> wall clock."""
            raw = q.get("now", [""])[0]
            return _to_us(None if raw == "" else int(float(raw) * 1_000_000))

        def _reply_read(self, q, d: str, rate: float, read) -> None:
            """Run ``read(table, now_us)`` on the served table and reply
            with the distribution envelope, ``T`` at the same instant."""
            now_us = self._now_us(q)
            with server.reading() as table:
                rows = read(table, now_us).collect()
            self._envelope(200, _payload(rows, d, rate, table.prune, now_us // 1_000_000))

        # -- routes --------------------------------------------------------

        def do_GET(self) -> None:
            route = urlparse(self.path).path
            method = getattr(self, f"_route_{route.lstrip('/')}", None)
            if route not in _ORDERED_ROUTES or method is None:
                self._text(404, "NOT_FOUND")
                return
            try:
                method(self._params())
            except BrokenPipeError:
                raise
            except Exception as exc:  # reference 500s on store errors
                self._error(f"INTERNAL_ERROR: {type(exc).__name__}")

        def do_HEAD(self) -> None:  # pyforget serves HEAD /ping
            if urlparse(self.path).path == "/ping":
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        def _route_incr(self, q) -> None:
            d = self._distribution(q)
            if d is None:
                return
            fields = self._fields(q)
            if fields is None:
                return
            raw_n = q.get("N", [""])[0]
            if raw_n == "":
                n = 1
            else:
                try:
                    n = int(raw_n)
                except ValueError:
                    self._error("COULDNT_PARSE_N")
                    return
            try:
                server.apply_incr(d, fields, n)
            except ValueError:
                self._text(500, "FAIL")
                return
            self._text(200, "OK")

        def _route_dist(self, q) -> None:
            d = self._distribution(q)
            if d is None:
                return
            rate = self._rate(q)
            if rate is None:
                return
            self._reply_read(q, d, rate, lambda t, now: t.dist(d, rate=rate, now=now))

        def _route_get(self, q) -> None:
            d = self._distribution(q)
            if d is None:
                return
            fields = self._fields(q)
            if fields is None:
                return
            rate = self._rate(q)
            if rate is None:
                return
            self._reply_read(q, d, rate, lambda t, now: t.get(d, fields, rate=rate, now=now))

        def _route_nmostprobable(self, q) -> None:
            d = self._distribution(q)
            if d is None:
                return
            rate = self._rate(q)
            if rate is None:
                return
            raw_n = q.get("N", [""])[0]
            if raw_n == "":
                n = 10
            else:
                try:
                    n = int(raw_n)
                except ValueError:
                    self._error("INVALID_ARG_N")
                    return
            self._reply_read(
                q, d, rate, lambda t, now: t.n_most_probable(d, n=n, rate=rate, now=now)
            )

        def _route_dbsize(self, q) -> None:
            with server.reading() as table:
                size = table.db_size()
            self._envelope(200, size)

        def _route_ping(self, q) -> None:
            self._text(200, "OK")

        def _route_exit(self, q) -> None:
            self._text(200, "OK")
            server._exit()

    return Handler
