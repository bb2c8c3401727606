"""Output checks, evaluated in DuckDB over the generated parquet inputs.

The serve checks rebuild every distribution's decayed state at the pinned
``now`` with the same SQL form as the registry's get-dist oracle
(``entrypoints.oracle_sql``), kept here as a copy so that the check does
not change when the program does. The registry check compares a query's
rows with its own registered DuckDB twin, exactly, as the test gate does.
"""

from __future__ import annotations

import json
import math

import duckdb

_SERVE_SQL = """
WITH ev AS (
  SELECT 'u' || CAST(user_id % 1000 AS VARCHAR) AS distribution, event_type AS bin,
         CAST(1 AS BIGINT) AS n, ts
  FROM read_parquet('{events}')
),
snap AS (
  SELECT distribution, bin, CAST(SUM(n) AS BIGINT) AS "count", MAX(ts) AS t_bin
  FROM ev GROUP BY distribution, bin
),
state AS (
  SELECT distribution, bin, "count", MAX(t_bin) OVER (PARTITION BY distribution) AS t
  FROM snap
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY distribution ORDER BY "count" DESC, bin ASC) AS rank
  FROM state
),
decayed AS (
  SELECT distribution, bin, rank,
         GREATEST("count" - CAST(FLOOR(CAST({rate:e} AS DOUBLE)
                  * (({now_us} - epoch_us(t)) / 1e6)) AS BIGINT), 0) AS "count"
  FROM ranked
)
SELECT distribution, bin, "count", rank,
       CAST(SUM("count") OVER (PARTITION BY distribution) AS BIGINT) AS "Z"
FROM decayed WHERE "count" > 0
"""


class ServeOracle:
    """Expected response envelopes of ``/dist``, ``/get`` and
    ``/nmostprobable`` over the base log at one pinned ``now``."""

    def __init__(self, events_path: str, now_us: int, rate: float):
        self.now_sec = now_us // 1_000_000
        self.rate = rate
        self.live: dict[str, list[tuple[str, int, int, int]]] = {}
        with duckdb.connect() as con:
            sql = _SERVE_SQL.format(events=events_path, rate=rate, now_us=now_us)
            for dist, b, count, rank, z in con.execute(sql).fetchall():
                self.live.setdefault(dist, []).append((b, count, rank, z))
            self.base_n = dict(
                con.execute(
                    "SELECT 'u' || CAST(user_id % 1000 AS VARCHAR), COUNT(*) "
                    f"FROM read_parquet('{events_path}') GROUP BY 1"
                ).fetchall()
            )

    def expected(self, request: dict) -> dict:
        dist, route = request["distribution"], request["route"]
        rows = self.live.get(dist, [])
        if route == "get":
            rows = [r for r in rows if r[0] in request["fields"]]
        elif route == "nmost":
            rows = [r for r in rows if r[2] <= request.get("n", 10)]
        rows = sorted(rows, key=lambda r: (-r[1], r[0]))
        payload = {
            "distribution": dist,
            "Z": rows[0][3] if rows else 0,
            "T": self.now_sec if rows else 0,
            "data": [{"bin": b, "count": c, "p": c / z} for b, c, _, z in rows],
            "rate": self.rate,
            "prune": True,
        }
        return {"status_code": 200, "status_txt": "", "data": payload}

    def read_ok(self, request: dict, body: bytes) -> bool:
        try:
            return json.loads(body) == self.expected(request)
        except ValueError:
            return False


def _canon(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def rows_match(columns: list[str], spark_rows, duck_rel) -> bool:
    """Same rows, same columns, order-insensitive, exact values."""
    cols = sorted(columns)
    if sorted(duck_rel.columns) != cols:
        return False
    srows = sorted((tuple(_canon(r[c]) for c in cols) for r in spark_rows), key=repr)
    ddf = duck_rel.df()
    drows = sorted(
        (tuple(_canon(v) for v in t) for t in ddf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return srows == drows
