#!/usr/bin/env python
"""A/B a session conf over named registered queries (r13 tooling).

    AB_CONF=key=value python scripts/ab_conf.py q1 q2 ...

Runs the named queries twice per session (warm + steady) in TWO fresh
sessions — baseline conf, then baseline+AB_CONF — and prints per-query
steady times side by side. Same bench session shape (local[cpus],
shuffle partitions = cpus, UI off, bench warmup).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_side(names, extra):
    from forgettable_spark.session import get_spark
    from forgettable_spark import entrypoints as ep
    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="forgettable-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            **extra,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = ep.queries()
    bench.warm_session(spark, sf_dir, cpus)
    out = {}
    for name in names:
        best = None
        for _ in (1, 2, 3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = best
    spark.stop()
    return out


def main() -> None:
    names = sys.argv[1:]
    ab_conf = os.environ.get("AB_CONF", "")
    if "=" not in ab_conf:
        raise SystemExit(f"AB_CONF must be key=value, got {ab_conf!r}")
    from forgettable_spark import entrypoints as ep

    if not names:
        raise SystemExit("usage: AB_CONF=key=value ab_conf.py QUERY [QUERY ...]")
    unknown = sorted(set(names) - set(ep.queries()))
    if unknown:
        raise SystemExit(f"not registered queries: {unknown}")
    kv = ab_conf.split("=", 1)
    base = run_side(names, {})
    # fresh JVM for the B side
    import subprocess, json
    code = (
        "import sys, json; sys.path.insert(0, %r); "
        "from scripts.ab_conf import run_side; "
        "print('ABJSON ' + json.dumps(run_side(%r, {%r: %r})))"
        % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), names, kv[0], kv[1])
    )
    env = dict(os.environ)
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, env=env)
    b = {}
    for line in res.stdout.splitlines():
        if line.startswith("ABJSON "):
            import json as _j
            b = _j.loads(line[7:])
    if not b:
        print(res.stdout[-2000:], res.stderr[-2000:])
        raise SystemExit("B side failed")
    print(f"\n{'query':35s} {'base':>8s} {'with-conf':>10s}")
    for n in names:
        print(f"{n:35s} {base[n]:8.3f} {b[n]:10.3f}")
    print(f"{'TOTAL':35s} {sum(base.values()):8.3f} {sum(b.values()):10.3f}")


if __name__ == "__main__":
    main()
