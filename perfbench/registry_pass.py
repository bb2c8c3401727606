#!/usr/bin/env python3
"""Measure one pass over the whole registry, to choose ``suite.ENTRIES``.

    python3 perfbench/registry_pass.py --seed <n>

Run from the root of a checkout. Times all 53 steps ``bench.py`` times
(``spine_build``, ``codebook_train``, every ``entrypoints.queries()``
entry in sorted order, ``layout_bucketed_get_dist``) exactly as the
``batch_suite`` workload times its selection: one session, the
benchmark's warm-up, ``clearCache`` before each step, the no-op sink, no
retries. Then it checks every entry against its DuckDB oracle and times
each check, interrupting an oracle query after ``CHECK_CAP_S``. It prints
one JSON object: the per-step and per-check seconds, each step's share
of the pass, and the selection the rule below gives for ``BUDGET_S``
seconds of timed steps.

The rule: the steps in ``suite.ALWAYS`` (the two shared builds and the
layout entry), then the other entries whose check passed within
``CHECK_CAP_S``, in falling order of measured time, while the sum stays
within the budget.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import common
import gen
import spans
import suite


#: Seconds of timed steps a ``batch_suite`` run can afford: with it a run
#: takes about 45 s on four cores, which keeps a full measurement of the
#: three workloads under an hour.
BUDGET_S = 18.0
#: A check that takes longer than this does not fit in a run.
CHECK_CAP_S = 2.0


def select(times: dict[str, float], budget: float = BUDGET_S, unchecked=()) -> list[str]:
    """The rule above; returns the chosen steps in ``bench.py``'s order."""
    chosen = set(suite.ALWAYS)
    spent = sum(times[n] for n in chosen)
    for name in sorted(set(times) - chosen - set(unchecked), key=lambda n: -times[n]):
        if spent + times[name] <= budget:
            chosen.add(name)
            spent += times[name]
    return [n for n in times if n in chosen]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    if not common.program_present():
        print(f"perfbench: forgettable_spark not found under {common.ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(common.OUT_DIR, f"registry-{os.getpid()}")
    os.makedirs(workdir)
    try:
        common.confine_to(workdir)
        data_dir = os.path.join(workdir, "data")
        gen.write_tables(args.seed, gen.SF01, data_dir)
        spark = common.start_spark(workdir)
        try:
            from forgettable_spark import entrypoints as ep

            names = [*suite.SHARED_BUILDS, *sorted(ep.queries()), suite.LAYOUT]
            common.warm_session(spark, data_dir)
            suite.prepare(spark, data_dir, names)
            t0 = time.perf_counter()
            timings, frames = suite._pass(spark, suite.steps(spark, data_dir, names),
                                          spans.Tracer(False), ["pass"])
            wall = time.perf_counter() - t0
            check_s: dict[str, float] = {}
            checks = suite._check(spark, data_dir, frames, check_s, cap_s=CHECK_CAP_S)
        finally:
            common.stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    times = {n: t["total_s"] for n, t in timings.items()}
    total = sum(times.values())
    unchecked = {n for n in frames if not checks[n] or check_s[n] > CHECK_CAP_S}
    chosen = select(times, unchecked=unchecked)
    print(json.dumps({
        "seed": args.seed,
        "cores": common.CORES,
        "spark": common.spark_version(),
        "pass_s": total,
        "wall_s": wall,
        "failed": sorted(set(names) - set(timings)),
        "over_cap_or_wrong": sorted(unchecked),
        "steps": {n: {**{k: round(v, 4) for k, v in timings[n].items()},
                      "share": round(times[n] / total, 4),
                      "check_s": round(check_s.get(n, 0.0), 4)} for n in timings},
        "budget_s": BUDGET_S,
        "selection": chosen,
        "selection_s": sum(times[n] for n in chosen),
        "selection_share": sum(times[n] for n in chosen) / total,
        "selection_check_s": sum(check_s.get(n, 0.0) for n in chosen),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
