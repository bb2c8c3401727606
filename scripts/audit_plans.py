#!/usr/bin/env python3
"""Generate PLANS.md: a physical-plan audit of every registered query.

For each primary + secondary registry entry, the formatted optimized
plan is summarized into the four properties the 100 TB posture rests on:

- exchanges:   number of shuffle Exchange operators (ReusedExchange
               counted separately — a reuse is a WIN, not a shuffle);
- pushdown:    whether the scan carries non-empty PushedFilters;
- codegen:     number of WholeStageCodegen spans (wider is better);
- python:      any Python-worker physical node in the plan —
               BatchEvalPython / ArrowEvalPython / MapInPandas /
               FlatMapGroupsInPandas / MapInArrow / … (the opt-in
               pandas-UDF and mapInPandas paths only).

tests/test_plans.py asserts the load-bearing cases; this script makes
the full surface inspectable at a glance and regenerates on demand:

    python scripts/audit_plans.py          # writes PLANS.md

Dump mode writes each driver-registered query's full formatted plan to
plans/<ROUND>/<query>_<TAG>.txt (before/after evidence for a plan-shape
claim; corpus sf0.1 unless SPARK_GRAFT_SF_DIR is set):

    python scripts/audit_plans.py --dump r14 before [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
DUMP_SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
)


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


#: Function tokens that are expensive enough that evaluating them once
#: per GENERATED row (instead of once per input row) is a plan defect —
#: array/string-rebuilding work, hashing, regex. Cheap scalar ops
#: (casts, arithmetic, CASE, size() — O(1) on arrays) are fine per-row.
_EXPENSIVE_FNS = (
    "array_distinct(", "array_sort(", "sort_array(", "split(",
    "aggregate(", "transform(", "zip_with(", "filter(", "array_repeat(",
    "sequence(", "regexp", "md5(", "sha2(", "sha1(", "conv(",
    "array_intersect(", "array_union(", "array_except(", "flatten(",
)


def _split_top_level(s: str) -> list[str]:
    """Split a formatted-plan expression list on top-level commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def generator_recompute(plan: str) -> list[str]:
    """Detect the r9 per-emitted-row recomputation defect: an expensive
    expression in a Generate's PARENT Project runs once per generated
    row — O(doc_len²) per document for a token explode (postings paid
    size(array_distinct) per TOKEN before the r9 fix). Returns the
    offending expressions; expressions over the generator's own output
    attributes are legitimately per-row and not flagged. Parses the
    FORMATTED explain (tree + per-node detail blocks)."""
    lines = plan.splitlines()
    tree_re = re.compile(r"^([\s+\-:*]*?)(?:\* )?(\w+) \((\d+)\)\s*$")
    entries = []  # (line_no, name_col, op, id)
    for i, l in enumerate(lines):
        m = tree_re.match(l)
        if m:
            entries.append((i, l.index(m.group(2)), m.group(2), m.group(3)))
    # detail blocks: "(id) OpName ..." then fields until the next block
    blocks: dict[str, str] = {}
    cur_id = None
    for l in lines:
        m = re.match(r"^\((\d+)\) (\w+)", l)
        if m:
            cur_id = m.group(1)
            blocks[cur_id] = l + "\n"
        elif cur_id is not None:
            blocks[cur_id] += l + "\n"
    flagged = []
    for idx, (line_no, col, op, nid) in enumerate(entries):
        if op != "Generate":
            continue
        # parent: nearest earlier tree line, contiguous run, smaller indent
        parent = None
        for j in range(idx - 1, -1, -1):
            pl, pc, pop, pid = entries[j]
            if entries[j + 1][0] - pl != 1:
                break  # left this tree run
            if pc < col:
                parent = (pop, pid)
                break
        if parent is None or parent[0] != "Project":
            continue
        gen_block = blocks.get(nid, "")
        # generator output attrs: the last [...] of the Arguments line
        gout = []
        for bl in gen_block.splitlines():
            if bl.strip().startswith("Arguments:"):
                gout = re.findall(r"\[([^\[\]]*)\]", bl)[-1:]
        gen_attrs = [a.strip() for a in (gout[0].split(",") if gout else []) if a.strip()]
        out_line = next(
            (bl for bl in blocks.get(parent[1], "").splitlines() if bl.startswith("Output")),
            "",
        )
        m = re.search(r"Output \[\d+\]: \[(.*)\]\s*$", out_line)
        if not m:
            continue
        for expr in _split_top_level(m.group(1)):
            if " AS " not in expr:
                continue  # pass-through attribute: replicated, not recomputed
            if any(fn in expr for fn in _EXPENSIVE_FNS) and not any(
                a in expr for a in gen_attrs
            ):
                flagged.append(expr)
    return flagged


def summarize(plan: str) -> dict:
    op_lines = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    exchanges = sum(
        1 for l in op_lines if "Exchange" in l and "ReusedExchange" not in l
    )
    reused = sum(1 for l in op_lines if "ReusedExchange" in l)
    pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
    codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    # every physical node class that runs Python workers: row-at-a-time
    # (BatchEvalPython), scalar pandas UDFs (ArrowEvalPython), and the
    # map/cogroup pandas operators (MapInPandas & friends) — the r7
    # audit missed the latter, so multimodal_image_features' real
    # mapInPandas stage read "—" (VERDICT r7 #3).
    python = bool(
        re.search(
            r"(Batch|Arrow)EvalPython|MapInPandas|FlatMapGroupsInPandas"
            r"|MapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas"
            r"|WindowInPandas|PythonMapInArrow",
            plan,
        )
    )
    # queries that read the materialized corpus spine (one combined
    # five-table build since r7 — tempdir prefix "forgettable-spine-";
    # the old "forgettable-postings-" prefix kept for pre-r7 plans)
    # instead of re-tokenizing the corpus (extensions/postings.py)
    spine = "forgettable-spine-" in plan or "forgettable-postings-" in plan
    # run_released queries materialize at build time and return a small
    # local table — their distributed plan is audited via the operator
    # plan tests, not this post-materialization LocalTableScan.
    local_only = (
        ("LocalTableScan" in plan or "Scan ExistingRDD" in plan)
        and "Scan parquet" not in plan
    )
    return {
        "exchanges": exchanges,
        "reused": reused,
        "pushed": pushed,
        "codegen": codegen,
        "python": python,
        "spine": spine,
        "local": local_only,
        "gen_recompute": generator_recompute(plan),
    }


def dump(spark, round_name: str, tag: str, names: set[str]) -> None:
    """Write plans/<round_name>/<query>_<tag>.txt for every registered
    query (or just ``names``), built in plan-audit mode."""
    from forgettable_spark import entrypoints as ep
    from forgettable_spark.functions.cache import plan_audit_mode

    out_dir = os.path.join(REPO, "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in sorted(ep.queries().items()):
        if names and name not in names:
            continue
        try:
            with plan_audit_mode():
                plan = _formatted_plan(fn(spark, DUMP_SF_DIR))
        except Exception as ex:  # noqa: BLE001 — record the failure, keep going
            plan = f"PLAN FAILED: {ex!r}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(name, "->", path, flush=True)


def main() -> None:
    from forgettable_spark.session import get_spark
    from forgettable_spark import entrypoints as ep

    args = sys.argv[1:]
    if args and args[0] == "--dump":
        if len(args) < 3:
            sys.exit("usage: audit_plans.py --dump ROUND TAG [query ...]")
        spark = get_spark(
            app_name="dump-plans",
            master="local[8]",
            shuffle_partitions=8,
            extra_conf={"spark.ui.enabled": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        dump(spark, args[1], args[2], set(args[3:]))
        spark.stop()
        return

    spark = get_spark(
        app_name="plan-audit",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            # AQE wraps the plan in AdaptiveSparkPlan pre-execution, which
            # hides codegen ids and static ReusedExchange — audit the
            # statically optimized plan instead (same convention as the
            # ReusedExchange assertion in tests/test_plans.py).
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = [
        ("Primary registry", ep.queries()),
        (
            "Secondary registry (oracle-checked locally, not driver-registered)",
            ep.secondary_queries(),
        ),
    ]
    out = [
        "# PLANS — physical-plan audit of every registered query\n",
        "\nAuto-generated by `scripts/audit_plans.py` (plans built at "
        f"`{SF_DIR}`; plans are explained, not executed, except where a\n"
        "query's own fast path legitimately computes at build time —\n"
        "e.g. dedup_components' small-graph union-find). Columns: shuffle\n"
        "Exchange count (ReusedExchange listed separately — a reuse means\n"
        "a self-join shares one exchange instead of recomputing),\n"
        "parquet-scan filter pushdown, WholeStageCodegen span count, and\n"
        "whether any Python evaluation appears in the plan (only the two\n"
        "opt-in Arrow paths should ever say yes). The load-bearing cases\n"
        "are ASSERTED in tests/test_plans.py; this file makes the whole\n"
        "surface inspectable. `local-only plan (no scan)` means the query\n"
        "legitimately resolves driver-locally at this SF (e.g.\n"
        "dedup_components' small-graph union-find fast path, which switches\n"
        "to the distributed label-propagation loop above 1M pairs).\n"
        "`notes: corpus spine` marks the queries whose scans read the\n"
        "shared materialized corpus-spine tables (extensions/postings.py\n"
        "materialized_corpus_spine — ONE corpus-text scan for all five\n"
        "tables since r7) instead of re-tokenizing the corpus text.\n",
    ]
    for title, registry in sections:
        out.append(f"\n## {title}\n\n")
        out.append(
            "| query | exchanges | reused | pushdown | codegen spans | python | notes |\n"
        )
        out.append("|---|---|---|---|---|---|---|\n")
        from forgettable_spark.functions.cache import plan_audit_mode

        for name in sorted(registry):
            # In audit mode scoped_cache degrades to plain .cache():
            # clear between queries so (a) cached fragments from an
            # earlier query can't appear as InMemoryRelation nodes that
            # hide a later query's exchanges, and (b) the ~60-query loop
            # doesn't accumulate registrations nothing releases.
            spark.catalog.clearCache()
            try:
                # plan_audit_mode: run_released queries expose their LAZY
                # distributed plan instead of collecting (audit-only).
                with plan_audit_mode():
                    s = summarize(_formatted_plan(registry[name](spark, SF_DIR)))
            except Exception as exc:  # pragma: no cover - audit robustness
                out.append(f"| `{name}` | plan failed: {type(exc).__name__} | | | | | |\n")
                continue
            if s["local"]:
                out.append(f"| `{name}` | local-only plan (no scan) | | | | | |\n")
                continue
            notes = "corpus spine" if s["spine"] else ""
            if s["gen_recompute"]:
                # per-emitted-row recomputation above a Generate — the r9
                # postings defect class; tests/test_plans.py asserts this
                # never appears in either registry
                notes = (notes + "; " if notes else "") + "GEN-RECOMPUTE!"
            out.append(
                f"| `{name}` | {s['exchanges']} | {s['reused']} | "
                f"{'yes' if s['pushed'] else '—'} | {s['codegen']} | "
                f"{'ARROW' if s['python'] else '—'} | "
                f"{notes} |\n"
            )
    spark.catalog.clearCache()
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.writelines(out)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
