"""QUERIES.md must stay in lockstep with the registries (VERDICT r7 #2).

The r7 rotation landed in code but not in QUERIES.md — four promoted
queries kept their secondary-table rows (with stray bench times in the
why-column) and never gained primary rows. This gate diffs the doc's
two tables against ``queries()`` / ``secondary_queries()`` so a future
rotation can't desync them again.
"""

from __future__ import annotations

import json
import os
import re

QUERIES_MD = os.path.join(os.path.dirname(__file__), os.pardir, "QUERIES.md")
ROTATIONS_JSON = os.path.join(os.path.dirname(__file__), os.pardir, "ROTATIONS.json")

# bench.py lines that are deliberately not driver-registered queries —
# they appear in the primary table with "n/a (bench-only)" correctness.
BENCH_ONLY = {"spine_build", "codebook_train", "layout_bucketed_get_dist"}


def _table_names(section: str) -> set[str]:
    """First-column backticked names of every row in the section's table."""
    names = set()
    for line in section.splitlines():
        m = re.match(r"\| `([a-z0-9_]+)` \|", line)
        if m:
            names.add(m.group(1))
    return names


def _sections() -> tuple[str, str]:
    with open(QUERIES_MD) as fh:
        text = fh.read()
    parts = text.split("\n## ")
    primary = next(p for p in parts if p.startswith("Per-query bench time"))
    secondary = next(p for p in parts if p.startswith("Secondary registry"))
    return primary, secondary


def test_primary_table_matches_registry():
    from forgettable_spark import entrypoints

    doc = _table_names(_sections()[0])
    reg = set(entrypoints.queries())
    assert doc - reg - BENCH_ONLY == set(), (
        f"QUERIES.md primary table lists non-registered queries: "
        f"{sorted(doc - reg - BENCH_ONLY)}"
    )
    assert reg - doc == set(), (
        f"registered queries missing a QUERIES.md primary row: {sorted(reg - doc)}"
    )


def test_secondary_table_matches_registry():
    from forgettable_spark import entrypoints

    doc = _table_names(_sections()[1])
    reg = set(entrypoints.secondary_queries())
    assert doc == reg, (
        f"QUERIES.md secondary table drift — doc-only: {sorted(doc - reg)}, "
        f"registry-only: {sorted(reg - doc)}"
    )


def test_tables_disjoint():
    primary, secondary = _sections()
    both = _table_names(primary) & _table_names(secondary)
    assert both == set(), f"queries listed in BOTH tables: {sorted(both)}"


def test_no_stray_bench_times_in_secondary_why_column():
    """The r7 desync's signature: a bare float where the why-text goes."""
    _, secondary = _sections()
    for line in secondary.splitlines():
        m = re.match(r"\| `[a-z0-9_]+` \| ([0-9.]+) \|\s*$", line)
        assert m is None, f"stray bench time in secondary why-column: {line!r}"


def test_deleted_queries_stay_unregistered():
    """A name in ROTATIONS.json's ``deleted`` ledger must not come back
    in either registry: a restore that forgets the ledger (or a deletion
    that forgets the registry) fails here."""
    from forgettable_spark import entrypoints

    with open(ROTATIONS_JSON) as fh:
        deleted = set(json.load(fh)["deleted"])
    assert deleted, "ROTATIONS.json has an empty deleted ledger"
    back = deleted & (set(entrypoints.queries()) | set(entrypoints.secondary_queries()))
    assert back == set(), f"deleted queries registered again: {sorted(back)}"


def test_parity_rows_name_no_deleted_query():
    """PARITY.md maps operators to the queries that exercise them; a
    table row naming a query from ROTATIONS.json's ``deleted`` ledger
    claims coverage that no longer exists."""
    with open(ROTATIONS_JSON) as fh:
        deleted = json.load(fh)["deleted"]
    parity_md = os.path.join(os.path.dirname(__file__), os.pardir, "PARITY.md")
    with open(parity_md) as fh:
        rows = [line for line in fh if line.startswith("|")]
    stale = {
        name: row.split("|")[1].strip()
        for row in rows
        for name in deleted
        if re.search(rf"\b{name}\b", row)
    }
    assert stale == {}, f"PARITY.md rows name deleted queries: {stale}"
