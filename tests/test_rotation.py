"""The driver-visibility rotation window is TOOL-GENERATED and these
tests pin the committed list to the tool's output — the r12 window
shipped with wrong arithmetic in its hand-authored header (caught by
r13 ADVICE), which is exactly the class of error a mechanical ledger
removes."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.rotation import (  # noqa: E402
    MAX_STALENESS,
    STALENESS4_OK,
    WINDOW,
    WINDOW_FILE,
    audit,
    generate_front,
    last_seen_rounds,
)


def _fixture():
    from scholarmind_spark.queries import SPARK_QUERIES

    with open(WINDOW_FILE) as f:
        window = json.load(f)
    basis = window["basis_round"]
    registered = list(SPARK_QUERIES)
    seen = last_seen_rounds(upto=basis)
    return registered, seen, basis + 1, window["front"]


def test_committed_window_is_tool_generated():
    registered, seen, target, committed = _fixture()
    assert generate_front(registered, seen, target) == committed


def test_window_leads_queries_and_oracle_dicts():
    from scholarmind_spark.queries import ORACLE_SQL, SPARK_QUERIES

    registered, seen, target, committed = _fixture()
    assert list(SPARK_QUERIES)[: len(committed)] == committed
    # both views come from one registry: same names, same order, all of them
    assert list(SPARK_QUERIES) == list(ORACLE_SQL)


def test_staleness_invariant_holds():
    """After this window runs, no gate is staler than the contract
    allows (3, or 4 for the named allowance once the registry crosses
    the pigeonhole bound) — audit() asserts internally."""
    registered, seen, target, committed = _fixture()
    lines = audit(registered, seen, committed, target)
    assert lines  # a ledger was produced
    # every mandatory gate (would cross staleness 3) made the window
    mandatory = {
        g
        for g in registered
        if g in seen
        and target - seen[g] > MAX_STALENESS
        and g not in STALENESS4_OK
    }
    assert mandatory <= set(committed[:WINDOW])


def test_new_gates_lead_the_window():
    registered, seen, target, committed = _fixture()
    new = sorted(g for g in registered if g not in seen)
    assert committed[: len(new)] == new


def test_staleness4_allowance_names_registered_gates():
    """Every STALENESS4_OK entry must name a registered gate — the
    allowance is a semantic-redundancy claim about a real gate, and a
    renamed/removed gate must not leave a stale allowance behind."""
    from scholarmind_spark.queries import SPARK_QUERIES

    assert set(STALENESS4_OK) <= set(SPARK_QUERIES)
    # allowance stays deliberate: entries are unique and sorted-stable
    assert len(STALENESS4_OK) == len(set(STALENESS4_OK))


def test_duplicate_gate_registration_raises():
    """A second gate() with a registered name is refused (a duplicate
    dict key used to silently replace the first entry)."""
    from scholarmind_spark.queries import _GATES, ORACLE_SQL, SPARK_QUERIES, gate

    name = "q1_pricing_summary"
    with pytest.raises(ValueError, match=name):
        gate(name, SPARK_QUERIES["dedup_exact"], ORACLE_SQL["dedup_exact"])
    # the first registration is left in place
    assert _GATES[name] == (SPARK_QUERIES[name], ORACLE_SQL[name])
