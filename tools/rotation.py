"""Rotation-window generator for the driver-visibility rotation.

The driver's correctness gate verifies only the FIRST 50 entries of
``queries()``; the registry holds ~4x that, so the head rotates each
round under the contract: every registered gate is driver-checked at
least once every 4 rounds (max staleness 3).  Hand-authoring the window
produced one wrong-arithmetic header already (r12, caught by r13
ADVICE), and the registry is close to the 4x50 = 200 pigeonhole bound —
so the window is GENERATED here, into the data file
``scholarmind_spark/rotation_window.json``; ``queries.py`` leads both
registry views with it, and a pytest (tests/test_rotation.py) pins the
committed file to this tool's output.

Selection rule (deterministic):

1. NEVER-driver-checked gates (new this round), name order — a gate
   with zero hard signals beats any stale one;
2. MANDATORY gates: last checked in round ``target - 4`` or earlier —
   skipping one would push its staleness past 3; ordered (last-seen,
   name);
3. fill to 50 stalest-first, ties by name.

The ≥200-gate POLICY (decided round 14, before it is needed): the
staleness-3 contract is arithmetic — 50 slots x 4 rounds cover at most
200 gates.  When the registry exceeds 200, gates named in
``STALENESS4_OK`` (and only those) may reach staleness 4; eligibility
is semantic redundancy — a gate whose operator is ALSO pinned by a
sibling gate sharing its oracle or by an equality pytest (the
stream==batch twins, the fold==direct sketch pairs).  The tool fails
loudly if the mandatory set alone overflows the window and the
overflow is not covered by STALENESS4_OK — growth past ~200 + 50x5
means freezing gate additions, not silently stretching staleness.

Usage:
    python tools/rotation.py [basis_round]

Writes ``{"basis_round": basis, "front": [...]}`` — the window for
round basis + 1 — to ``scholarmind_spark/rotation_window.json`` (basis
defaults to the newest CORRECTNESS_r*.json present) and prints a
staleness audit.  On any invariant violation it exits non-zero and
writes nothing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

WINDOW = 50
MAX_STALENESS = 3
# Named staleness-4 allowance, populated round 15 — BEFORE the
# registry (195) crosses the 200 pigeonhole bound, so the policy is
# exercised by eligibility review rather than under overflow pressure.
# Criterion (module docstring): the gate's operator is ALSO pinned by
# a sibling gate sharing its oracle or by an equality pytest, so a
# one-round-longer driver gap never leaves the operator unpinned.
# Evidence per entry; a pytest asserts membership in the registry.
STALENESS4_OK: list[str] = [
    # stream==batch twins (tests/test_streaming.py)
    "events_tumbling_stream",       # ::test_tumbling_stream_equals_batch + batch sibling gate events_tumbling
    "events_sliding_stream",        # ::test_sliding_stream_equals_batch + batch sibling gate events_sliding
    "events_stream_interval_join",  # ::test_stream_interval_join_equals_batch + batch sibling events_range_join
    "events_stream_anomaly",        # ::test_stateful_anomaly_equals_batch + batch sibling events_rolling_anomaly
    "events_stateful_user_stats",   # ::test_stateful_user_stats_equals_batch
    # fold==direct sketch pairs (tests/test_sketchledger.py,
    # test_sketch.py) — each ledger gate's operator is double-pinned
    # by the direct-build sibling gate and the fold==direct pytest
    "sketch_ledger_distinct",    # ::test_kmv_state_fold_equals_direct_and_exact_below_k + sibling sketch_distinct_kmv
    "sketch_ledger_membership",  # ::test_bloom_state_fold_equals_direct_never_false_negative + sibling sketch_bloom_membership
    "sketch_ledger_drift",       # ::test_hdr_state_drift_matches_duckdb_twin + ::test_hdr_state_fold_equals_direct
    "sketch_ledger_rollup",      # ::test_hdr_state_rekey_equals_direct_coarse_build
    "sketch_ledger_compact",     # ::test_sketch_state_compact_equals_direct_mixed_grain
    "sketch_merge_incremental",  # test_sketch.py::test_kmv_merge_equals_direct + ::test_cms_merge_equals_direct
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW_FILE = os.path.join(REPO, "scholarmind_spark", "rotation_window.json")


def last_seen_rounds(repo_root: str = REPO, upto: int | None = None) -> dict[str, int]:
    """gate -> newest round whose driver CORRECTNESS window contains it
    (rounds > ``upto`` ignored, so a committed window can be re-derived
    from its recorded basis after later rounds land)."""
    seen: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(p))
        if not m:
            continue
        r = int(m.group(1))
        if upto is not None and r > upto:
            continue
        with open(p) as f:
            data = json.load(f)
        for k in data:
            seen[k] = max(seen.get(k, 0), r)
    return seen


def generate_front(
    registered: list[str], seen: dict[str, int], target_round: int
) -> list[str]:
    """The round-``target_round`` window head (length ≤ WINDOW), per the
    selection rule above.  Raises SystemExit on pigeonhole violation."""
    new = sorted(g for g in registered if g not in seen)
    mandatory = sorted(
        (
            g
            for g in registered
            if g in seen and target_round - seen[g] > MAX_STALENESS
        ),
        key=lambda g: (seen[g], g),
    )
    front = new + mandatory
    if len(front) > WINDOW:
        overflow = front[WINDOW:]
        uncovered = [g for g in overflow if g not in STALENESS4_OK]
        if uncovered:
            raise SystemExit(
                f"rotation: {len(new)} new + {len(mandatory)} mandatory "
                f"gates exceed the {WINDOW}-slot window and "
                f"{uncovered[:5]}... are not in STALENESS4_OK — the "
                "pigeonhole bound is crossed; freeze gate additions or "
                "extend the allowance list (see module docstring)"
            )
        front = front[:WINDOW]
    fill = sorted(
        (g for g in registered if g in seen and g not in set(front)),
        key=lambda g: (seen[g], g),
    )
    front += fill[: WINDOW - len(front)]
    return front


def audit(
    registered: list[str],
    seen: dict[str, int],
    front: list[str],
    target_round: int,
) -> list[str]:
    """Post-window staleness ledger lines; asserts the invariant."""
    lines = []
    in_window = set(front[:WINDOW])
    worst: dict[int, int] = {}
    for g in registered:
        stale = 0 if g in in_window else target_round - seen.get(g, target_round)
        worst[stale] = worst.get(stale, 0) + 1
        limit = (
            MAX_STALENESS + 1 if g in STALENESS4_OK else MAX_STALENESS
        )
        assert stale <= limit, f"{g}: staleness {stale} > {limit}"
    for s in sorted(worst):
        lines.append(f"staleness {s}: {worst[s]} gates")
    if len(registered) > (MAX_STALENESS + 1) * WINDOW:
        lines.append(
            f"WARNING: {len(registered)} registered gates exceed the "
            f"{(MAX_STALENESS + 1) * WINDOW} pigeonhole bound — "
            "STALENESS4_OK must carry the overflow"
        )
    return lines


def main() -> None:
    sys.path.insert(0, REPO)
    from scholarmind_spark.queries import SPARK_QUERIES

    registered = list(SPARK_QUERIES)
    seen_all = last_seen_rounds()
    basis = int(sys.argv[1]) if len(sys.argv) > 1 else max(seen_all.values())
    seen = last_seen_rounds(upto=basis)
    target = basis + 1
    front = generate_front(registered, seen, target)
    lines = audit(registered, seen, front, target)
    with open(WINDOW_FILE, "w") as f:
        json.dump({"basis_round": basis, "front": front}, f, indent=2)
        f.write("\n")
    rel = os.path.relpath(WINDOW_FILE, REPO)
    print(f"basis round {basis} -> window for round {target}: wrote {rel}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
