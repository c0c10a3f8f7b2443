"""Promote the last full-protocol bench run into bench_anchors.json.

bench.py writes bench_last_run.json on every full-protocol run (full
query list, ≥2 reps); this tool applies the anchor policy mechanically
instead of by hand-editing:

- REFUSES a suspect run (load.suspect true) unless --force — anchors
  seeded under external load poison every later triage;
- basis is the clean-rep MEDIAN (the same statistic bench.py records
  per run, so triage compares like with like — the r15 fix for the
  min-basis false `elevated_clean` flags r14 carried), with the
  clean-rep MIN kept alongside as the best-case reference;
- rep-1 values for the fold-paying gates are carried into the file so
  the state-build cost stays visible next to the standing-read anchor;
- the run's ``sf`` and ``cpus`` (Spark's default parallelism) key the
  file: bench.py triages against it only when both match.

Usage: python tools/seed_anchors.py [--force] [note...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    note = " ".join(args)
    run_path = os.path.join(REPO, "bench_last_run.json")
    if not os.path.exists(run_path):
        raise SystemExit(
            "no bench_last_run.json — run a full-protocol bench first"
        )
    with open(run_path) as f:
        run = json.load(f)
    load = run.get("load", {})
    if load.get("suspect") and not force:
        raise SystemExit(
            f"refusing to seed from a suspect run (load={load}); "
            "re-run on a quiet host or pass --force"
        )
    anchors = {
        name: {"med": med, "min": run["min"].get(name, med)}
        for name, med in sorted(run["med"].items())
    }
    for name, (rep1, med) in run.get("rep1", {}).items():
        anchors[name]["rep1"] = rep1
    out = {
        "seeded": note or "tools/seed_anchors.py from bench_last_run.json",
        "basis": (
            "per-query MEDIAN of clean reps from the full-protocol run "
            "(min kept as best-case reference; rep1 kept for fold-paying "
            "gates whose first rep builds state) -- triage compares "
            "median to median"
        ),
        "policy": (
            "update only from runs with clean windows; an elevated_clean "
            "verdict requires a plan-digest diff before re-anchoring"
        ),
        "sf": run["sf"],
        # bench.py triages against these anchors only at the same parallelism
        "cpus": run.get("cpus"),
        "load": {k: load.get(k) for k in ("start", "ext_max", "n_suspect")},
        "anchors": anchors,
    }
    dst = os.path.join(REPO, "bench_anchors.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"seeded {len(anchors)} anchors -> {dst} "
        f"(sf={run['sf']}, cpus={run.get('cpus')})"
    )


if __name__ == "__main__":
    main()
