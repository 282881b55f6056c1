#!/usr/bin/env python3
"""Pre-seal gate: estimate the full-registry bench wall-clock from
docs/BENCH_EXPECT.json plus the harness settle model, and FAIL when the
estimate exceeds the driver wall budget minus 20% headroom.

This exists because round 9's registry growth (224 → 313 queries) pushed
the fixed per-query settle cost of the full-discipline harness past the
driver's bench timeout (BENCH_r09 rc=124) without any single query being
slow — a failure mode that must be caught BEFORE sealing, structurally,
every time the registry grows.

Settle model (mirrors Bench.scala's adaptive mode — the constants below
MUST track Bench.scala's heavyMeasure sleeps: 2×(gc+400 ms)+600 ms deep
settle, gc+600 ms per rep; retuning Bench's sleeps without updating
DEEP_SETTLE/PER_REP_SETTLE here silently invalidates the gate):
  cheap (expect < THRESH):      warm rep + measured rep        ≈ 2v + eps
  mid (THRESH ≤ expect < MID):  sf0.01 warm + 1×(0.85 s settle + v)
                                (r12 — the spike re-run pass is the
                                outlier protection for this band)
  heavy (expect ≥ MID):         sf0.01 warm + deep settle (1.9 s)
                                + REPS × (0.85 s settle + v)
Queries in the registry but missing from BENCH_EXPECT.json are costed as
heavy at HEAVY_DEFAULT seconds (the Bench fallback).

Usage: bench_budget_check.py [--budget SECONDS] [--nq N] [--mid SECONDS]
  --budget  driver wall budget (default 2400 s; the exact driver timeout
            is unobservable from here — the evidence is r8's 2138 s run
            PASSING (budget > 2138) and r9's longer run timing out, so
            2400 is the tightest round figure consistent with both.
            2400 with 20% headroom means the estimate must come in
            under 1920 s)
  --nq      registry size override (default: count of src SparkEntry
            "qNNN_name" -> entries is not parsed here; uses expect size
            + --extra unknown queries)
  --extra   number of registry queries NOT in BENCH_EXPECT.json
            (default 0; pass the true gap when adding queries pre-rebase)

Exit 0 = fits; exit 1 = would blow the budget (do NOT seal — rebase
BENCH_EXPECT from a fresh full run, trim the harness, or raise the case
with the round notes).
"""
import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
THRESH = 0.6                          # mirrors Bench.scala HeavyThresh
MID = 3.0                             # mirrors Bench.scala MidThresh
REPS = 3                              # mirrors Bench.scala Reps
# mirror of Bench.scala heavyMeasure: isolate loop `2×(System.gc();
# sleep(400))` + `sleep(600)`, per-rep `System.gc(); sleep(600)`;
# GC cost estimated ≈250 ms per cycle
DEEP_SETTLE = 2 * 0.4 + 0.6 + 0.5     # 2×(GC+400ms) + 600ms beat, GC≈250ms
PER_REP_SETTLE = 0.6 + 0.25           # sleep + GC cost
WARM_001 = 0.30                       # sf0.01 warm execution, typical
CHEAP_EPS = 0.15                      # codegen on the cheap warm rep
HEAVY_DEFAULT = 2.0
STARTUP = 120.0                       # sbt + SparkSession + JVM


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--budget", type=float, default=2400.0)
    ap.add_argument("--extra", type=int, default=0)
    ap.add_argument("--thresh", type=float, default=THRESH)
    ap.add_argument("--mid", type=float, default=MID)
    args = ap.parse_args()
    # r14 (ADVICE fix): an inverted band (thresh >= mid) would silently
    # cost every query in [mid, thresh) as cheap (2v) instead of mid
    # (WARM+settle+v), understating the estimate — fail loudly instead.
    if args.thresh >= args.mid:
        sys.exit(f"thresh ({args.thresh}) must be < mid ({args.mid}) — "
                 "the cheap/mid/heavy bands are ordered cutoffs")

    expect = json.loads((REPO / "docs" / "BENCH_EXPECT.json").read_text())["expect"]
    est = STARTUP
    n_cheap = n_mid = n_heavy = 0
    for name, v in expect.items():
        if v < args.thresh:
            n_cheap += 1
            est += 2 * v + CHEAP_EPS
        elif v < args.mid:
            n_mid += 1
            est += WARM_001 + PER_REP_SETTLE + v
        else:
            n_heavy += 1
            est += WARM_001 + DEEP_SETTLE + REPS * (PER_REP_SETTLE + v)
    for _ in range(args.extra):
        n_heavy += 1
        est += WARM_001 + DEEP_SETTLE + REPS * (PER_REP_SETTLE + HEAVY_DEFAULT)

    limit = args.budget * 0.8
    verdict = "OK" if est <= limit else "FAIL"
    print(f"{verdict}: estimated full-bench wall {est:.0f} s "
          f"({n_cheap} cheap + {n_mid} mid + {n_heavy} heavy queries, "
          f"thresh {args.thresh}/mid {args.mid}) vs budget {args.budget:.0f} s "
          f"with 20% headroom = {limit:.0f} s")
    if verdict == "FAIL":
        print("do NOT seal: rebase docs/BENCH_EXPECT.json from a fresh "
              "full run (scripts/derive_expect.py), trim the harness, or "
              "shrink the heavy tail first")
        sys.exit(1)


if __name__ == "__main__":
    main()
