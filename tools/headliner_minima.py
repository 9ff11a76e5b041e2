#!/usr/bin/env python
"""Per-round fresh-JVM-minima table for the driver-bench headliners
(VERDICT r11 #3).

The driver-bench TOTAL drifted 189 s (r9) -> 210 s (r10) -> 215 s
(r11) on fingerprint-identical plans — all host-regime noise — so
round-over-round comparisons of the in-bench numbers degraded into
regime archaeology (the r10 and r11 rounds each spent a verdict item
re-litigating ambient load). This tool records, once per round, a
LOAD-CONTROLLED column: the minimum over N fresh-JVM samples per
headliner at sf0.1, with the 1-min loadavg captured before every
sample so idleness is auditable from the artifact alone. Cross-round
perf questions should compare THESE minima (one fresh JVM per sample,
tools/measure.py), not the in-bench driver numbers.

Usage:
    python tools/headliner_minima.py --round 12 [--samples 4] [names...]

Default headliner set (retention policy, r13 verdict): the UNION of
the top-10s of the last 3 BENCH_r*.json files' ``parsed.queries``
(the driver records exactly its 10 slowest per round). A query stays
in the column while it appears in ANY of those three top-10s and is
archived once it rotates out of all of them — its history stays in
the older headliner_minima_r*.json files — so the column stops
growing monotonically under the old newest-top-10 ∪ previous-names
union rule. Writes bench_baselines/headliner_minima_r{N}.json.
"""

from __future__ import annotations

import argparse
import datetime
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import measure  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


RETENTION_ROUNDS = 3  # keep a query while in any of the last N top-10s


def _bench_top10(path: str) -> list[str]:
    rec = json.load(open(path))
    # "parsed" can be explicitly null in early BENCH files (failed
    # driver parse), not just absent — guard both shapes
    queries = (rec.get("parsed") or {}).get("queries") or rec.get("queries")
    if not isinstance(queries, dict) or not queries:
        sys.exit(f"{path} has no parsed.queries/queries map (failed "
                 "driver run?) — pass query names explicitly")
    return sorted(queries, key=lambda n: -queries[n])[:10]


def retention_headliners() -> tuple[list[int], list[str]]:
    """Minima set under the retention policy (r13 verdict): union of
    the top-10s of the last RETENTION_ROUNDS BENCH files. Returns
    (bench rounds used, sorted names)."""
    by_round: dict[int, str] = {}
    for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        # one file per ROUND: prefer the round's main record over
        # auxiliary captures like BENCH_r14_c8.json (r15 fix — the
        # plain last-3-files glob counted the c8 aux file as a round
        # and silently dropped the oldest real round from retention)
        if rnd not in by_round or len(os.path.basename(p)) < len(
            os.path.basename(by_round[rnd])
        ):
            by_round[rnd] = p
    if not by_round:
        sys.exit("no BENCH_r*.json in the repo — pass query names "
                 "explicitly")
    used = [by_round[r] for r in sorted(by_round)][-RETENTION_ROUNDS:]
    names: set[str] = set()
    for p in used:
        names.update(_bench_top10(p))
    rounds = [int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
              for p in used]
    return rounds, sorted(names)


def idle_gate(name: str, idle_below: float) -> str | None:
    """Sleep (up to 4 min) until the 1-min loadavg decays under
    ``idle_below`` before a sample launches; returns the violated-gate
    cause, or None.

    Without the gate, back-to-back serial children leave the PREVIOUS
    child's load in the 1-min average (no actual contention — the
    child exited — but the recorded value stops proving idleness, the
    exact property this artifact exists to carry). If load is still
    above threshold, the sample runs anyway (load bias only inflates
    minima, never fakes a fast run) and the cause is recorded (r12
    ADVICE): ``"timed_out"`` when the 240 s budget was exhausted still
    above threshold, ``"launched_above_threshold"`` when load dipped
    under but bounced back above before launch (r13 ADVICE)."""
    waited = 0.0
    while os.getloadavg()[0] >= idle_below and waited < 240:
        time.sleep(10)
        waited += 10
    if os.getloadavg()[0] < idle_below:
        return None
    violation = "timed_out" if waited >= 240 else "launched_above_threshold"
    cause = (
        f"idle gate TIMED OUT after {waited:.0f}s"
        if violation == "timed_out"
        else f"idle gate decayed then bounced back above threshold "
             f"before launch (waited {waited:.0f}s)")
    sys.stderr.write(
        f"{name}: {cause} (loadavg1={os.getloadavg()[0]:.2f} >= "
        f"{idle_below}); sampling anyway — flagged in artifact\n")
    return violation


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--samples", type=int, default=4)
    ap.add_argument("--idle-below", type=float, default=0.0,
                    help="wait (≤4 min) for 1-min loadavg under this "
                         "value before each sample")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.names:
        names = args.names
        source = f"explicit CLI names ({len(names)})"
    else:
        bench_rounds, names = retention_headliners()
        source = (f"retention policy: union of BENCH top-10s of rounds "
                  f"{bench_rounds} ({len(names)} names)")

    meta = {
        "round": args.round,
        "date": datetime.date.today().isoformat(),
        "headliner_source": source,
        "retention_policy": (
            f"r13-verdict retention: a query stays in this column while "
            f"it appears in ANY of the last {RETENTION_ROUNDS} rounds' "
            "BENCH top-10s and is archived once it rotates out of all of "
            "them (history remains in older headliner_minima_r*.json "
            "files)"
        ),
        "idle_below": args.idle_below,
        "purpose": (
            "load-controlled cross-round perf column (VERDICT r11 #3): "
            "compare these minima across rounds, not the in-bench "
            "driver totals, which carry host-regime drift"
        ),
    }
    dst = os.path.join(
        REPO, "bench_baselines", f"headliner_minima_r{args.round:02d}.json"
    )
    loadavg_start = list(os.getloadavg())
    rows: dict = {}
    for name in names:
        violations: list[str | None] = []
        gate = None
        if args.idle_below > 0:
            def gate():
                violations.append(idle_gate(name, args.idle_below))
        row = measure.fresh_jvm_samples(name, SF_DIR, args.samples,
                                        before_each=gate)
        # only materialize the flag when a gate was actually violated,
        # so the common all-idle artifact stays visibly clean (r12
        # ADVICE)
        if any(violations):
            row["gate_violation_per_sample"] = violations
        rows[name] = row
        print(f"{name}: {row}", file=sys.stderr)
        # flush after every query: a killed collection must not
        # discard the completed rows of a ~1 h run
        out = measure.artifact(rows, "fresh-jvm-per-sample", SF_DIR,
                               args.samples, loadavg_start)
        out["_meta"] = meta
        with open(dst, "w") as f:
            json.dump(out, f, indent=1)

    print(dst)
    return 0


if __name__ == "__main__":
    sys.exit(main())
