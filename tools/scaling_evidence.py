#!/usr/bin/env python
"""Core-scaling evidence at the 10× stress corpus (VERDICT r14 #7).

At sf0.1 every driver-bench ratio is ≈1 because each query sits on a
0.3-2 s fixed floor (job scheduling, micro-batch commits) — core
count is not the binding resource at that scale, which left the
100 TB parallelism claim resting on plan shape alone. This campaign
measures the bench top-10 at the 10× stress corpus
(/tmp/sfstress10, tools/scale_stress.py layout) under
SPARK_GRAFT_CPUS=32 vs =8 — fresh JVM per sample (tools/measure.py),
N samples each, min reported — and writes the ratio table the verdict
asked for. SPARK_GRAFT_CPUS is exported per child so the session
master AND shuffle partitions track it.

Usage:
    python tools/scaling_evidence.py [--samples 2] [names...]

Writes bench_baselines/scaling_evidence_r15.json.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import measure  # noqa: E402
from tools.scale_stress import STRESS_DIR, build_stress_dir  # noqa: E402

# PERF_r14's driver top-10. python_stream_source_totals uses its
# @10x_rows SPECIAL row (its universe is synthetic; sf_dir unused).
DEFAULT_NAMES = (
    "stream_stream_join",
    "python_stream_source_totals@10x_rows",
    "near_dup_canonical",
    "pagerank_two_iter",
    "kmeans_two_iter",
    "minhash_jaccard_calibration",
    "cdc_unwrap_dedup",
    "mmr_diversified_topk",
    "ann_recall_report",
    "cooccurrence_lift",
)

CPU_LEVELS = (32, 8)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or list(DEFAULT_NAMES)

    build_stress_dir()
    dst = os.path.join(
        REPO, "bench_baselines", "scaling_evidence_r15.json"
    )
    loadavg_start = list(os.getloadavg())
    rows: dict = {}
    prev_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    for name in names:
        row: dict = {}
        for cpus in CPU_LEVELS:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
            try:
                row[f"c{cpus}"] = measure.fresh_jvm_samples(
                    name, STRESS_DIR, args.samples)
            finally:
                if prev_cpus is None:
                    os.environ.pop("SPARK_GRAFT_CPUS", None)
                else:
                    os.environ["SPARK_GRAFT_CPUS"] = prev_cpus
        if row["c32"]["min"] and row["c8"]["min"]:
            row["ratio_c8_over_c32"] = round(
                row["c8"]["min"] / row["c32"]["min"], 2)
        rows[name] = row
        print(f"{name}: {row}", file=sys.stderr)
        out = measure.artifact(rows, "fresh-jvm-per-sample", STRESS_DIR,
                               args.samples, loadavg_start)
        out["_meta"] = {
            "date": datetime.date.today().isoformat(),
            "cpu_levels": list(CPU_LEVELS),
            "purpose": (
                "VERDICT r14 #7: data-dominated queries should show "
                "speedup at 4x cores once per-query floors stop "
                "dominating; streaming/iterative rows document their "
                "floor instead"
            ),
        }
        with open(dst, "w") as f:
            json.dump(out, f, indent=1)
    print(dst)
    return 0


if __name__ == "__main__":
    sys.exit(main())
