#!/usr/bin/env python
"""Interleaved A/B for registry queries under host noise.

The sandbox VM shows multi-x scheduler spikes and slow loadavg decay,
so sequential before/after sessions confound variant with regime.
This harness runs BOTH variants alternately (A B A B ...) in ONE
session through tools/measure.py, so regime drift hits both arms
equally; each arm reports runs, min and median.

An arm is a setter that patches the code under test before the plan
is built. Decided experiments are not kept here: their results are
committed as bench_baselines/ab_*.jsonl.

Usage: python tools/ab_interleaved.py <experiment> <query[,query...]> [pairs]
Experiments are defined in EXPERIMENTS below.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import measure  # noqa: E402


def cc_delta_frontier(nodes, edges, id_col="doc_id", src_col="a_id",
                      dst_col="b_id", max_iter=20, compress=False,
                      stats=None):
    """connected_components where only the CHANGED labels (last
    round's frontier) join the edge blocks after round 1, instead of
    the full label table. Sound because after round k every node's
    label is <= every neighbor's round-(k-1) label, so an unchanged
    neighbor can never win a later min. Measured and rejected as the
    default (bench_baselines/ab_cc_delta_r15.jsonl: +3…+9% at sf0.1
    and at the 10× corpus, where near-dup graphs converge in ~3
    rounds); it would pay off on long-diameter graphs whose frontier
    shrinks geometrically. Plain hook path only."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.operators.checkpoints import release

    if compress:
        raise NotImplementedError("cc_delta measures the plain hook path")
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    prev_ckpt = frontier = labels
    for round_no in range(1, max_iter + 1):
        if stats is not None:
            stats["rounds"] = round_no
        nbr_min = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        relabeled = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (
                    F.col("nbr_component").isNotNull()
                    & (F.col("nbr_component") < F.col("component"))
                )
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = relabeled.agg(F.sum("changed")).first()[0] or 0
        release(prev_ckpt)
        prev_ckpt = relabeled
        labels = relabeled.drop("changed")
        if changed == 0:
            release(edges)
            return labels
        frontier = relabeled.filter(F.col("changed") == 1).drop("changed")
    raise RuntimeError(f"cc_delta: no convergence in {max_iter} rounds")


def _patch_cc_delta(enable: bool):
    """INVERTED arms: A (enable=False) runs ``cc_delta_frontier``;
    B (enable=True) keeps the committed connected_components."""
    from automatic_etl_spark.operators import graph
    from automatic_etl_spark.plans import curation_plans

    curation_plans.connected_components = (
        graph.connected_components if enable else cc_delta_frontier
    )


def _patch_no_fanout(enable: bool):
    """Force fan_out=False on EVERY table() scan (B arm) — a probe for
    queries whose fan-out repartition may be pure overhead. Winners
    get per-callsite fan_out=False after code review, never a global
    flip."""
    from automatic_etl_spark.sources import parquet

    if not hasattr(_patch_no_fanout, "orig"):
        _patch_no_fanout.orig = parquet.table
    orig = _patch_no_fanout.orig
    if enable:
        def wrapped(spark, sf_dir, name, fan_out=True):
            return orig(spark, sf_dir, name, fan_out=False)
        parquet.table = wrapped
    else:
        parquet.table = orig
    # plan modules import `table` by name — repoint them all
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("automatic_etl_spark.plans") and hasattr(
            mod, "table"
        ):
            mod.table = parquet.table


# Convention: B is the committed arm (inverted for cc_delta, whose B
# is the stock code) EXCEPT no_fanout, where A restores the stock
# table() and B forces the fan_out=False probe. main() leaves the
# stock arm in place when it returns, also after an exception.
STOCK_ARM = {"no_fanout": "A"}

EXPERIMENTS = {
    "cc_delta": (
        lambda: _patch_cc_delta(False),
        lambda: _patch_cc_delta(True),
    ),
    "no_fanout": (
        lambda: _patch_no_fanout(False),
        lambda: _patch_no_fanout(True),
    ),
}


def main() -> int:
    exp_name, queries = sys.argv[1], sys.argv[2].split(",")
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", measure.DEFAULT_SF_DIR)
    set_a, set_b = EXPERIMENTS[exp_name]

    loadavg_start = list(os.getloadavg())
    spark = measure.start_session(f"ab-{exp_name}")
    try:
        rows = measure.time_queries(spark, queries, sf_dir, pairs,
                                    arms={"A": set_a, "B": set_b})
    finally:
        (set_a if STOCK_ARM.get(exp_name, "B") == "A" else set_b)()
    print(json.dumps(measure.artifact(rows, "session", sf_dir, pairs,
                                      loadavg_start)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
