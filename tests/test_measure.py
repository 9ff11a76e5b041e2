"""The measurement core (tools/measure.py) and the harnesses on it."""

from __future__ import annotations

import json
import os

from tools import measure

HOST_KEYS = {
    "nproc", "spark_graft_cpus", "mem_total_kb", "loadavg_start",
    "loadavg_end", "spark", "python",
}


def test_session_artifact_schema(spark, sf_dir):
    """One in-session sample of count_star at sf0.001 yields the shared
    artifact schema, host fingerprint included."""
    loadavg_start = list(os.getloadavg())
    rows = measure.time_queries(spark, ["count_star"], sf_dir, 1)
    art = json.loads(json.dumps(
        measure.artifact(rows, "session", sf_dir, 1, loadavg_start)))

    assert set(art) == {"host", "regime", "sf_dir", "samples", "queries"}
    assert set(art["host"]) == HOST_KEYS
    assert art["host"]["nproc"] >= 1
    assert art["host"]["mem_total_kb"] > 0
    assert art["host"]["loadavg_start"] == loadavg_start
    assert len(art["host"]["loadavg_end"]) == 3
    assert (art["regime"], art["sf_dir"], art["samples"]) == (
        "session", sf_dir, 1)
    row = art["queries"]["count_star"]
    assert set(row) == {"runs", "min", "median", "loadavg1",
                        "session_age_sec"}
    assert len(row["runs"]) == len(row["loadavg1"]) == 1
    assert row["min"] == row["median"] == row["runs"][0] > 0


def test_child_unknown_query_is_an_error_row(sf_dir):
    """The fresh-JVM child isolates failures per query: an unknown name
    comes back as an error row, not an exception."""
    rows = measure.run_child(["no_such_query"], sf_dir, 1, timeout=600)
    assert set(rows) == {"no_such_query"}
    assert "no_such_query" in rows["no_such_query"]["error"]
    assert rows["no_such_query"]["error"].startswith("KeyError")


def test_bench_headline_names_are_unique():
    import bench

    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_cc_delta_arm_is_exact(spark):
    """The cc_delta A/B arm (delta-frontier connected components, kept
    only in the harness) must give the committed components and the
    same round count on a diameter-5 chain, a clique and singletons."""
    from automatic_etl_spark.operators.graph import connected_components
    from tools.ab_interleaved import cc_delta_frontier

    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (7, 8), (8, 9), (7, 9)],
        "a_id long, b_id long",
    )
    results = []
    for cc in (connected_components, cc_delta_frontier):
        stats: dict = {}
        got = {r.node: r.component
               for r in cc(nodes, edges, stats=stats).collect()}
        results.append((got, stats["rounds"]))
    assert results[0] == results[1]
    assert results[0][1] == 6
