#!/usr/bin/env python
"""The one measurement core behind bench.py and the tools/ harnesses.

Every timing in the repo goes through the same discipline:

- warm each query immediately before measuring it on the smallest
  fixture (sf0.001): the same plan shape generates the same codegen
  classes and spawns the same Python workers, so the measured run
  reflects execution, not JIT/worker start-up;
- reset session state (temp views, cached blocks, JVM garbage)
  OUTSIDE the timed window before every sample;
- time one ``collect()`` per sample and read the 1-min loadavg
  before it, so a noisy sample can be told from a slow plan.

Three regimes run that loop:

- ``session``: one SparkSession for all queries (``time_queries``).
  With ``arms`` it is an interleaved A/B: every arm is warmed, then
  samples alternate A B A B ... so host drift hits both arms equally.
- ``fresh-jvm``: ``run_child`` runs the session loop for a group of
  queries in a fresh JVM (bench.py, one child per group): session age
  stays bounded, and a wedged or crashed JVM costs one group's rows,
  never the run.
- ``fresh-jvm-per-sample``: ``fresh_jvm_samples`` launches one child
  per sample (headliner minima, scaling evidence, scale stress).

Artifact schema (``artifact``): ``host`` (nproc, SPARK_GRAFT_CPUS,
MemTotal, loadavg at start and end, Spark and Python versions),
``regime``, ``sf_dir``, ``samples`` and ``queries``: name -> row, where
a row holds ``runs`` (seconds), ``min``, ``median``, ``loadavg1`` (one
per sample) and ``session_age_sec``, or ``error`` when the query
failed. A row that compares variants holds one such row per label
instead: the A/B arms, or the corpus scales or CPU levels a tool
compares (plus that tool's ratio).

Usage:
    python tools/measure.py [--samples N] name...
        session regime at $SPARK_GRAFT_SF_DIR (default sf0.1), N=2
    python tools/measure.py --child <sf_dir> <samples> name...
        the fresh-JVM child: prints one artifact JSON line
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from automatic_etl_spark.sources.parquet import (  # noqa: E402
    DEFAULT_SF_DIR as WARM_DIR,  # the smallest fixture
)
from tools.scale_stress import SPECIAL  # noqa: E402
from tools.scale_stress import BASE_DIR as DEFAULT_SF_DIR  # noqa: E402


def host_fingerprint(loadavg_start: list[float]) -> dict:
    """What a reader needs to tell whether two artifacts came from
    comparable hosts; ``loadavg_end`` is read now."""
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_kb": mem_kb,
        "loadavg_start": loadavg_start,
        "loadavg_end": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def artifact(queries: dict, regime: str, sf_dir: str, samples: int,
             loadavg_start: list[float]) -> dict:
    return {
        "host": host_fingerprint(loadavg_start),
        "regime": regime,
        "sf_dir": sf_dir,
        "samples": samples,
        "queries": queries,
    }


def start_session(app_name: str):
    from automatic_etl_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_session_state(spark) -> None:
    """Queries leave memory-sink temp views, cached blocks and garbage
    behind; drop them so no sample pays for an earlier one."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def resolve(name: str):
    """The registry callable, or a scale-stress SPECIAL row (a registry
    query under a non-default configuration)."""
    from automatic_etl_spark.plans.all_plans import REGISTRY

    return SPECIAL[name] if name in SPECIAL else REGISTRY[name][0]


def _row(runs: list[float], loads: list[float], **extra) -> dict:
    return {
        "runs": runs,
        "min": min(runs) if runs else None,
        "median": round(statistics.median(runs), 3) if runs else None,
        "loadavg1": loads,
        **extra,
    }


def time_queries(spark, names, sf_dir: str, samples: int,
                 arms: dict | None = None) -> dict:
    """The session loop over ``names``; returns name -> row.

    ``arms`` maps an arm label to a setter that switches the code
    under test; the setter runs before that arm's warm-up and before
    each of its samples, and the query callable is re-resolved after
    every switch (an arm may replace the registry entry itself). A
    failing query gets an error row; the loop goes on."""
    session_start = time.perf_counter()
    warm = os.path.isdir(WARM_DIR)
    if not warm:
        # no small fixture: one throwaway query still pays the
        # session's start-up outside every timed window
        resolve("count_star")(spark, sf_dir).collect()
    setters = arms or {None: None}
    rows: dict = {}
    for name in names:
        runs: dict = {arm: [] for arm in setters}
        loads: dict = {arm: [] for arm in setters}
        ages: dict = {}
        try:
            for set_arm in setters.values():
                if set_arm:
                    set_arm()
                if warm:
                    resolve(name)(spark, WARM_DIR).collect()
            for _ in range(samples):
                for arm, set_arm in setters.items():
                    if set_arm:
                        set_arm()
                    reset_session_state(spark)
                    ages.setdefault(
                        arm, round(time.perf_counter() - session_start, 1))
                    loads[arm].append(round(os.getloadavg()[0], 2))
                    fn = resolve(name)
                    start = time.perf_counter()
                    fn(spark, sf_dir).collect()
                    runs[arm].append(round(time.perf_counter() - start, 3))
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            rows[name] = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            print(f"measure: {name} FAILED: {rows[name]['error']}",
                  file=sys.stderr)
            continue
        per_arm = {
            arm: _row(runs[arm], loads[arm], session_age_sec=ages[arm])
            for arm in setters
        }
        rows[name] = per_arm if arms else per_arm[None]
    return rows


def run_child(names, sf_dir: str, samples: int, timeout: int) -> dict:
    """Run the session loop for ``names`` in a fresh JVM; returns its
    rows. A timed-out or crashed child gives every name an error row,
    never an exception."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             sf_dir, str(samples), *names],
            capture_output=True, text=True, timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        err = f"child timed out after {timeout}s"
    else:
        lines = proc.stdout.strip().splitlines()
        try:
            return json.loads(lines[-1])["queries"]
        except (IndexError, json.JSONDecodeError, KeyError):
            err = (f"child JVM failed rc={proc.returncode}: "
                   f"{(proc.stderr or '')[-300:]}")
    print(f"measure: {err}", file=sys.stderr)
    return {name: {"error": err} for name in names}


def fresh_jvm_samples(name: str, sf_dir: str, samples: int,
                      timeout: int = 1800, before_each=None) -> dict:
    """``samples`` one-sample children for ``name``, so nothing carries
    over between samples. ``loadavg1`` is read here before each launch
    (after ``before_each``, e.g. an idle gate), so the child's own
    start-up never counts as ambient load."""
    runs: list[float] = []
    loads: list[float] = []
    error = None
    for _ in range(samples):
        if before_each is not None:
            before_each()
        loads.append(round(os.getloadavg()[0], 2))
        row = run_child([name], sf_dir, 1, timeout)[name]
        if "error" in row:
            error = row["error"]
        else:
            runs += row["runs"]
    return _row(runs, loads, **({"error": error} if error else {}))


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        sf_dir, samples, *names = argv[1:]
        loadavg_start = list(os.getloadavg())
        spark = start_session("measure-child")
        rows = time_queries(spark, names, sf_dir, int(samples))
        print(json.dumps(artifact(rows, "fresh-jvm", sf_dir, int(samples),
                                  loadavg_start)))
        return 0
    ap = argparse.ArgumentParser(
        description="Time registry queries in one session.")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    loadavg_start = list(os.getloadavg())
    spark = start_session("measure")
    rows = time_queries(spark, args.names, sf_dir, args.samples)
    print(json.dumps(artifact(rows, "session", sf_dir, args.samples,
                              loadavg_start)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
