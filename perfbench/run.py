"""Pipeline benchmark: the paper's four paths, one seeded workload per run.

    python3 perfbench/run.py --workload batch_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` (not timed), starts the engine's session, warms it up
three times (the median counts), prepares program-side state once,
measures a fixed number of whole operations (``--seconds`` divided by
the workload's nominal operation time, at least one), checks every
output against its reference and prints, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (``E2E``). ``--trace 1``
reports the per-layer metrics (``PER_LAYER``) and
``trace.overhead_ratio``: after set-up it runs one untimed operation so
the JVM is warm, then three times restarts the session, prepares and
measures the same operations: without, with and again without Spark's
event log and spans.

A line starting ``perfbench`` before the result holds the workload's
metrics under their workload names (``refresh_s``, ``cdc_batch_p90_s``,
...), ``failed_op_ratio`` and the host fingerprint; the full record,
spans included, is written to ``perfbench-results/``. Everything else
the run writes lives in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import BI_QUERIES, CURATION_PLANS, WORKLOADS, Measure, pct  # noqa: E402

# End-to-end metrics, reported by every workload. An "op" is one
# refresh (batch_refresh), one micro-batch (cdc_replay), one query
# (bi_dashboard) or one pass over the curation plans (curation); an
# "item" is a source row, a change event, a query or a plan run.
# Peak RSS is reported on the ``perfbench`` line only: the JVM's heap
# growth makes it vary by ~15-20% between identical runs.
E2E = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "1/s"),
)

SPAN_TOTALS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "self_s",
)
PER_LAYER = (
    [
        "session.get_spark_s",
        "session.warmup_s",
        "sources.scan_s",
        "sources.input_rows",
        "sources.input_bytes_per_source_byte",
        "functions.cleaning.s",
        "operators.dedup.s",
        "operators.dedup.rows_in",
        "operators.dedup.rows_out",
        "operators.dedup.shuffle_write_bytes",
        "ingest.write_s",
        "ingest.audit_s",
        "ingest.jobs_per_table",
        "ingest.source_scans_per_table",
        "ingest.output_bytes",
        "orchestrator.attempts",
        "orchestrator.retries",
        "orchestrator.critical_path_s",
        "orchestrator.overlap",
        "orchestrator.phase_skew",
        "operators.views.build_s",
        "operators.audit.s",
        "streaming.cdc.batches",
        "streaming.cdc.rows_per_batch",
        "streaming.cdc.upsert_s.p50",
        "streaming.cdc.upsert_s.p90",
        "streaming.cdc.trigger_overhead_s.p50",
        "streaming.cdc.query_planning_s.p50",
        "streaming.cdc.wal_commit_s.p50",
        "streaming.cdc.silver_bytes_written_per_event_byte",
        "streaming.cdc.rows_dropped",
        "streaming.cdc.dedup_kept_ratio",
    ]
    + [f"plans.bi.{q}.p50_s" for q in BI_QUERIES]
    + [
        "plans.bi.driver_share",
        "plans.bi.jobs_per_query",
        "plans.bi.shuffle_bytes_per_query",
        "plans.bi.task_wait_s",
    ]
    + [f"plans.curation.{p}.{k}" for p in CURATION_PLANS for k in ("s", "jobs", "cpu_per_run")]
    + [f"spans.{c}" for c in SPAN_TOTALS]
    + ["trace.overhead_ratio"]
)
PER_LAYER_UNITS = {
    "_s": "s", ".s": "s", "_bytes": "B", ".jobs": "count", "_rows": "count",
    ".rows_in": "count", ".rows_out": "count", ".batches": "count",
    ".attempts": "count", ".retries": "count", ".jobs_per_query": "count",
    ".jobs_per_table": "count", ".source_scans_per_table": "count",
    "spans.tasks": "count", ".rows_dropped": "count", ".rows_per_batch": "count",
    ".p50": "s", ".p90": "s", ".p50_s": "s", ".output_bytes": "B",
    ".shuffle_bytes_per_query": "B",
}
SETUP_REPEATS = 3


def unit_of(name: str) -> str:
    for suffix in sorted(PER_LAYER_UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return PER_LAYER_UNITS[suffix]
    return "ratio"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def fingerprint(root: str) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # an exported checkout has no .git
    h = hashlib.sha256()
    pkg = os.path.join(root, "automatic_etl_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "commit": commit,
        "package_sha256": h.hexdigest(),
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = int(next(line for line in fh if line.startswith("VmHWM")).split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


class Session:
    """The engine session for one run; ``stop`` ends the session and
    ``close`` ends the JVM and waits for it."""

    def __init__(self, workload: str) -> None:
        self.app = f"perfbench-{workload}"
        self.spark = None

    def start(self, extra_conf: dict | None = None) -> float:
        from automatic_etl_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"} | (extra_conf or {})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=self.app, extra_conf=conf)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def warmup(spark, cpus: int) -> None:
    """The smallest job that runs a task on every core. The first one
    in a JVM pays the engine's class loading and JIT; the workload pays
    for its own plans."""
    spark.range(cpus, numPartitions=cpus).collect()


def setup(session: Session, wl, cpus: int, extra_conf: dict | None = None) -> dict:
    """Start the session, warm up SETUP_REPEATS times, prepare, then
    warm the workload's code paths once. ``setup_s`` = session start +
    the median warm-up + preparation + the workload warm-up."""
    get_spark_s = session.start(extra_conf)
    warm = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        warmup(session.spark, cpus)
        warm.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(session.spark)
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm(session.spark)
    warm_workload_s = time.perf_counter() - t0
    return {
        "get_spark_s": get_spark_s,
        "warmup_s": median(warm),
        "prepare_s": prepare_s,
        "warm_workload_s": warm_workload_s,
        "setup_s": get_spark_s + median(warm) + prepare_s + warm_workload_s,
    }


def workload_metrics(name: str, m, setup_s: float, rss: float) -> dict:
    """The workload's metrics under their workload names (the names
    performance claims cite), with units."""
    s = m.samples
    out = {
        "setup_s": (setup_s, "s"),
        "failed_op_ratio": (m.failed / max(1, m.attempted), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    if name == "batch_refresh":
        out["refresh_s"] = (median(s), "s")
        out["silver_bytes_per_source_byte"] = (m.extra.get("silver_bytes_per_source_byte", 0.0), "ratio")
    elif name == "cdc_replay":
        out["cdc_events_per_s"] = (m.items_per_s, "1/s")
        out["cdc_batch_p50_s"] = (pct(s, 50), "s")
        out["cdc_batch_p90_s"] = (pct(s, 90), "s")
    elif name == "bi_dashboard":
        out["bi_queries_per_s"] = (m.items_per_s, "1/s")
        out["bi_query_p50_s"] = (pct(s, 50), "s")
        out["bi_query_p95_s"] = (pct(s, 95), "s")
    elif name == "curation":
        out["curation_s"] = (median(s), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def run(args, root: str, work: str) -> tuple[dict, dict]:
    """One benchmark run → (result line, full record)."""
    import gen
    from spans import Tracer, attribute, fold, read_event_log

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    fp = fingerprint(root)
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(args.workload, args.seed, inputs)
    wl = WORKLOADS[args.workload](inputs, work)
    os.chdir(work)  # spark-warehouse, derby.log and the like land here
    session = Session(args.workload)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "manifest": manifest}
    try:
        st = setup(session, wl, cpus)
        spark = session.spark
        n = wl.ops(args.seconds)
        fp["spark"] = spark.version
        fp["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        if not args.trace:
            m = wl.measure(spark, n)
            rss = peak_rss_mb(spark)
            metrics = {
                "setup_s": st["setup_s"],
                "op_p50_s": median(m.samples),
                "items_per_s": m.items_per_s,
            }
            units = dict(E2E)
            attempted, failed = m.attempted, m.failed
            record["samples"] = m.samples
            record["errors"] = m.errors
            record["workload_metrics"] = workload_metrics(args.workload, m, st["setup_s"], rss)
        else:
            # One untimed operation warms the JVM where set-up has not
            # (cold workloads). Then three loops, each on a restarted
            # session with the workload's state prepared again:
            # untraced, traced, untraced. Only the event log and the
            # spans differ, and the baseline (both untraced loops)
            # brackets the traced one on the JVM's warm-up curve.
            jit = wl.measure(spark, 1) if wl.cold else Measure()

            def restart(extra_conf: dict | None = None):
                session.stop()
                session.start(extra_conf)
                wl.prepare(session.spark)
                return session.spark

            before = wl.measure(restart(), n)
            evdir = os.path.join(work, "eventlog")
            os.makedirs(evdir)
            spark = restart({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
            traced, raw = wl.trace(spark, tracer, n)
            after = wl.measure(restart(), n)
            session.stop()
            logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
            jobs, sqls = fold(e for path in logs for e in read_event_log(path))
            shutil.rmtree(evdir)
            spans = tracer.records()
            per_span = attribute(spans, jobs, sqls)
            metrics = {n: 0.0 for n in PER_LAYER}
            metrics.update(wl.layers(spans, per_span, raw))
            metrics["session.get_spark_s"] = st["get_spark_s"]
            metrics["session.warmup_s"] = st["warmup_s"]
            for c in SPAN_TOTALS:
                metrics[f"spans.{c}"] = sum(rec[c] for rec in per_span.values())
            base = median(before.samples + after.samples)
            metrics["trace.overhead_ratio"] = median(traced.samples) / base - 1 if base else 0.0
            units = {n: unit_of(n) for n in PER_LAYER}
            loops = (jit, before, traced, after)
            attempted = sum(m.attempted for m in loops)
            failed = sum(m.failed for m in loops)
            record["errors"] = [e for m in loops for e in m.errors]
            record["spans"] = [s | {"counters": per_span[s["id"]]} for s in spans]
            record["jobs"] = len(jobs)
    finally:
        os.chdir(root)
        session.close()
    if attempted < 1:
        raise RuntimeError(f"{args.workload}: no operation was attempted")
    fp["loadavg_end"] = os.getloadavg()
    record["fingerprint"] = fp
    record["setup"] = st
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }
    record["result"] = result
    return result, record


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # Pin str hashing: the orchestrator picks ready phases from a set,
        # so the hash seed decides which tables share the first wave of
        # workers, and with it the refresh's critical path.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "automatic_etl_spark", "session.py")):
        print("perfbench: run from the repository root; automatic_etl_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the session's default CPU budget is 32
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        result, record = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    out_dir = os.path.join(root, "perfbench-results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "metrics": record.get("workload_metrics"),
        "errors": record["errors"],
        "fingerprint": record["fingerprint"],
    }
    print("perfbench " + json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
