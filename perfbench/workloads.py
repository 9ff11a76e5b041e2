"""The four pipeline workloads, driven through the engine's public
entry points.

Each workload prepares program-side state (timed as set-up), then runs
a fixed number of its operations, checks every output against a
reference, and in a traced run records spans around each call into a
layer. The engine is only called, never patched.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer

BI_QUERIES = (
    "count_star",
    "grouped_count_multi",
    "recent_n",
    "union_all_labels",
    "sample_scan",
    "json_extract_group",
    "rollup_agg",
    "revenue_by_nation",
    "pricing_summary",
    "shipping_priority",
    "daily_moving_avg",
    "reconciliation",
    "analytics_view_dates",
)
BI_CLIENTS = 4
# The curation operators, each under a plan, in as few plans as keep a
# cold pass within a run: near_dup_canonical runs operators.text_dedup
# (shingles, MinHash, LSH bands, Jaccard) and operators.graph
# (connected components); ann_recall_report runs operators.similarity
# (brute-force and IVF top-k).
CURATION_PLANS = (
    "near_dup_canonical",
    "ann_recall_report",
)


@dataclass
class Measure:
    """What one measuring loop saw. ``samples`` are per-operation
    latencies (s); ``items`` the work completed (rows, events, queries
    or plan runs) in ``wall`` seconds."""

    samples: list[float] = field(default_factory=list)
    items: int = 0
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def items_per_s(self) -> float:
        return self.items / self.wall if self.wall else 0.0

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        if len(self.errors) < 5:
            self.errors.append(why[:300])


def registry() -> dict:
    """The plan registry, filled."""
    import automatic_etl_spark.plans.all_plans  # noqa: F401 — registers every plan
    from automatic_etl_spark.plans.registry import REGISTRY

    return REGISTRY


def noop(df) -> None:
    """Force a lazy frame without collecting it (traced run only)."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    )


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _canon_select(con, rel_sql: str, columns: list[str]) -> str:
    """Project ``columns`` of ``rel_sql`` in one canonical type per
    family, so a Spark-written table and a generated one compare by
    value: integers as BIGINT, timestamps (naive or UTC-adjusted) as
    naive UTC TIMESTAMP."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {rel_sql}").fetchall()}
    parts = []
    for c in columns:
        t = str(types[c]).upper()
        if t.startswith("TIMESTAMP"):
            parts.append(f'CAST("{c}" AS TIMESTAMP) AS "{c}"')
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            parts.append(f'CAST("{c}" AS BIGINT) AS "{c}"')
        else:
            parts.append(f'"{c}"')
    return f"SELECT {', '.join(parts)} FROM {rel_sql}"


def table_diff(con, expected_sql: str, got_sql: str) -> int:
    """Rows in one relation and not the other, as multisets."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {expected_sql}").fetchall()]
    e = _canon_select(con, expected_sql, cols)
    g = _canon_select(con, got_sql, cols)
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {g})) "
        f"+ (SELECT count(*) FROM ({g} EXCEPT ALL {e}))"
    ).fetchone()[0]


def oracle_check(rows, schema, con, oracle_sql: str) -> str | None:
    """None when collected Spark ``rows`` equal the DuckDB oracle,
    else the reason (the repo's oracle comparison: column names, type
    families, canonical sorted rows)."""
    from tests.oracle_utils import canon_rows, duck_family, spark_family

    rel = con.sql(oracle_sql)
    s_cols = [f.name.lower() for f in schema.fields]
    d_cols = [c.lower() for c in rel.columns]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    s_types = {f.name.lower(): spark_family(f.dataType.simpleString()) for f in schema.fields}
    d_types = dict(zip(d_cols, (duck_family(t) for t in rel.types)))
    bad = [c for c in s_cols if s_types[c] != d_types[c]]
    if bad:
        return f"type families differ on {bad}"
    d_rows = rel.fetchall()
    if canon_rows(s_cols, [tuple(r) for r in rows]) != canon_rows(d_cols, d_rows):
        return f"values differ ({len(rows)} vs {len(d_rows)} rows)"
    return None


class Workload:
    """``op_s`` is about how long one operation takes on a 4-core host.
    A run measures ``ops(seconds)`` operations: a count fixed by the run
    length, not by how fast the operations turn out, so a faster
    program is measured on the same operations as a slower one."""

    name = ""
    op_s = 10.0
    cold = False  # the measured operation runs on a JVM without warm()

    def __init__(self, inputs: str, work: str) -> None:
        self.inputs = inputs
        self.work = work

    def prepare(self, spark) -> None:
        """Program-side preparation, timed as set-up."""

    def warm(self, spark) -> None:
        """Run the workload's code paths once before timing, so the
        JIT and Spark's generated-code cache are warm (timed as
        set-up). Workloads whose users pay a cold start every run
        leave it empty."""

    def ops(self, seconds: float) -> int:
        return max(1, round(seconds / self.op_s))

    def measure(self, spark, n: int) -> Measure:
        raise NotImplementedError

    def trace(self, spark, tracer: Tracer, n: int) -> tuple[Measure, dict]:
        """Traced pass: the same ``n`` operations under spans, then the
        layer decompositions. Returns the traced measure and raw
        per-layer inputs for :meth:`layers`."""
        raise NotImplementedError

    def layers(self, spans: list[dict], per_span: dict, raw: dict) -> dict:
        raise NotImplementedError


def _spans(spans: list[dict], layer: str, name: str | None = None) -> list[dict]:
    return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]


def _sum(per_span: dict, spans: list[dict], key: str) -> float:
    return sum(per_span[s["id"]][key] for s in spans)


def _wall(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def span(tracer: Tracer | None, name: str, layer: str, **attrs):
    return nullcontext() if tracer is None else tracer.span(name, layer, **attrs)


class Oracles:
    """DuckDB oracle verdicts per plan, computed once per distinct
    result."""

    def __init__(self, con) -> None:
        self.con = con
        self.verdicts: dict[tuple[str, str], str | None] = {}

    def check(self, name: str, rows, schema, sql: str) -> str | None:
        key = (name, repr(sorted(map(repr, rows))))
        if key not in self.verdicts:
            self.verdicts[key] = oracle_check(rows, schema, self.con, sql)
        return self.verdicts[key]


# --- batch_refresh ------------------------------------------------------------


class BatchRefresh(Workload):
    """ingest_many over the dirty snapshot: clean → window dedup →
    atomic overwrite → audit per table on orchestrator threads."""

    name = "batch_refresh"
    op_s = 15.0
    cold = True

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.snapshot = os.path.join(self.inputs, "snapshot")
        self.expected = os.path.join(self.inputs, "expected")
        self.silver = os.path.join(self.work, "silver")
        self.specs = {
            t: gen.clean_specs(t, pq.read_schema(os.path.join(self.expected, f"{t}.parquet")))
            for t in gen.SNAPSHOT_TABLES
        }
        self.source_rows = sum(
            pq.read_metadata(os.path.join(self.snapshot, f"{t}.parquet")).num_rows
            for t in gen.SNAPSHOT_TABLES
        )
        self.source_bytes = dir_bytes(self.snapshot)
        self.con = duck()

    def _spec(self, t: str):
        from automatic_etl_spark.ingest import IngestSpec

        return IngestSpec(
            clean_specs=self.specs[t],
            dedup_keys=gen.KEYS[t],
            version_cols=(gen.VERSION_COL,),
        )

    def _sources(self, spark) -> dict:
        from automatic_etl_spark.sources.parquet import table

        return {
            t: (table(spark, self.snapshot, t), os.path.join(self.silver, f"{t}.parquet"), self._spec(t))
            for t in gen.SNAPSHOT_TABLES
        }

    def refresh(self, spark, m: Measure) -> dict | None:
        from automatic_etl_spark.ingest import ingest_many

        m.attempted += len(gen.SNAPSHOT_TABLES)
        t0 = time.perf_counter()
        try:
            report = ingest_many(spark, self._sources(spark), max_workers=4)
        except Exception as exc:  # noqa: BLE001 — a failed refresh is a measured outcome
            m.fail(len(gen.SNAPSHOT_TABLES), f"ingest_many raised {exc!r}")
            return None
        el = time.perf_counter() - t0
        m.samples.append(el)
        m.wall += el
        m.items += self.source_rows
        self.verify(report, m)
        return report

    def verify(self, report: dict, m: Measure) -> None:
        for t in gen.SNAPSHOT_TABLES:
            phase = report["phases"].get(f"ingest_{t}", {})
            if phase.get("status") != "success":
                m.fail(1, f"{t}: phase {phase.get('status')}: {phase.get('error')}")
                continue
            bad = [r for r in report["tables"].get(t, []) if r.get("verdict") != "OK"]
            if bad or t not in report["tables"]:
                m.fail(1, f"{t}: {len(bad)} audit verdicts not OK")
                continue
            diff = table_diff(
                self.con,
                f"read_parquet('{self.expected}/{t}.parquet')",
                f"read_parquet('{self.silver}/{t}.parquet/*.parquet')",
            )
            if diff:
                m.fail(1, f"{t}: silver differs from the expected state in {diff} rows")

    def measure(self, spark, n: int) -> Measure:
        m = Measure()
        for _ in range(n):
            self.refresh(spark, m)
        m.extra["silver_bytes_per_source_byte"] = dir_bytes(self.silver) / self.source_bytes
        return m

    def trace(self, spark, tracer: Tracer, n: int) -> tuple[Measure, dict]:
        from automatic_etl_spark.functions.cleaning import clean_table
        from automatic_etl_spark.ingest import ingest_table, transform
        from automatic_etl_spark.sources.parquet import table

        m = Measure()
        reports = []
        for _ in range(n):
            with tracer.span("ingest_many", "orchestrator"):
                reports.append(self.refresh(spark, m))
        # the decomposition runs after the traced refreshes, so they sit
        # on the JVM's warm-up curve right after the untraced baseline
        raw: dict = {"tables": {}, "reports": [r for r in reports if r]}
        for t in gen.SNAPSHOT_TABLES:
            spec = self._spec(t)
            rec = raw["tables"][t] = {}
            with tracer.span(f"scan[{t}]", "sources"):
                src = table(spark, self.snapshot, t)
                noop(src)
            with tracer.span(f"clean[{t}]", "functions.cleaning"):
                cleaned = clean_table(src, spec.clean_specs)
                noop(cleaned)
            with tracer.span(f"dedup[{t}]", "operators.dedup"):
                deduped = transform(src, spec)
                noop(deduped)
            target = os.path.join(self.work, "silver_traced", f"{t}.parquet")
            with tracer.span(f"write[{t}]", "ingest"):
                audit = ingest_table(spark, src, target, spec)
            with tracer.span(f"audit[{t}]", "ingest"):
                verdicts = [r["verdict"] for r in audit.collect()]
            # cleaning keeps every row; the written table is dedup's output
            rec["rows_in"] = pq.read_metadata(os.path.join(self.snapshot, f"{t}.parquet")).num_rows
            rec["rows_out"] = sum(
                pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(target, "*.parquet"))
            )
            m.attempted += 1
            if any(v != "OK" for v in verdicts):
                m.fail(1, f"{t}: traced ingest_table audit not OK")
        raw["output_bytes"] = dir_bytes(os.path.join(self.work, "silver_traced"))
        return m, raw

    def layers(self, spans: list[dict], per_span: dict, raw: dict) -> dict:
        n = len(gen.SNAPSHOT_TABLES)
        scan = _spans(spans, "sources")
        clean = _spans(spans, "functions.cleaning")
        dedup = _spans(spans, "operators.dedup")
        write = [s for s in _spans(spans, "ingest") if s["name"].startswith("write")]
        audit = [s for s in _spans(spans, "ingest") if s["name"].startswith("audit")]
        ingest = write + audit
        snapshot_loc = self.snapshot
        scanned: dict[str, int] = {}
        for s in ingest:
            for loc in per_span[s["id"]]["scans"]:
                for t in gen.SNAPSHOT_TABLES:
                    if f"{snapshot_loc}/{t}.parquet" in loc:
                        scanned[t] = scanned.get(t, 0) + 1
        source_scans = sum(scanned.values())
        scanned_bytes = sum(
            k * os.path.getsize(os.path.join(snapshot_loc, f"{t}.parquet"))
            for t, k in scanned.items()
        )
        phases = [p for r in raw["reports"] for p in r["phases"].values()]
        dag = _spans(spans, "orchestrator")
        elapsed = sorted(p["elapsed_sec"] for p in phases)
        dag_wall = _wall(dag)
        return {
            "sources.scan_s": _wall(scan),
            "sources.input_rows": self.source_rows,
            # bytes of source files the ingest's scan nodes read; Spark's
            # input.bytesRead undercounts pruned parquet scans
            "sources.input_bytes_per_source_byte": scanned_bytes / self.source_bytes,
            "functions.cleaning.s": _wall(clean) - _wall(scan),
            "operators.dedup.s": _wall(dedup) - _wall(clean),
            "operators.dedup.rows_in": sum(r["rows_in"] for r in raw["tables"].values()),
            "operators.dedup.rows_out": sum(r["rows_out"] for r in raw["tables"].values()),
            "operators.dedup.shuffle_write_bytes": _sum(per_span, dedup, "shuffle_write_bytes")
            - _sum(per_span, clean, "shuffle_write_bytes"),
            "ingest.write_s": _wall(write),
            "ingest.audit_s": _wall(audit),
            "ingest.jobs_per_table": _sum(per_span, ingest, "jobs") / n,
            "ingest.source_scans_per_table": source_scans / n,
            "ingest.output_bytes": raw["output_bytes"],
            "orchestrator.attempts": sum(p["attempts"] for p in phases),
            "orchestrator.retries": sum(max(0, p["attempts"] - 1) for p in phases),
            "orchestrator.critical_path_s": _median(
                [max(p["elapsed_sec"] for p in r["phases"].values()) for r in raw["reports"]]
            ),
            "orchestrator.overlap": sum(elapsed) / dag_wall if dag_wall else 0.0,
            "orchestrator.phase_skew": elapsed[-1] / _median(elapsed) if elapsed else 0.0,
        }


# --- cdc_replay ---------------------------------------------------------------


class CdcReplay(Workload):
    """A Debezium change-log backlog drained with availableNow through
    parse → unwrap → foreachBatch last-writer-wins upsert into a seeded
    silver table."""

    name = "cdc_replay"
    op_s = 10.0

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.seed_file = os.path.join(self.inputs, "seed")
        self.log = os.path.join(self.inputs, "log")
        self.seeded = os.path.join(self.work, "cdc_seeded")
        self.silver = os.path.join(self.work, "cdc_silver")
        self.events = sum(
            pq.read_metadata(p).num_rows for p in glob.glob(f"{self.log}/*.parquet")
        )
        self.event_bytes = dir_bytes(self.log)
        self.replays = 0
        self.con = duck()
        self.con.register("expected", self.con.sql(self._lww_sql()).arrow())

    def _payload(self):
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        types = {"bigint": LongType(), "string": StringType(), "double": DoubleType()}
        return StructType([StructField(n, types[t], True) for n, t in gen.CDC_PAYLOAD])

    def _lww_sql(self) -> str:
        """DuckDB last-writer-wins over seed ∪ change log: tombstones
        (NULL values) and unparseable payloads dropped, deletes keep
        their before image with ``__deleted``."""
        fields = ", ".join(
            f"CAST(rec->>'{n}' AS {t.upper()}) AS {n}" for n, t in gen.CDC_PAYLOAD
        )
        return f"""
            WITH env AS (
                SELECT CAST(value AS JSON) AS j
                FROM read_parquet('{self.log}/*.parquet')
                WHERE value IS NOT NULL AND json_valid(value)
            ),
            ev AS (
                SELECT j->>'op' AS op, CAST(j->>'ts_ms' AS BIGINT) AS ts,
                       CASE WHEN j->>'op' = 'd' THEN j->'before' ELSE j->'after' END AS rec
                FROM env
            ),
            changes AS (
                SELECT {fields}, op = 'd' AS __deleted, op AS _op, ts AS _ts_ms
                FROM ev WHERE op IS NOT NULL
            ),
            allrows AS (
                SELECT * FROM read_parquet('{self.seed_file}/*.parquet')
                UNION ALL BY NAME SELECT * FROM changes
            )
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (PARTITION BY id ORDER BY _ts_ms DESC) AS rn
                FROM allrows
            ) WHERE rn = 1
        """

    def prepare(self, spark) -> None:
        # seed the entity silver table the change log applies to
        spark.read.parquet(self.seed_file).write.mode("overwrite").parquet(self.seeded)

    def warm(self, spark) -> None:
        # one micro-batch's plan, applied to a scratch copy of the table
        from automatic_etl_spark.streaming import cdc

        scratch = os.path.join(self.work, "cdc_warm")
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.copytree(self.seeded, scratch)
        first = sorted(glob.glob(f"{self.log}/*.parquet"))[0]
        batch = spark.read.schema("value string").parquet(first)
        unwrapped = cdc.unwrap_envelope(cdc.parse_envelope(batch, self._payload()))
        cdc.foreach_batch_upsert(scratch, [gen.CDC_KEY], [gen.CDC_VERSION])(unwrapped, 0)
        shutil.rmtree(scratch)

    def replay(self, spark, m: Measure, sink=None) -> list[dict]:
        from automatic_etl_spark.streaming import cdc

        shutil.rmtree(self.silver, ignore_errors=True)
        shutil.copytree(self.seeded, self.silver)
        self.replays += 1
        ckpt = os.path.join(self.work, f"cdc_ckpt_{self.replays}")
        if sink is None:
            sink = cdc.foreach_batch_upsert(self.silver, [gen.CDC_KEY], [gen.CDC_VERSION])
        n_files = len(glob.glob(f"{self.log}/*.parquet"))
        t0 = time.perf_counter()
        try:
            raw = (
                spark.readStream.schema("value string")
                .option("maxFilesPerTrigger", 1)
                .parquet(self.log)
            )
            unwrapped = cdc.unwrap_envelope(cdc.parse_envelope(raw, self._payload()))
            query = (
                unwrapped.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        except Exception as exc:  # noqa: BLE001 — a failed replay is a measured outcome
            m.attempted += n_files
            m.fail(n_files, f"replay raised {exc!r}")
            return []
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        el = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        m.attempted += len(progress)
        m.samples.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in progress)
        m.wall += el
        m.items += self.events
        if len(progress) != n_files:
            m.fail(abs(n_files - len(progress)), f"{len(progress)} batches for {n_files} files")
        diff = table_diff(self.con, "expected", f"read_parquet('{self.silver}/*.parquet')")
        if diff:
            m.fail(len(progress), f"silver differs from the DuckDB last-writer-wins in {diff} rows")
        return progress

    def measure(self, spark, n: int) -> Measure:
        m = Measure()
        for _ in range(n):
            self.replay(spark, m)
        return m

    def trace(self, spark, tracer: Tracer, n: int) -> tuple[Measure, dict]:
        from automatic_etl_spark.streaming import cdc

        upsert_s: list[float] = []
        inner = cdc.foreach_batch_upsert(self.silver, [gen.CDC_KEY], [gen.CDC_VERSION])

        def timed(df, batch_id):
            t0 = time.perf_counter()
            inner(df, batch_id)
            upsert_s.append(time.perf_counter() - t0)

        m = Measure()
        progress: list[dict] = []

        for _ in range(n):
            with tracer.span("replay", "streaming.cdc"):
                progress.extend(self.replay(spark, m, sink=timed))
        # what the micro-batches did, over the whole log at once: the
        # per-batch dedup is the dedup keyed by (id, source file)
        from pyspark.sql import functions as F

        log = spark.read.schema("value string").parquet(self.log)
        unwrapped = cdc.unwrap_envelope(cdc.parse_envelope(log, self._payload())).withColumn(
            "_file", F.input_file_name()
        )
        deduped = cdc.cdc_microbatch_dedup(unwrapped, [gen.CDC_KEY, "_file"], [gen.CDC_VERSION])
        with tracer.span("unwrap", "streaming.cdc.decomposition"):
            noop(unwrapped)
        with tracer.span("dedup", "operators.dedup"):
            noop(deduped)
        raw = {
            "upsert_s": upsert_s,
            "progress": progress,
            "raw_rows": log.count(),
            "unwrapped_rows": unwrapped.count(),
            "deduped_rows": deduped.count(),
        }
        return m, raw

    def layers(self, spans: list[dict], per_span: dict, raw: dict) -> dict:
        prog = raw["progress"]
        d = [p["durationMs"] for p in prog]
        replay = _spans(spans, "streaming.cdc")
        unwrap = _spans(spans, "streaming.cdc.decomposition")
        dedup = _spans(spans, "operators.dedup")
        return {
            "operators.dedup.s": _wall(dedup) - _wall(unwrap),
            "operators.dedup.rows_in": raw["unwrapped_rows"],
            "operators.dedup.rows_out": raw["deduped_rows"],
            "operators.dedup.shuffle_write_bytes": _sum(per_span, dedup, "shuffle_write_bytes"),
            "streaming.cdc.batches": len(prog),
            "streaming.cdc.rows_per_batch": sum(p["numInputRows"] for p in prog) / max(1, len(prog)),
            "streaming.cdc.upsert_s.p50": pct(raw["upsert_s"], 50),
            "streaming.cdc.upsert_s.p90": pct(raw["upsert_s"], 90),
            "streaming.cdc.trigger_overhead_s.p50": pct(
                [(x["triggerExecution"] - x.get("addBatch", 0)) / 1e3 for x in d], 50
            ),
            "streaming.cdc.query_planning_s.p50": pct([x.get("queryPlanning", 0) / 1e3 for x in d], 50),
            "streaming.cdc.wal_commit_s.p50": pct([x.get("walCommit", 0) / 1e3 for x in d], 50),
            "streaming.cdc.silver_bytes_written_per_event_byte": _sum(per_span, replay, "output_bytes")
            / (self.event_bytes * max(1, len(replay))),
            "streaming.cdc.rows_dropped": raw["raw_rows"] - raw["unwrapped_rows"],
            "streaming.cdc.dedup_kept_ratio": raw["deduped_rows"] / max(1, raw["unwrapped_rows"]),
        }


# --- bi_dashboard -------------------------------------------------------------


class BiDashboard(Workload):
    """Four closed-loop clients running rounds over the silver layer; in
    a round each client runs every BI registry plan once, in its own
    seeded order."""

    name = "bi_dashboard"
    op_s = 11.0
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.silver = os.path.join(self.inputs, "silver")
        con = duck()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.silver}/{t}.parquet')")
        self.oracles = Oracles(con)

    def prepare(self, spark) -> None:
        self._views(spark)

    def warm(self, spark) -> None:
        plans = registry()
        names = list(BI_QUERIES)

        def run_share(k: int) -> None:
            for name in names[k::BI_CLIENTS]:
                plans[name][0](spark, self.silver).collect()

        threads = [threading.Thread(target=run_share, args=(k,)) for k in range(BI_CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

    def _views(self, spark) -> dict:
        from automatic_etl_spark.operators.views import create_analytics_views
        from automatic_etl_spark.sources.parquet import table

        return create_analytics_views(
            spark, {t: table(spark, self.silver, t) for t in self.TABLES}
        )

    def _clients(self, spark, rounds: int, tracer: Tracer | None) -> Measure:
        plans = registry()
        m = Measure()
        results: list[tuple[str, object, object]] = []
        lock = threading.Lock()
        # The orders are seeded by the client, not the run, so which heavy
        # plans overlap does not vary from seed to seed.
        orders = [random.Random(k) for k in range(BI_CLIENTS)]

        def query(k: int, name: str) -> None:
            fn = plans[name][0]
            t0 = time.perf_counter()
            try:
                with span(tracer, name, "plans.bi", client=k):
                    df = fn(spark, self.silver)
                    rows = df.collect()
                el = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — a failed query is a measured outcome
                with lock:
                    m.attempted += 1
                    m.fail(1, f"{name} raised {exc!r}")
                return
            with lock:
                m.attempted += 1
                m.samples.append(el)
                results.append((name, rows, df.schema))

        def cycle(k: int) -> None:
            queue = list(BI_QUERIES)
            orders[k].shuffle(queue)
            try:
                for name in queue:
                    query(k, name)
            except BaseException as exc:  # a dead client must not pass silently
                with lock:
                    m.fail(1, f"client {k} died: {exc!r}")
                raise

        def round_() -> None:
            threads = [threading.Thread(target=cycle, args=(k,)) for k in range(BI_CLIENTS)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()

        start = time.perf_counter()
        for _ in range(rounds):
            round_()
        m.wall = time.perf_counter() - start
        m.items = len(m.samples)
        for name, rows, schema in results:
            why = self.oracles.check(name, rows, schema, plans[name][1])
            if why is not None:
                m.fail(1, f"{name}: {why}")
        return m

    def measure(self, spark, n: int) -> Measure:
        return self._clients(spark, n, None)

    def trace(self, spark, tracer: Tracer, n: int) -> tuple[Measure, dict]:
        m = self._clients(spark, n, tracer)
        with tracer.span("create_analytics_views", "operators.views"):
            for df in self._views(spark).values():
                noop(df)
        return m, {}

    def layers(self, spans: list[dict], per_span: dict, raw: dict) -> dict:
        q = _spans(spans, "plans.bi")
        wall = _wall(q)
        out = {
            f"plans.bi.{n}.p50_s": _median([s["end"] - s["start"] for s in q if s["name"] == n])
            for n in BI_QUERIES
        }
        out.update(
            {
                "plans.bi.driver_share": (wall - _sum(per_span, q, "job_cover_s")) / wall if wall else 0.0,
                "plans.bi.jobs_per_query": _sum(per_span, q, "jobs") / max(1, len(q)),
                "plans.bi.shuffle_bytes_per_query": _sum(per_span, q, "shuffle_write_bytes") / max(1, len(q)),
                "plans.bi.task_wait_s": _sum(per_span, q, "task_wait_s") / max(1, len(q)),
                "operators.views.build_s": _wall(_spans(spans, "operators.views")),
                "operators.audit.s": out["plans.bi.reconciliation.p50_s"],
            }
        )
        return out


# --- curation -------------------------------------------------------------------


class Curation(Workload):
    """One thread running the iterative multi-job curation plans back
    to back over the documents/embeddings/events corpus."""

    name = "curation"
    op_s = 10.0
    cold = True

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.corpus = os.path.join(self.inputs, "corpus")
        con = duck()
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')")
        self.oracles = Oracles(con)

    def passes(self, spark, n: int, tracer: Tracer | None) -> Measure:
        plans = registry()
        m = Measure()

        def one_pass() -> None:
            pass_s = 0.0
            for name in CURATION_PLANS:
                fn, oracle = plans[name]
                m.attempted += 1
                t0 = time.perf_counter()
                try:
                    with span(tracer, name, "plans.curation"):
                        df = fn(spark, self.corpus)
                        rows = df.collect()
                except Exception as exc:  # noqa: BLE001 — a failed plan is a measured outcome
                    m.fail(1, f"{name} raised {exc!r}")
                    continue
                pass_s += time.perf_counter() - t0
                m.items += 1
                why = self.oracles.check(name, rows, df.schema, oracle)
                if why is not None:
                    m.fail(1, f"{name}: {why}")
            m.samples.append(pass_s)
            m.wall += pass_s

        for _ in range(n):
            one_pass()
        return m

    def measure(self, spark, n: int) -> Measure:
        return self.passes(spark, n, None)

    def trace(self, spark, tracer: Tracer, n: int) -> tuple[Measure, dict]:
        return self.passes(spark, n, tracer), {}

    def layers(self, spans: list[dict], per_span: dict, raw: dict) -> dict:
        out = {}
        for n in CURATION_PLANS:
            ss = _spans(spans, "plans.curation", n)
            run = _sum(per_span, ss, "executor_run_s")
            out[f"plans.curation.{n}.s"] = _median([s["end"] - s["start"] for s in ss])
            out[f"plans.curation.{n}.jobs"] = _sum(per_span, ss, "jobs") / max(1, len(ss))
            out[f"plans.curation.{n}.cpu_per_run"] = (
                _sum(per_span, ss, "executor_cpu_s") / run if run else 0.0
            )
        return out


WORKLOADS = {w.name: w for w in (BatchRefresh, CdcReplay, BiDashboard, Curation)}
