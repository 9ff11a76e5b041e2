"""Self-tests of the pipeline benchmark.

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark once end to end (about a minute).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
from spans import attribute, fold, read_event_log  # noqa: E402

EXCERPT = os.path.join(HERE, "eventlog_excerpt.jsonl")
SCAN = "InMemoryFileIndex(1 paths)[file:/data/snapshot/lineitem.parquet]"


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_generator_is_seeded(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"))
    b = gen.generate(workload, 5, str(tmp_path / "b"))
    c = gen.generate(workload, 6, str(tmp_path / "c"))
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a["input_rows"] > 0 and a["input_bytes"] > 0


def test_snapshot_plants_dirt_and_versions(tmp_path):
    m = gen.generate("batch_refresh", 5, str(tmp_path))
    planted = m["planted"]
    assert planted["stale_versions"] > 0
    assert planted["exact_duplicates"] > 0
    assert planted["nulled_cells"] > 0
    expected_rows = sum(
        pq.read_metadata(str(tmp_path / "expected" / f"{t}.parquet")).num_rows
        for t in gen.SNAPSHOT_TABLES
    )
    assert planted["rows"] == expected_rows + planted["stale_versions"] + planted["exact_duplicates"]


def test_cdc_log_op_mix(tmp_path):
    m = gen.generate("cdc_replay", 5, str(tmp_path))
    p = m["planted"]
    for key in ("c", "u", "d", "r", "duplicates", "delayed", "tombstones", "unparseable"):
        assert p[key] > 0, key
    assert len([f for f in m["inputs"] if f.startswith("log/")]) == gen.CDC_FILES


def test_fold_excerpt():
    jobs, sqls = fold(read_event_log(EXCERPT))
    assert [j["id"] for j in jobs] == [0, 1, 2, 3]
    j0, j1, j2, j3 = jobs
    assert j0["span"] == "S1" and j0["sql"] is None
    assert j0["submit"] == pytest.approx(1792207255.594)
    assert j0["end"] == pytest.approx(1792207256.343)
    assert j0["executor_run_s"] == pytest.approx(0.386)
    assert j0["executor_cpu_s"] == pytest.approx(0.042233852)
    assert j0["gc_s"] == pytest.approx(0.010)
    assert j0["task_wait_s"] == pytest.approx(0.152)
    assert j1["sql"] == 0 and j1["input_bytes"] == 2299
    assert j2["shuffle_write_bytes"] == 936 and j2["input_bytes"] == 2299
    # job 3 ran stage 4 only (stage 3's shuffle output was reused)
    assert j3["span"] is None and j3["tasks"] == 1
    assert j3["shuffle_read_bytes"] == 936
    assert j3["task_wait_s"] == pytest.approx(0.052)
    assert sorted(s["id"] for s in sqls) == [0, 1]
    assert all(s["scans"] == [SCAN] for s in sqls)


def test_attribute_and_self_time():
    jobs, sqls = fold(read_event_log(EXCERPT))
    spans = [
        {"id": "S1", "parent": None, "start": 1792207255.5, "end": 1792207260.0},
        # untagged job 3 falls inside the inner span
        {"id": "S2", "parent": "S1", "start": 1792207259.6, "end": 1792207259.9},
    ]
    per = attribute(spans, jobs, sqls)
    s1, s2 = per["S1"], per["S2"]
    assert s1["jobs"] == 3 and s2["jobs"] == 1
    assert s1["tasks"] == 3
    assert s1["executor_run_s"] == pytest.approx(1.070)
    assert s1["executor_cpu_s"] == pytest.approx(0.687796654)
    assert s1["gc_s"] == pytest.approx(0.039)
    assert s1["input_bytes"] == 4598
    assert s1["shuffle_write_bytes"] == 936 and s2["shuffle_read_bytes"] == 936
    assert s1["task_wait_s"] == pytest.approx(0.209)
    assert s1["job_cover_s"] == pytest.approx(0.749 + 0.523 + 0.337)
    assert s2["job_cover_s"] == pytest.approx(0.217)
    assert s1["self_s"] == pytest.approx(4.5 - 0.3)
    assert s2["self_s"] == pytest.approx(0.3)
    assert s1["scans"] == [SCAN, SCAN] and s2["scans"] == []


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bi_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_end_to_end_run_leaves_repo_files_alone():
    logs = os.path.join(ROOT, "logs")  # bench.py's logs/bench_detail.json lives here
    before = _tree_digest(logs)
    litter = ("spark-warehouse", "derby.log", "metastore_db")
    existed = {name: os.path.exists(os.path.join(ROOT, name)) for name in litter}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bi_dashboard",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert list(result["metrics"]) == [n for n, _ in run.E2E]
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert _tree_digest(logs) == before
    for name in litter:
        assert os.path.exists(os.path.join(ROOT, name)) == existed[name], name
    work = os.path.join(ROOT, ".perfbench_work")
    leftovers = os.listdir(work) if os.path.isdir(work) else []
    assert not [d for d in leftovers if d.startswith("bi_dashboard-3-")]
