"""bench.py: the scale factor it records, and its output contract (one
compact JSON line on stdout, the full record in the detail file)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("path, sf", [
    ("testdata/sf0.1", 0.1),
    ("testdata/sf0.001", 0.001),
    ("benchdata/sf1j", 1.0),
    ("benchdata/sf1j/", 1.0),
    ("data/sf10", 10.0),
    ("data/tables", 0.1),
])
def test_scale_factor_from_dir_name(path, sf):
    assert bench._scale_factor(path) == sf


def test_bench_contract(tmp_path, sf_dir):
    detail_path = tmp_path / "d.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_KEYS="agg_groupby,topk",
               SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_BENCH_DETAIL=str(detail_path))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--repeat", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]

    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert list(line) == ["metric", "value", "unit", "sf", "n_queries"]
    assert line["n_queries"] == 2

    record = json.loads(detail_path.read_text())
    assert record["cpus"] == 2
    assert record["runs"] == 1
    assert set(record["queries"]) == {"agg_groupby", "topk"}
    assert record["value"] == round(sum(record["queries"].values()), 3)
    assert "probe_sec" not in record
    assert "run_condition" not in record
    assert "REGRESSION" not in proc.stderr


def test_perfbench_xlsx_trace_contract():
    """A traced xlsx_ingest run completes, checks out, and times the
    parse through the names its tracer wraps (``ingest.iter_xlsx_rows``
    and friends): a reader that routed around them would read 0 here."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
         "--workload", "xlsx_ingest", "--seed", "1", "--seconds", "1",
         "--trace", "1", "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] is True, proc.stderr[-3000:]
    metrics = line["metrics"]
    assert metrics["xlsx_parse_s"]["value"] > 0
    assert metrics["rows_dropped"]["value"] >= 0
