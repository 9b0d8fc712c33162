"""Tests of the benchmark itself (run: ``python -m pytest perfbench/tests``).

They run each workload on inputs cut from the smallest scale factor, so
they exercise the real cookbooks, checks and status-store reads in a
few minutes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import data, etl, harness, registry, run

SMALL = data.SMALL_SF_DIR


def _digests(inputs: dict) -> dict:
    out = {}
    for name, (path, _rows) in inputs.items():
        with open(path, "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("make, size", [
    (data.make_etl_files, 100),
    (data.make_jdbc_upsert, 100),
])
def test_same_seed_same_bytes(tmp_path, make, size):
    a = make(str(tmp_path / "a"), 7, size, SMALL)
    b = make(str(tmp_path / "b"), 7, size, SMALL)
    c = make(str(tmp_path / "c"), 8, size, SMALL)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_outside_a_checkout_fails_without_a_result(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_cookbook",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = harness.work_dir(str(tmp_path_factory.mktemp("bench_work")))
    s = harness.start_spark(work)
    yield s, work
    harness.stop_spark(s)


@pytest.fixture
def small(monkeypatch):
    """Every workload at the smallest scale."""
    monkeypatch.setattr(data, "DEFAULT_SF_DIR", SMALL)
    monkeypatch.setattr(etl, "FILES_ORDERS_PCT", 100)
    monkeypatch.setattr(etl, "JDBC_ORDERS", 100)
    monkeypatch.setattr(etl, "WARM_ITERATIONS", 0)
    monkeypatch.setattr(registry, "TIMED_SF", SMALL)


def test_corrupted_target_fails_the_check(spark, small):
    s, work = spark
    wl = etl.EtlCookbook(s, work, 3)
    wl.setup()
    wl.run_once()
    assert wl.failed == 0, wl.failures
    part = sorted(glob.glob(os.path.join(wl.files.out_dir, "orders", "*.csv")))[0]
    with open(part) as fh:
        lines = fh.readlines()
    with open(part, "w") as fh:
        fh.writelines(lines[1:])  # one order lost
    wl.files.check()
    assert wl.failed / wl.attempted > 0
    assert any(f.startswith("orders:") for f in wl.failures)


def test_tracing_adds_no_jobs(spark, small):
    """On etl_cookbook, whose job count repeats exactly from iteration to
    iteration. registry_bench is not compared: adaptive execution makes
    some queries (boilerplate_coverage, q5_region_revenue seen) run one
    job more or less from one untraced pass to the next."""
    s, work = spark
    wl = run.make_workload("etl_cookbook", s, work, 5)
    wl.setup()
    layer = run.trace(s, wl, work)
    assert wl.failed == 0, wl.failures
    assert set(run.per_layer_names()) <= set(layer)
    assert layer["spark.jobs"] > 0
    assert layer["spark.jobs"] == layer["_untraced_jobs"]


def test_registry_trace_reports_every_query(spark, small):
    s, work = spark
    wl = run.make_workload("registry_bench", s, work, 5)
    wl.setup()
    layer = run.trace(s, wl, work)
    assert wl.failed == 0, wl.failures
    for q in registry.BENCH_QUERIES:
        assert layer[f"registry.{q}.jobs"] > 0, q
        assert layer[f"registry.{q}.s"] > 0, q
