"""Contract test for the driver-facing bench CLI (``bench.py``).

The external driver runs ``python bench.py`` once per round and records
its LAST stdout line as ``BENCH_r<N>.json`` — a break here silently
loses the round's performance artifact, so the contract is pinned:

- exit code 0;
- the last stdout line parses as ONE JSON object with the keys
  ``metric`` / ``value`` / ``unit`` / ``queries`` / ``sf``;
- every bench-tagged registry query appears with a positive timing
  (``-1.0`` is the script's per-query failure sentinel).

Runs at sf0.001 (~1 min) so the suite stays fast; the timing VALUES are
box noise at this scale and deliberately unasserted.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_cli_emits_one_json_line_with_all_bench_queries():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench.py printed nothing to stdout"
    payload = json.loads(lines[-1])

    assert payload["metric"] == "headline_queries_total_sec"
    assert payload["unit"] == "sec"
    assert payload["sf"] == "0.001"
    assert payload["value"] > 0

    from tensei_agent_spark.queries import REGISTRY

    bench_names = {n for n, q in REGISTRY.items() if q.bench}
    assert set(payload["queries"]) == bench_names
    failed = {n: s for n, s in payload["queries"].items() if s <= 0}
    assert not failed, f"bench sentinel -1.0 (query raised): {failed}"


def _bench_artifact(tmp_path, name, queries):
    p = tmp_path / name
    p.write_text(json.dumps({"parsed": {"queries": queries}}))
    return str(p)


def _run_compare(old, new):
    return subprocess.run(
        [sys.executable, "tools/bench_compare.py", old, new],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )


def test_bench_compare_flags_failed_and_missing_as_regressions(tmp_path):
    """A query green in the old round but FAILED (-1.0 sentinel) or
    absent in the new round must trip the nonzero exit, not just be
    listed as 'dropped' (ADVICE r3)."""
    old = _bench_artifact(
        tmp_path, "old.json", {"a": 1.0, "b": 2.0, "c": 3.0}
    )
    new = _bench_artifact(tmp_path, "new.json", {"a": 1.1, "b": -1.0})
    proc = _run_compare(old, new)
    assert proc.returncode == 1, proc.stdout
    assert "FAILED" in proc.stdout  # b regressed to the sentinel
    assert "missing" in proc.stdout  # c vanished


def test_bench_compare_green_when_stable_or_grown(tmp_path):
    old = _bench_artifact(tmp_path, "old.json", {"a": 1.0})
    new = _bench_artifact(tmp_path, "new.json", {"a": 1.2, "d": 0.5})
    proc = _run_compare(old, new)
    assert proc.returncode == 0, proc.stdout
    assert "added in" in proc.stdout


def test_bench_compare_noise_floor(tmp_path):
    """Ratio alone must not flag sub-second jitter (r9: untouched q1/q3
    measured 1.66x/1.53x in the close run, back to baseline when re-run
    isolated) — a slowdown needs ratio > 1.5 AND > 0.75 s absolute, or
    ratio > 3x outright."""
    old = _bench_artifact(
        tmp_path, "old.json", {"jitter": 0.6, "real": 2.0, "blowup": 0.2}
    )
    # jitter: 1.8x but only +0.5s -> green; real: 1.6x and +1.2s -> red
    new = _bench_artifact(
        tmp_path, "new.json", {"jitter": 1.1, "real": 3.2, "blowup": 0.25}
    )
    proc = _run_compare(old, new)
    assert proc.returncode == 1, proc.stdout
    lines = {
        ln.split()[0]: ln
        for ln in proc.stdout.splitlines()
        if ln and ln.split()[0] in {"jitter", "real", "blowup"}
    }
    assert "REGRESSION" in lines["real"]
    assert "REGRESSION" not in lines["jitter"]
    assert "REGRESSION" not in lines["blowup"]


def test_bench_compare_flags_ratio_blowup_despite_small_delta(tmp_path):
    """An order-of-magnitude ratio on a cheap query is a plan change,
    not jitter — flags even under the absolute floor."""
    old = _bench_artifact(tmp_path, "old.json", {"cheap": 0.1})
    new = _bench_artifact(tmp_path, "new.json", {"cheap": 0.45})
    proc = _run_compare(old, new)
    assert proc.returncode == 1, proc.stdout
    assert "REGRESSION" in proc.stdout


def test_bench_steal_stamp_math():
    """cpu_steal_pct = steal ticks / busy(total minus idle+iowait) over
    the timed bracket — the busy-relative unit steal_probe.py and the
    round_close gate use (ADVICE r11); None when either sample is
    missing or nothing elapsed."""
    sys.path.insert(0, REPO)
    try:
        from bench import _cpu_ticks, _steal_pct
    finally:
        sys.path.remove(REPO)
    # 1000 total ticks: 150 steal, 350 idle -> steal 150/650 = 23.1%
    # of demanded cycles, busy 65% of total
    before = [100, 0, 50, 800, 10, 0, 5, 35, 0, 0]
    after = [500, 0, 150, 1150, 10, 0, 5, 185, 0, 0]
    assert _steal_pct(before, after) == (23.1, 65.0)
    assert _steal_pct(None, after) == (None, None)
    assert _steal_pct(before, before) == (None, None)  # zero elapsed
    # On this (Linux) box the live sampler must produce a full row.
    ticks = _cpu_ticks()
    assert ticks is not None and len(ticks) >= 8


def test_steal_probe_cli_contract():
    """The box-weather probe must emit one JSON line with all four
    measurement keys (numbers or null) and exit 0 — round_close's
    steal gate parses exactly this."""
    proc = subprocess.run(
        [sys.executable, "tools/steal_probe.py", "0.3"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-1000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(payload) == {
        "steal_pct", "busy_pct", "sgemm_gflops", "memcpy_gbps", "seconds",
    }
    assert payload["steal_pct"] >= 0.0
    assert 0.0 <= payload["busy_pct"] <= 100.0


def test_bench_compare_annotates_steal(tmp_path):
    """A side without cpu_steal_pct is STEAL-BLIND; a >5-point gap
    between stamped sides is called out as box-weather."""
    q = {"parsed": {"queries": {"a": 1.0}}}
    blind = tmp_path / "blind.json"
    blind.write_text(json.dumps(q))
    hot = tmp_path / "hot.json"
    hot.write_text(
        json.dumps({"parsed": {**q["parsed"], "cpu_steal_pct": 18.4}})
    )
    cool = tmp_path / "cool.json"
    cool.write_text(
        json.dumps({"parsed": {**q["parsed"], "cpu_steal_pct": 2.0}})
    )
    proc = _run_compare(str(blind), str(hot))
    assert "STEAL-BLIND" in proc.stdout
    assert "cpu_steal_pct" in proc.stdout
    proc = _run_compare(str(cool), str(hot))
    assert "steal gap" in proc.stdout
    proc = _run_compare(str(hot), str(hot))
    assert "steal gap" not in proc.stdout
    assert "STEAL-BLIND" not in proc.stdout


def test_bench_compare_flags_new_and_failed(tmp_path):
    """A query new THIS round that is already failing must trip the
    gate — no old timing does not mean no problem."""
    old = _bench_artifact(tmp_path, "old.json", {"a": 1.0})
    new = _bench_artifact(tmp_path, "new.json", {"a": 1.0, "q_new": -1.0})
    proc = _run_compare(old, new)
    assert proc.returncode == 1, proc.stdout
    assert "NEW+FAILED" in proc.stdout


def _run_bench_ab(*args):
    return subprocess.run(
        [sys.executable, "tools/bench_ab.py", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_bench_ab_rejects_nonexistent_tree(tmp_path):
    """A twin pointed at a tree that does not exist stops the A/B
    before any phase runs (no Spark), with a non-zero exit."""
    proc = _run_bench_ab(str(tmp_path / "missing"), REPO, "q1_pricing_summary",
                         "--reps", "1")
    assert proc.returncode != 0
    assert "missing" in proc.stderr
    assert not proc.stdout.strip()


def test_bench_ab_fails_loudly_when_a_twin_crashes(tmp_path):
    """A twin that exits non-zero ends the A/B with its stderr and a
    non-zero exit — never a partial JSON result. The fake tree's
    package lacks the modules the twin imports, so it dies before
    starting Spark."""
    (tmp_path / "tensei_agent_spark").mkdir()
    (tmp_path / "tensei_agent_spark" / "__init__.py").write_text("")
    proc = _run_bench_ab(str(tmp_path), str(tmp_path), "q1_pricing_summary",
                         "--reps=1")
    assert proc.returncode != 0
    assert "ModuleNotFoundError" in proc.stderr
    assert '"queries"' not in proc.stdout
