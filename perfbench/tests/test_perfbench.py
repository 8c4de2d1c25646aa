"""The benchmark's own arithmetic: interval union, steal share, metric
names, result digests and row comparison.  ``test_smoke`` runs every
workload once at a tiny scale (slow lane: ``pytest -m slow``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


@pytest.mark.parametrize(
    "intervals, covered",
    [
        ([], 0.0),
        ([(0.0, 1.0)], 1.0),
        ([(0.0, 1.0), (2.0, 3.5)], 2.5),
        ([(0.0, 2.0), (1.0, 3.0)], 3.0),  # overlap counted once
        ([(0.0, 10.0), (2.0, 3.0), (4.0, 5.0)], 10.0),  # nested
        ([(0.0, 1.0), (1.0, 2.0)], 2.0),  # touching
        ([(5.0, 6.0), (0.0, 1.0), (0.5, 2.0)], 3.0),  # unsorted
    ],
)
def test_interval_union(intervals, covered):
    assert tracing.interval_union(intervals) == pytest.approx(covered)


def test_interval_union_accepts_generator():
    assert tracing.interval_union((i, i + 0.5) for i in range(3)) == pytest.approx(1.5)


def _stat(tmp_path, steal):
    p = tmp_path / "stat"
    p.write_text(
        f"cpu  100 0 50 900 5 0 2 {steal} 0 0\n"
        "cpu0 50 0 25 450 2 0 1 3 0 0\n"
        "intr 12345\n"
    )
    return str(p)


def test_read_steal_ticks_uses_aggregate_line(tmp_path):
    assert tracing.read_steal_ticks(_stat(tmp_path, 77)) == 77


def test_read_steal_ticks_rejects_missing_cpu_line(tmp_path):
    p = tmp_path / "stat"
    p.write_text("intr 1\n")
    with pytest.raises(ValueError):
        tracing.read_steal_ticks(str(p))


def test_steal_frac():
    # 200 ticks at 100 Hz = 2 core-seconds stolen of 10 s x 4 cores
    assert tracing.steal_frac(1000, 1200, 10.0, 4, hz=100) == pytest.approx(0.05)
    assert tracing.steal_frac(5, 5, 3.0, 4, hz=100) == 0.0
    assert tracing.steal_frac(0, 10, 0.0, 4, hz=100) == 0.0


def _proc(tmp_path, procs):
    """A fake /proc: ``procs`` maps pid to (command, ppid, utime, stime,
    cutime, cstime)."""
    for pid, (comm, ppid, *ticks) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, *ticks, 20, 0]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, fields)))
    (tmp_path / "self").mkdir()  # not a pid: skipped
    return str(tmp_path)


def test_tree_cpu_s_sums_the_tree_only(tmp_path):
    proc = _proc(tmp_path, {
        10: ("python3", 1, 100, 20, 3, 1),
        11: ("java) x (y", 10, 400, 50, 0, 0),  # ")" in the command
        12: ("python3", 11, 7, 1, 0, 0),
        20: ("other", 1, 999, 999, 0, 0),
    })
    hz = os.sysconf("SC_CLK_TCK")
    assert tracing.tree_cpu_s(10, proc) == pytest.approx((124 + 450 + 8) / hz)
    assert tracing.tree_cpu_s(12, proc) == pytest.approx(8 / hz)
    assert tracing.tree_cpu_s(99, proc) == 0.0


def test_executed_cpu_s_removes_the_stolen_share():
    # 40 CPU seconds charged while a quarter of the host was stolen
    assert run.executed_cpu_s(40.0, 0.25) == pytest.approx(30.0)
    assert run.executed_cpu_s(12.5, 0.0) == 12.5


@pytest.mark.parametrize(
    "name", ["wall_s", "registry.build_s", "io.scan_mb", "9lives", "a-b_c.d"]
)
def test_metric_name_valid(name):
    assert tracing.valid_metric_name(name)


@pytest.mark.parametrize(
    "name", ["", ".hidden", "_x", "has space", "slash/name", "x" * 65, "é"]
)
def test_metric_name_invalid(name):
    assert not tracing.valid_metric_name(name)


def test_benchmark_json_matches_run_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert tracing.valid_metric_name(name), name


@pytest.fixture(scope="module")
def cc():
    return checks.load_check_correctness(ROOT)


def test_digest_ignores_row_and_column_order(cc):
    a = checks.rows_digest(cc, [(1, "x", 0.5), (2, "y", None)], ["k", "s", "v"])
    b = checks.rows_digest(cc, [("y", None, 2), ("x", 0.5, 1)], ["s", "v", "k"])
    assert a == b
    assert a["rows"] == 2 and a["columns"] == ["k", "s", "v"]


def test_digest_follows_values_close(cc):
    base = checks.rows_digest(cc, [(0.0,)], ["v"])
    assert checks.rows_digest(cc, [(-0.0,)], ["v"]) == base
    assert checks.rows_digest(cc, [(5e-324,)], ["v"]) != base
    assert checks.rows_digest(cc, [(None,)], ["v"]) != checks.rows_digest(cc, [("None",)], ["v"])


def test_same_rows_rounds_floats_and_json(cc):
    got = [("a", 0.1 + 0.2, '[{"x": "g", "y": 0.30000000000000004}]')]
    want = [("a", 0.3, '[{"x": "g", "y": 0.3}]')]
    cols = ["k", "v", "series"]
    assert not checks.same_rows(cc, got, want, cols)
    assert checks.same_rows(cc, got, want, cols, digits=9)
    assert not checks.same_rows(cc, got, [("a", 0.31, want[0][2])], cols, digits=9)
    assert not checks.same_rows(cc, got, want + want, cols, digits=9)


@pytest.mark.slow
def test_smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    for name in run.WORKLOADS:
        assert f"{name}: setup_s=" in proc.stdout
