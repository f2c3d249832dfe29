"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark once per workload at tiny input sizes
(about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import layers
import stats
from spans import Span, span_self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- percentile rule -------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(20) is None
    assert stats.tail_percentile(41) == 75.0
    assert stats.tail_percentile(99) == 90.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 95.0
    assert stats.tail_percentile(1000) == 99.0


@pytest.mark.parametrize("n", [10, 11, 40, 41, 99, 100, 150, 199, 200, 999, 1000, 20000])
def test_samples_beyond_matches_a_count(n):
    xs = list(range(n))
    for p in stats.TAIL_LADDER:
        v = stats.percentile(xs, p)
        assert stats.samples_beyond(n, p) == sum(1 for x in xs if x > v)
    p = stats.tail_percentile(n)
    higher = [q for q in stats.TAIL_LADDER if p is None or q > p]
    assert all(stats.samples_beyond(n, q) < stats.MIN_BEYOND for q in higher)
    if p is not None:
        assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.median([5]) == 5
    assert stats.percentile([0, 10], 90) == 9.0


# ---- span self-time arithmetic ---------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (2, 5)]) == 6
    assert stats.self_time(0, 10, [(1, 3), (6, 7)]) == 7
    # children are clipped to the parent
    assert stats.self_time(0, 10, [(-5, 2), (9, 20)]) == 7
    assert stats.self_time(0, 10, [(20, 30)]) == 10


def test_span_self_times_follow_parents():
    spans = [Span("root", 0, 10, None, "r"), Span("a", 1, 4, 0, "r"),
             Span("b", 3, 6, 0, "r"), Span("a1", 2, 3, 1, "r")]
    assert span_self_times(spans) == [5, 2, 3, 1]


def test_union_length():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3


# ---- BENCHMARK.json ----------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_follows_the_contract():
    b = bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert 1 <= len(b["paths"]) <= 16
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    names = []
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
        names.append(m["name"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(json.dumps(b)) <= 64 * 1024


def test_per_layer_metrics_match_layers_json():
    listed = [(m["name"], m["unit"], m["better"]) for m in bench()["per_layer"]]
    assert listed == layers.layer_metrics()


def test_workloads_match_run_py():
    import run

    assert tuple(w["name"] for w in bench()["workloads"]) == run.WORKLOADS


# ---- runs --------------------------------------------------------------------

def _run(workload: str, trace: int, out_dir, cwd: str = ROOT, timeout: float = 600):
    """Run the benchmark with its output in files rather than pipes: the
    JVM inherits the run's stdout and stderr, so reading pipes to their
    end would wait for the JVM too and hide one the run left behind."""
    paths = [os.path.join(out_dir, n) for n in ("stdout.txt", "stderr.txt")]
    with open(paths[0], "w") as out, open(paths[1], "w") as err:
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(trace), "--size", "tiny"],
            cwd=cwd, stdout=out, stderr=err, timeout=timeout)
    for name, path in zip(("stdout", "stderr"), paths):
        with open(path) as f:
            setattr(proc, name, f.read())
    return proc


def _processes_using(work_dir: str) -> list[int]:
    """Processes whose command line or environment names ``work_dir``:
    the run's JVM (``-Djava.io.tmpdir``) and its Python workers
    (``TMPDIR``)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{pid}/{part}", "rb") as f:
                    if work_dir.encode() in f.read():
                        found.append(int(pid))
                        break
            except OSError:
                continue
    return found


@pytest.mark.parametrize("workload", [w["name"] for w in bench()["workloads"]])
def test_tiny_smoke_run(workload, tmp_path):
    proc = _run(workload, trace=1, out_dir=tmp_path)
    left = _processes_using(os.path.join(ROOT, ".perfbench_work"))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    b = bench()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in b["per_layer"]}
    e2e = report["end_to_end"]
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in b["end_to_end"]}
    assert all(v["value"] > 0 and v["n"] >= 1 for v in e2e.values())
    assert not os.path.exists(report["work_dir"])
    assert left == [], f"processes left running: {left}"


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bench()["workloads"][0]["name"], trace=0, out_dir=tmp_path,
                cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
