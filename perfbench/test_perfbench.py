"""Tests of the benchmark itself: its arithmetic, its inputs, and a
tiny-input smoke run of every workload.

Run from the repository root: ``python -m pytest perfbench -q``. The smoke
runs start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import fixtures, layers  # noqa: E402
from perfbench.run import END_TO_END, PRINTED  # noqa: E402
from perfbench.stats import median, self_time, tail, union_length  # noqa: E402

SPECIFIC = {
    "copy_poll": ("rows_per_s", "freshness_s", "noop_tick_s", "stored_bytes_per_src_byte"),
    "query_mix": ("wall_s.relational", "wall_s.operators"),
}
UNITS = {"rows_per_s": "rows/s", "stored_bytes_per_src_byte": "ratio", "freshness_s": "s",
         "noop_tick_s": "s", "wall_s.relational": "s", "wall_s.operators": "s"}


# -- tail rule ---------------------------------------------------------------
def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order must not matter
    value, pct, n = tail(list(reversed(values)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for v in values if v > value) == 10


def test_tail_with_21_samples_sits_just_above_the_median():
    value, pct, n = tail([float(v) for v in range(21)])
    assert n == 21 and value == 10.0 and pct == pytest.approx(100 * 11 / 21)
    assert sum(1 for v in range(21) if v > value) == 10


def test_tail_falls_back_to_the_median_with_few_samples():
    for n in (1, 2, 11, 20):
        values = [float(v) for v in range(n)]
        assert tail(values) == (median(values), 50.0, n)
    assert tail([])[2] == 0


# -- self time ---------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    # children overlap (2-5 and 4-6) and one sticks out of the parent (9-12)
    assert self_time(0.0, 10.0, [(2.0, 5.0), (4.0, 6.0), (9.0, 12.0)]) == pytest.approx(5.0)


def test_self_time_ignores_children_outside_the_span():
    assert self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 8.0)]) == pytest.approx(1.0)
    assert self_time(0.0, 4.0, [(0.0, 4.0)]) == pytest.approx(0.0)


def test_union_length_merges_nested_and_adjacent_intervals():
    assert union_length([(0, 2), (1, 3), (3, 4), (10, 11), (10.5, 10.6)]) == pytest.approx(5.0)
    assert union_length([]) == 0.0


def test_recorder_self_times_follow_the_span_tree():
    from perfbench.tracing import Recorder

    rec = Recorder()
    op = rec.begin_op(0, "x")
    with rec.span("child"):
        with rec.span("grandchild"):
            pass
    rec.end_op(op)
    selfs = rec.self_times()
    child, grandchild = rec.spans[1], rec.spans[2]
    assert child.parent == op.id and grandchild.parent == child.id
    assert selfs[op.id] == pytest.approx((op.end - op.start) - (child.end - child.start))
    assert selfs[child.id] == pytest.approx(
        (child.end - child.start) - (grandchild.end - grandchild.start))


# -- inputs ------------------------------------------------------------------
def test_fixtures_are_a_function_of_the_seed():
    a, b = fixtures.build_tables(5, 0.001), fixtures.build_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in fixtures.TABLES)
    assert not a["lineitem"].equals(fixtures.build_tables(6, 0.001)["lineitem"])


def test_feed_ranges_match_the_staged_tables():
    whole = fixtures.orders_rows(3, 0, 3000, 150)
    assert whole.slice(1234, 800).equals(fixtures.orders_rows(3, 1234, 2034, 150))
    events = fixtures.events_rows(3, 0, 2500, 1000, 10)
    ts = events["ts"].to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert events.slice(999, 2).equals(fixtures.events_rows(3, 999, 1001, 1000, 10))


def test_benchmark_json_matches_the_metrics_the_runs_print():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)


# -- smoke runs ----------------------------------------------------------------
def _run(workload: str, trace: int, cwd: Path = ROOT) -> tuple[subprocess.CompletedProcess, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    done = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    return done, json.loads(done.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SPECIFIC))
def test_smoke_every_metric_prints_with_its_unit(workload):
    done, result = _run(workload, 0)
    lines = done.stdout.splitlines()
    for name, unit in END_TO_END + PRINTED + tuple((m, UNITS[m]) for m in SPECIFIC[workload]):
        assert any(line.startswith(f"{name} = ") and f" {unit}" in line for line in lines), name
    assert any(line.startswith("error_rate = 0 ratio") for line in lines), done.stdout
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not (ROOT / ".perfbench_tmp").exists()


def test_smoke_traced_run_reports_every_layer():
    done, result = _run("copy_poll", 1)
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(layers.PER_LAYER)
    for name in ("copy.trigger_s", "watermark.probe_s", "stream.drain_s", "fs.s",
                 "sources.jdbc_extract_s", "publish.incremental_write_s"):
        line = next(line for line in done.stdout.splitlines() if line.startswith(f"{name} = "))
        assert float(line.split()[2]) > 0, line


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "copy_poll", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    done = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert done.returncode != 0
    assert done.stdout.strip() == ""
