"""Self-checks of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import random
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402

SPEC = run.load_spec(ROOT)


# ---- tail percentile rule -------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_rungs(n, want):
    assert stats.tail_percentile(n) == want


@pytest.mark.parametrize("n", [20, 25, 40, 77, 100, 150, 200, 1000, 2500])
def test_tail_has_at_least_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    value, p = stats.tail(xs)
    assert sum(x > value for x in xs) >= 10
    # and it is the highest ladder rung with that property
    higher = [q for q in stats.TAIL_LADDER if q > p]
    for q in higher:
        assert sum(x > stats.percentile(xs, q) for x in xs) < 10 or n * (100 - q) < 1000


def test_tail_falls_back_to_max_below_twenty_samples():
    xs = [3.0, 1.0, 2.0]
    assert stats.tail(xs) == (3.0, 100.0)


def test_percentile_nearest_rank_and_p50_not_above_tail():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile([7.0], 99.9) == 7.0
    assert stats.p50(xs) <= stats.tail(xs)[0]


# ---- failure and loss accounting ------------------------------------------

def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_lost_points_counts_missing_and_overwritten_values():
    acked = {("a", "x=1", 1): 1.0, ("a", "x=1", 2): 2.0, ("b", "y=2", 5): 5.5}
    assert stats.lost_points(acked, dict(acked)) == 0
    observed = {("a", "x=1", 1): 1.0, ("b", "y=2", 5): 4.0}  # one missing, one stale value
    assert stats.lost_points(acked, observed) == 2
    # extra observed points are not losses
    assert stats.lost_points(acked, {**acked, ("c", "", 9): 0.0}) == 0


def test_model_applies_last_acknowledged_write_over_base():
    m = serve.Model({("events.click", "user=1"): {10: 1.0, 20: 2.0}})
    m.acked[("events.click", "user=1", 20)] = 9.0
    m.acked[("bench.load", "host=h00", 5)] = 3.0
    assert m.series("events.click", "user=1") == {10: 1.0, 20: 9.0}
    assert m.series("bench.load", "host=h00") == {5: 3.0}


def test_parse_fetch_text_round_trip():
    body = "10// bench.load{host=h01} 1.5\n20// bench.load{host=h01} 2.0E-4\n7// events.view{user=3} 8.0\n"
    got = serve.parse_fetch_text(body)
    assert got == {("bench.load", "host=h01"): {10: 1.5, 20: 2e-4}, ("events.view", "user=3"): {7: 8.0}}


def test_expected_exec_buckets_then_moving_mean():
    h = serve.HOUR
    end = 100 * h
    pts = {end: 4.0, end - 1: 2.0, end - h: 6.0, end - 3 * h + 5: 1.0, end - 30 * h: 99.0}
    # buckets: end → mean(4,2)=3 ; end-h → 6 ; end-2h → 1 (tick end-3h+5 is in (end-3h, end-2h])
    want_means = {end - 2 * h: 1.0, end - h: 6.0, end: 3.0}
    got = serve.expected_exec(pts, end)
    assert [t for t, _ in got] == sorted(want_means)
    vals = [want_means[t] for t in sorted(want_means)]
    assert got[0][1] == pytest.approx(sum(vals[0:3]) / 3)
    assert got[2][1] == pytest.approx(sum(vals[0:3]) / 3)


def test_expected_exec_window_excludes_its_start():
    end = 100 * serve.HOUR
    assert serve.expected_exec({end - 24 * serve.HOUR: 1.0}, end) == []
    assert serve.expected_exec({end - 24 * serve.HOUR + 1: 1.0}, end) == [(end - 23 * serve.HOUR, 1.0)]


def test_exec_result_reads_top_of_stack_per_series():
    body = json.dumps([[{"c": "x", "l": {"u": "1"}, "a": {}, "v": [[2, 1.0], [1, 3.0]]},
                        {"c": "x", "l": {"u": "2"}, "a": {}, "v": []}], "deeper"])
    got = serve.exec_result(body)
    assert got == {("x", "u=1"): [(1, 3.0), (2, 1.0)]}
    assert serve.exec_result(json.dumps([[]])) == {}
    assert serve.exec_ok(got, {("x", "u=1"): [(1, 3.0), (2, 1.0)]})
    assert not serve.exec_ok(got, {("x", "u=1"): [(1, 3.0)]})
    assert not serve.exec_ok(got, {("x", "u=1"): [(1, 3.0), (2, 1.0)], ("x", "u=3"): [(1, 1.0)]})


# ---- BENCHMARK.json and what the command prints ---------------------------

def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]] + [m["name"] for m in SPEC["end_to_end"]] + \
        [m["name"] for m in SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}", n), n
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_every_workload_is_a_command_choice():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert not set(run.PROBES) & set(run.WORKLOADS)


def test_every_metric_name_is_produced_by_the_benchmark():
    src = "".join(open(os.path.join(BENCH, f)).read() for f in os.listdir(BENCH) if f.endswith(".py"))
    # server.<kind>_p50_ms / server.<kind>_tail_ms are formatted from the request kinds
    formatted = re.compile(r"server\.(update|fetch|exec)_(p50|tail)_ms")
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert f'"{m["name"]}"' in src or formatted.fullmatch(m["name"]), m["name"]


def test_final_line_prints_every_metric_of_the_mode():
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    line = run.final_line(SPEC, False, e2e, {}, attempted=5, failed=1)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(e2e)
    assert line["correct"] is False and line["failed"] == 1
    traced = run.final_line(SPEC, True, e2e, {"store.plan_nodes": 42}, attempted=5, failed=0)
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert traced["metrics"]["store.plan_nodes"]["value"] == 42.0 and traced["correct"] is True
    with pytest.raises(KeyError):
        run.final_line(SPEC, False, {}, {}, attempted=1, failed=0)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    files the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    r = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
