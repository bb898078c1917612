"""Self-tests for the benchmark's statistics, parsing and output shape.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest

import datagen
import program
import run
import stats
from stream import offsets_gap_free
from tracing import EventLog, exec_metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_matches_numpy():
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 101):
        xs = list(rng.exponential(3.0, n))
        for q in (0, 10, 50, 90, 99, 100):
            assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_geomean_weighs_every_query_the_same():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_median_of_pass_times_ignores_one_outlier():
    assert stats.median([5.0, 5.2, 40.0]) == 5.2
    assert stats.median([4.0, 6.0]) == 5.0


def test_flattened_waits_for_the_trend_to_stop_falling():
    assert not stats.flattened([6.0])
    assert not stats.flattened([6.0, 5.0])  # still falling by 17%
    assert stats.flattened([6.0, 5.0, 4.9])
    assert not stats.flattened([4.0, 6.0, 6.1])  # flat, but far above the best pass


def test_stormy_reads_steal_and_stall_from_the_meter():
    quiet = {"wall_s": 10.0, "steal_pct": 0.3, "pressure_stall_ms": {"cpu_some": 900.0}}
    assert not program.stormy(quiet)
    assert program.stormy({**quiet, "steal_pct": 5.0})
    assert program.stormy({**quiet, "pressure_stall_ms": {"cpu_some": 3000.0}})
    assert not program.stormy({"available": False, "wall_s": 1.0})


def test_event_latency_shifts_each_event_from_its_due_time_to_emission():
    lat = stats.event_latencies(emit_ms=10_000.0, first_due_ms=8_000.0, n=4, rate_eps=2)
    # due at 8000, 8500, 9000, 9500; all seen at 10000
    assert list(lat) == [2000.0, 1500.0, 1000.0, 500.0]


def test_growth_flags_a_rising_backlog_only():
    assert stats.growth([100, 101, 99, 100]) == pytest.approx(-0.2, abs=0.5)
    assert stats.growth([100, 200, 300, 400]) == pytest.approx(100.0)
    assert stats.growth([5]) == 0.0


def test_result_line_has_exactly_the_contract_keys():
    line = stats.result_line(True, 3, 0, {"pass_s": stats.metric(1.5, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["pass_s"] == {"value": 1.5, "unit": "s"}
    json.dumps(line)
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": stats.metric(math.nan, "s")})


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_offsets_check_accepts_replay_and_rejects_gaps():
    ok = [
        {"id": 0, "start": 0, "end": 0},
        {"id": 1, "start": 0, "end": 3},
        {"id": 2, "start": 3, "end": 3},  # idle-trigger progress report
        {"id": 2, "start": 3, "end": 4},
        {"id": 2, "start": 3, "end": 4},  # replayed after a restart
        {"id": 3, "start": 4, "end": 7},
    ]
    assert offsets_gap_free(ok) is None
    gap = ok[:2] + [{"id": 2, "start": 4, "end": 5}]
    assert "gap" in offsets_gap_free(gap)
    moved = ok[:4] + [{"id": 2, "start": 3, "end": 5}]
    assert "replayed" in offsets_gap_free(moved)
    missing = ok[:2] + [{"id": 3, "start": 3, "end": 4}]
    assert "contiguous" in offsets_gap_free(missing)


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(0.001, 1), datagen.tables(0.001, 1), datagen.tables(0.001, 2)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    docs = a["documents"].to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()
    assert docs.text.str.endswith(" dup").any()


def test_event_log_totals_per_job(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p1|q|run"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 3_000_000,
                          "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576}},
         "Task Info": {"Accumulables": [{"ID": 9, "Name": "time to run Python workers", "Update": 7}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 4,
                          "Shuffle Read Metrics": {"Local Bytes Read": 1048576}},
         "Task Info": {"Accumulables": []}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 99,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "events_1_app").write_text("\n".join(json.dumps(x) for x in lines) + "\n{torn")
    log = EventLog(str(tmp_path))
    jobs = log.jobs_where(lambda g: g.startswith("p1|"))
    assert len(jobs) == 1 and len(log.jobs_where(t0_ms=50)) == 1
    m = exec_metrics(log.totals(jobs))
    assert m["exec.jobs"] == 1 and m["exec.stages"] == 2 and m["exec.tasks"] == 2
    assert m["exec.run_ms"] == 9 and m["exec.cpu_ms"] == 3.0 and m["exec.gc_ms"] == 1
    assert m["shuffle.write_mb"] == 1.0 and m["shuffle.read_mb"] == 1.0
    assert m["python.query_ms"] == 7


def test_runner_refuses_a_directory_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
