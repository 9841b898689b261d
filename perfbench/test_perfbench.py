"""Self-tests of the benchmark runner.

    python3 -m pytest perfbench -q

The unit tests need no Spark. The smoke tests run each workload end to end
(about two minutes each) and check the printed result against
BENCHMARK.json.
"""
from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from tracing import Span, Tracer, fold_event_log, tail, union_length  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- BENCHMARK.json ----------------------------------------------------------
def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [w["name"] for w in BENCH["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in BENCH[group]]
        for m in BENCH[group]:
            assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


# -- spans -------------------------------------------------------------------
def test_self_time_subtracts_covered_part_once():
    t = Tracer()
    t.spans = [
        Span(0, "op", None, "x", 0.0, 10.0),
        Span(1, "build", 0, "x", 1.0, 4.0),
        Span(2, "exec", 0, "x", 3.0, 6.0),  # overlaps build by 1 s
        Span(3, "exec", 0, "x", 9.0, 12.0),  # runs past the parent's end
        Span(4, "inner", 1, "x", 1.5, 2.0),  # grandchild: not the op's child
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - (5.0 + 1.0))
    assert t.self_time(t.spans[1]) == pytest.approx(2.5)
    assert t.self_time(t.spans[2]) == pytest.approx(3.0)


def test_spans_nest_and_record_parents():
    t = Tracer()
    run = t.open("run")
    p = t.open("pass")
    op = t.open("op", "q")
    b = t.open("build", "q")
    t.close(b)
    t.close(op)
    t.close(p)
    t.close(run)
    assert [s.parent for s in t.spans] == [None, run.id, p.id, op.id]
    assert all(s.end >= s.start for s in t.spans)
    with pytest.raises(AssertionError):
        t2 = Tracer()
        outer = t2.open("run")
        t2.open("pass")
        t2.close(outer)


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)


# -- tail percentile ---------------------------------------------------------
@pytest.mark.parametrize("n", [21, 30, 100, 1000])
def test_tail_has_ten_beyond_and_is_highest(n):
    xs = [float(i) for i in range(n)][::-1]
    value, pct, beyond = tail(xs)
    assert beyond == 10 == sum(1 for x in xs if x > value)
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # the next higher sample has only nine beyond it
    assert sum(1 for x in xs if x > value + 1) == 9


@pytest.mark.parametrize("n", [1, 4, 6, 14, 20])
def test_tail_never_reads_below_the_median(n):
    xs = [float(i) for i in range(n)]
    value, pct, beyond = tail(xs)
    assert value >= sorted(xs)[(n - 1) // 2] and pct >= 50.0
    assert beyond == sum(1 for x in xs if x > value)


# -- event log ---------------------------------------------------------------
def _events():
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 7},
            {"name": "data returned from Python workers", "accumulatorId": 8},
        ],
        "children": [],
    }

    def task(stage, ms, run_ms):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms, "Accumulables": [
                {"ID": 7, "Update": 1048576}, {"ID": 8, "Update": 2097152},
            ]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**9,
                             "JVM GC Time": 0, "Input Metrics": {"Bytes Read": 1048576}},
        }

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
         "Properties": {"spark.jobGroup.id": "w:1:q:build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(1, 100, 100), task(1, 100, 100), task(1, 400, 400),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # no job group (a streaming micro-batch): located by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage Infos": [{"Stage ID": 2}], "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        task(2, 50, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    ]


def test_fold_event_log_attributes_jobs_and_counts():
    windows = [(0.5, 2.0, (1, "q", "build")), (2.0, 3.0, (1, "q", "exec"))]
    out = fold_event_log((json.dumps(e) for e in _events()), "w", windows)
    build, exec_ = out[(1, "q", "build")], out[(1, "q", "exec")]
    assert build["jobs"] == 1 and exec_["jobs"] == 1
    assert build["stages"] == 1 and build["stages_in_jobs"] == 2 and build["stages_skipped"] == 1
    assert build["tasks"] == 3 and build["executor_run_s"] == pytest.approx(0.6)
    assert build["executor_cpu_s"] == pytest.approx(3.0)
    assert build["input_mb"] == pytest.approx(3.0)
    assert build["arrow_to_python_mb"] == pytest.approx(3.0)
    assert build["arrow_from_python_mb"] == pytest.approx(6.0)
    assert build["task_skew"] == pytest.approx(4.0)
    assert build["job_intervals"] == [(1.0, 1.5)]


# -- end to end --------------------------------------------------------------
def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=400, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_names(result: dict, group: str) -> None:
    declared = {m["name"]: m["unit"] for m in BENCH[group]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_traced(workload):
    r = _run(workload, 1)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    _check_names(r, "per_layer")
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["failed_ratio"] == 0.0 and m["trace.overhead_ratio"] > 0
    assert m["queries.build_s"] > 0 and m["queries.exec_s"] > 0
    if workload == "driver_loops":
        assert m["queries.build_s"] > m["queries.exec_s"]
        assert m["streaming.batches"] >= 1
        assert m["op.embed_mmr.exec_s"] > 0 and m["op.doc_bm25.exec_s"] > 0
    else:
        assert m["queries.exec_s"] > m["queries.build_s"]
        assert m["io.written_mb"] > 0 and m["arrow.to_python_mb"] > 0


def test_smoke_untraced():
    r = _run(BENCH["workloads"][0]["name"], 0)
    assert r["correct"] and r["failed"] == 0
    _check_names(r, "end_to_end")
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", BENCH["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )
    assert out.returncode != 0 and not out.stdout.strip()
