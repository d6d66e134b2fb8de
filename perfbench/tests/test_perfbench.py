"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke tests run the real command at a tiny scale (a few hundred pages per
workload) and take several minutes; the rest are pure Python and fast.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import call_problems  # noqa: E402
from tracing import Tracer, job_counters, nesting_errors  # noqa: E402
from truth import FAMILY_OUTCOME, compare, expected_counts  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
FAMILIES = {"http_server_method": 50, "grpc_server": 20, "db_query": 10, "preset_opname": 5,
            "unmatched": 15}


def correct_observation(exp: dict) -> dict:
    return {"rows": exp["rows"], "sinks": dict(exp["sinks"]), "rules": dict(exp["rules"]),
            "metric_sinks": dict(exp["sinks"]), "metric_rules": dict(exp["rules"]),
            "url_mismatches": 0}


def test_outcome_table_covers_every_generated_family():
    from otel_semconvprocessor_spark.sources.pages import FAMILIES as generated

    assert {name for name, _, _ in generated} == set(FAMILY_OUTCOME)


def test_expected_counts_follow_the_family_table():
    exp = expected_counts(FAMILIES)
    assert exp["rows"] == 100
    assert exp["sinks"] == {"sink_http": 50, "sink_grpc": 20, "sink_db": 10, "sink_other": 20}
    assert exp["rules"] == {"http_server_method_only": 50, "grpc_server_operations": 20,
                            "database_queries": 10}


def test_output_check_accepts_the_right_output():
    exp = expected_counts(FAMILIES)
    assert compare(exp, correct_observation(exp)) == []


@pytest.mark.parametrize(
    "wrong",
    [
        lambda e: e.update(rows=e["rows"] + 1),
        lambda e: e["sinks"].update(sink_http=49, sink_other=21),
        lambda e: e["rules"].update(database_queries=9),
        lambda e: e["rules"].pop("grpc_server_operations"),
    ],
)
def test_output_check_rejects_a_wrong_expectation(wrong):
    exp = expected_counts(FAMILIES)
    observed = correct_observation(exp)
    wrong(exp)
    assert compare(exp, observed)


def test_output_check_rejects_urls_not_routed_once():
    exp = expected_counts(FAMILIES)
    assert compare(exp, dict(correct_observation(exp), url_mismatches=3))


def test_a_failed_call_counts_once():
    exp = expected_counts(FAMILIES)
    calls = [{"ok": True, "rows": 100}, {"ok": False, "error": "boom"}, {"ok": True, "rows": 99}]
    problems = call_problems(calls, exp, correct_observation(exp))
    assert [bool(p) for p in problems] == [False, True, True]


def test_spans_nest():
    tr = Tracer("r")
    with tr.span("run"):
        with tr.span("call"):
            with tr.span("inner"):
                pass
        with tr.span("call"):
            pass
    assert nesting_errors(tr.spans) == []
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert {s["run_id"] for s in tr.spans} == {"r"}


def test_nesting_check_catches_a_child_outside_its_parent():
    tr = Tracer("r")
    with tr.span("run"):
        with tr.span("call"):
            pass
    tr.spans[1]["end"] = tr.spans[0]["end"] + 1.0
    assert nesting_errors(tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("run"):
        pass
    assert tr.spans == []


def test_job_counters_attribute_tasks_by_job_description(tmp_path):
    def task(stage, run_ms, gc_ms=0, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Shuffle Read Metrics": {"Fetch Wait Time": 0}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "route.write"}},
        task(0, 1000, shuffle=10), task(1, 1000), task(1, 1000), task(1, 3000, gc_ms=500),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "metrics"}},
        task(2, 500),
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events))
    c = job_counters(log)
    assert c["route.write"]["task_s"] == 6.0
    assert c["route.write"]["gc_s"] == 0.5
    assert c["route.write"]["shuffle_write_bytes"] == 10
    assert c["route.write"]["task_skew"] == 3.0
    assert c["metrics"]["task_s"] == 0.5 and c["metrics"]["jobs"] == 1


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_reports_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                            "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    names = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in names} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if trace:
        spans = json.loads(sorted((ROOT / ".perfbench" / "traces").glob(
            f"{workload}-s1-t1-*.json"))[-1].read_text())
        assert spans and nesting_errors(spans) == []
