"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import eventlog, run  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- event log ---------------------------------------------------------------

def test_event_log_fixture_groups():
    """The fixture was recorded from a local[2] session that ran, under job
    group ``g:build``, one count over 2 partitions and, under ``g:exec``,
    a grouped aggregation of a pandas UDF's output over 3 partitions
    (a shuffle map stage and a 2-partition reduce stage, same job)."""
    groups = eventlog.parse_event_log(FIXTURE)
    build, ex = groups["g:build"], groups["g:exec"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 2)
    assert ex["jobs"] >= 1 and ex["stages"] == 2
    assert ex["tasks"] == 3 + 2
    assert ex["shuffle_write_bytes"] > 0 and ex["shuffle_read_bytes"] > 0
    assert ex["python_bytes_sent"] > 0 and ex["python_bytes_received"] > 0
    assert 0 < ex["python_run_s"] < 60
    assert build["python_run_s"] == 0
    assert ex["task_s"] > 0 and ex["cpu_s"] > 0


def test_event_log_counts_are_disjoint_across_groups():
    groups = eventlog.parse_event_log(FIXTURE)
    merged = eventlog.merge_groups(groups, ["g:build", "g:exec", "absent"])
    assert merged["tasks"] == groups["g:build"]["tasks"] + groups["g:exec"]["tasks"]


def _task_end(stage, acc_id, name, update):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": acc_id, "Name": name, "Update": update}]},
        "Task Metrics": {"Executor Run Time": 1500, "Shuffle Read Metrics": {
            "Remote Bytes Read": 10, "Local Bytes Read": 5}},
    })


def test_event_log_sql_metric_units_follow_plan_metric_type():
    plan = {"metrics": [{"accumulatorId": 7, "metricType": "nsTiming"}],
            "children": [{"metrics": [{"accumulatorId": 8, "metricType": "timing"},
                                      {"accumulatorId": 9, "metricType": "size"}],
                          "children": []}]}
    lines = [
        json.dumps({"Event": "SparkListenerJobStart",
                    "Properties": {"spark.jobGroup.id": "a"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 3},
                    "Properties": {"spark.jobGroup.id": "a"}}),
        _task_end(3, 7, "time to run Python workers", 2_000_000_000),
        _task_end(3, 8, "time to start Python workers", 250),
        _task_end(9, 9, "data sent to Python workers", 4),  # stage of no group
        _task_end(9, 10, "time to run Python workers", 500),  # no plan: ms
        # The plan may arrive after the tasks (adaptive re-planning).
        json.dumps({"Event": eventlog._SQL_START, "sparkPlanInfo": plan}),
    ]
    groups = eventlog.parse_events(lines)
    a = groups["a"]
    assert a["python_run_s"] == pytest.approx(2.0)
    assert a["python_boot_s"] == pytest.approx(0.25)
    assert a["tasks"] == 2 and a["task_s"] == pytest.approx(3.0)
    assert a["shuffle_read_bytes"] == 30
    assert groups[""]["python_bytes_sent"] == 4
    assert groups[""]["python_run_s"] == pytest.approx(0.5)


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_nested_and_overlapping_children():
    spans = [
        Span(0, None, "op", "p1", 0.0, 10.0),
        Span(1, 0, "a", "p1", 1.0, 4.0),
        Span(2, 0, "b", "p1", 3.0, 5.0),    # overlaps a
        Span(3, 0, "c", "p1", 6.0, 7.0),
        Span(4, 3, "c.child", "p1", 6.0, 6.5),  # nested in c
        Span(5, 0, "d", "p1", 9.5, 12.0),   # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1 + 0.5))
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(2.5)


def test_self_time_of_leaf_and_contained_children():
    spans = [
        Span(0, None, "op", "p1", 0.0, 4.0),
        Span(1, 0, "a", "p1", 0.0, 4.0),
        Span(2, 0, "b", "p1", 1.0, 2.0),  # inside a
    ]
    assert self_times(spans)[0] == pytest.approx(0.0)


def test_wrappers_reach_names_imported_by_name_and_restore():
    home = types.ModuleType("reddit_hn_etl_spark._pb_home")
    user = types.ModuleType("reddit_hn_etl_spark._pb_user")

    def op(x):
        return x + 1

    op.__module__ = home.__name__
    home.op = op
    user.op_alias = op  # as ``from home import op as op_alias``
    user.table = {"op": op}  # not reached: a reference in a dict
    sys.modules[home.__name__] = home
    sys.modules[user.__name__] = user
    try:
        tracer = Tracer()
        tracer.wrap_functions({"operators.home.op": op})
        tracer.enabled = True
        assert home.op(1) == 2 and user.op_alias(2) == 3
        assert user.table["op"] is op
        assert [s.name for s in tracer.spans] == ["operators.home.op"] * 2
        tracer.restore()
        assert home.op is op and user.op_alias is op
    finally:
        del sys.modules[home.__name__], sys.modules[user.__name__]


# -- metric names and BENCHMARK.json -----------------------------------------

def test_metric_names_and_units_are_valid():
    spec = _bench_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert UNIT_RE.fullmatch(m["unit"]), m["unit"]
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert len(spec["per_layer"]) <= 128


def test_benchmark_json_matches_emitted_metrics():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_traced_run_emits_every_per_layer_metric(tmp_path, monkeypatch):
    """Layer metrics computed from recorded ops, spans and the fixture
    event log cover BENCHMARK.json's per-layer list exactly."""
    monkeypatch.setattr(run, "WORK_DIR", str(tmp_path / "work"))
    (tmp_path / "events").mkdir()
    (tmp_path / "events" / "app").write_text(open(FIXTURE).read())
    bench = run.Bench(run.WORKLOADS["iterative"], 7, 1.0, True, str(tmp_path))
    bench.session_start_s = [0.5]
    bench._untraced = []
    bench.ops = [
        {"pass": p, "name": "customer_golden_records", "op": f"p{p}.q",
         "ok": True, "build_s": 2.0, "exec_s": 0.5}
        for p in range(5)
    ]
    tracer = bench.tracer
    tracer.enabled = True
    for p in range(5):
        with tracer.phase(types.SimpleNamespace(sparkContext=_FakeContext()),
                          f"p{p}.q", "build"):
            with tracer.span("operators.graph.connected_components"):
                pass
    # Cold (traced), warm-up, then warm passes untraced, traced, untraced.
    values = bench._layer_metrics(
        [9.0, 4.0, 3.0, 3.3, 3.1], [True, False, False, True, False]
    )
    spec = _bench_json()
    assert set(values) == {m["name"] for m in spec["per_layer"]}
    assert values["plans.build_s"] == pytest.approx(2.0)
    assert values["operators.graph.calls"] == 1
    assert values["trace.overhead_frac"] == pytest.approx(3.3 / 3.05 - 1)
    assert (tmp_path / "work" / "spans" / "iterative-seed7.jsonl").is_file()


class _FakeContext:
    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass


def test_result_line_carries_every_metric_with_its_unit():
    units = run.per_layer_units()
    line = json.loads(run.result_line(True, 3, 0, dict.fromkeys(units, 1.5), units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}
    with pytest.raises(ValueError):
        run.result_line(True, 1, 0, {"setup_s": 1.0}, run.END_TO_END)


def test_passes_skip_warmup_and_alternate_tracing(tmp_path, monkeypatch):
    """A traced iterative run: the cold pass traced, one warm-up pass,
    then four warm passes alternating untraced and traced."""
    bench = run.Bench(run.WORKLOADS["iterative"], 1, 0.0, True, str(tmp_path))
    monkeypatch.setattr(bench, "run_pass", float)
    times, traced = bench.passes()
    assert bench.first_warm == 2
    assert times == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    assert traced == [True, False, False, True, False, True]


def test_warm_passes_disturbed_by_steal_are_replaced(tmp_path, monkeypatch):
    """Two of the four warm passes of an iterative run lose time to the
    hypervisor: two extra passes are run and the median skips them."""
    bench = run.Bench(run.WORKLOADS["iterative"], 1, 0.0, False, str(tmp_path))
    shares = iter([0.0, 0.0, 0.10, 0.0, 0.05, 0.0, 0.0, 0.0])

    def fake_pass(p):
        bench.steal_share.append(next(shares))
        return float(p)

    monkeypatch.setattr(bench, "run_pass", fake_pass)
    times, _ = bench.passes()
    assert times == [float(p) for p in range(8)]
    assert bench.warm_pass_s(times) == 5.5  # passes 3, 5, 6 and 7
