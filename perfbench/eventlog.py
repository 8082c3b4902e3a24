"""Sum a Spark event log per job group.

The log must be uncompressed JSON lines (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``). Jobs are assigned to a group by
the ``spark.jobGroup.id`` property of their ``SparkListenerJobStart``;
stages by the same property on ``SparkListenerStageSubmitted`` (a stage
runs once even when later jobs list it again); tasks by their stage.
Python SQL metrics are taken from each task's accumulator updates, with
the unit read from the plan's ``metricType``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from collections.abc import Iterable

GROUP_PROP = "spark.jobGroup.id"

# (Task Metrics key path, counter name, scale to the counter's unit)
TASK_METRICS = (
    (("Executor Run Time",), "task_s", 1e-3),
    (("Executor CPU Time",), "cpu_s", 1e-9),
    (("JVM GC Time",), "gc_s", 1e-3),
    (("Shuffle Read Metrics", "Remote Bytes Read"), "shuffle_read_bytes", 1),
    (("Shuffle Read Metrics", "Local Bytes Read"), "shuffle_read_bytes", 1),
    (("Shuffle Write Metrics", "Shuffle Bytes Written"), "shuffle_write_bytes", 1),
    (("Disk Bytes Spilled",), "spill_bytes", 1),
    (("Input Metrics", "Bytes Read"), "input_bytes", 1),
    (("Output Metrics", "Bytes Written"), "output_bytes", 1),
)

# Spark's PythonSQLMetrics display names -> counter names.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

# SQLMetric.metricType -> scale to seconds (sizes and sums stay as-is).
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

COUNTERS = tuple(dict.fromkeys(
    ["jobs", "stages", "tasks"]
    + [name for _, name, _ in TASK_METRICS]
    + list(PYTHON_SQL_METRICS.values())
))

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_SQL_AQE_METRICS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
)


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", ()):
        _plan_metric_types(child, out)


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key) if isinstance(d, dict) else None
        if d is None:
            return 0
    return d


def parse_events(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Return ``{job group: {counter: total}}`` over every event line.

    Jobs, stages and tasks without a job group are summed under ``""``.
    """
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0)
    )
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    # Task accumulator updates are kept until the plan that names their
    # metric type has been seen; AQE plans can arrive after the tasks.
    pending: list[tuple[str, str, int, float]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP, "")
            totals[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_PROP, "")
            stage_group[ev["Stage Info"]["Stage ID"]] = group
            totals[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            t = totals[group]
            t["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for path, name, scale in TASK_METRICS:
                t[name] += _dig(metrics, path) * scale
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = PYTHON_SQL_METRICS.get(acc.get("Name"))
                if name is not None and "Update" in acc:
                    pending.append((group, name, acc["ID"], float(acc["Update"])))
        elif kind in (_SQL_START, _SQL_AQE_UPDATE):
            _plan_metric_types(ev["sparkPlanInfo"], metric_type)
        elif kind == _SQL_AQE_METRICS:
            for m in ev.get("sqlPlanMetrics", ()):
                metric_type[m["accumulatorId"]] = m["metricType"]
    for group, name, acc_id, value in pending:
        # PythonSQLMetrics times are millisecond "timing" metrics.
        default = "timing" if name.endswith("_s") else "size"
        scale = _TIME_SCALE.get(metric_type.get(acc_id, default), 1)
        totals[group][name] += value * scale
    return dict(totals)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as fh:
        return parse_events(fh)


def parse_event_dir(path: str) -> dict[str, dict[str, float]]:
    """Parse every event log file in ``path`` (one per SparkContext)."""
    totals: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(path)):
        for group, counters in parse_event_log(os.path.join(path, name)).items():
            into = totals.setdefault(group, dict.fromkeys(COUNTERS, 0))
            for k, v in counters.items():
                into[k] += v
    return totals


def merge_groups(
    totals: dict[str, dict[str, float]], groups: Iterable[str]
) -> dict[str, float]:
    """Sum the counters of the named groups (missing groups count 0)."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for g in groups:
        for k, v in totals.get(g, {}).items():
            out[k] += v
    return out
