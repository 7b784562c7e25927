"""Per-job-group totals from an uncompressed Spark event log.

Every traced operation runs under its own job group.  Tasks are
attributed to a group through the stage that ran them (stage
submissions carry the job group property); SQL metrics that Spark
updates outside tasks (for example a scan's "number of files read") are
attributed through the SQL execution id that the group's jobs carry.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def group_totals(log_path: str) -> dict[str, dict[str, float]]:
    """{job group: {metric: total}} over one application's event log.

    Metrics: `executor_cpu_s`, `shuffle_write_bytes`, plus every named
    SQL metric (from tasks and from outside them) under `sql:<name>`.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_name: dict[int, str] = {}
    accum_updates: list[tuple[int, int, float]] = []
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                t = totals[group]
                m = ev.get("Task Metrics") or {}
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Metadata") == "sql" and "Name" in acc:
                        t["sql:" + acc["Name"]] += _num(acc.get("Update"))
            elif kind in (
                _SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, metric_name)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev.get("sqlPlanMetrics", ()):
                    metric_name[m["accumulatorId"]] = m["name"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev.get("accumUpdates", ()):
                    accum_updates.append((ev["executionId"], acc_id, _num(value)))
    for eid, acc_id, value in accum_updates:
        group = exec_group.get(eid)
        name = metric_name.get(acc_id)
        if group is not None and name is not None:
            totals[group]["sql:" + name] += value
    return {g: dict(m) for g, m in totals.items()}


def find_log(log_dir: str) -> str:
    """The single application log in `log_dir` (after the context stopped)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
