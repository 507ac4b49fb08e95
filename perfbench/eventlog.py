"""Parser for an uncompressed, non-rolling Spark event log.

Jobs are attributed to benchmark spans through the ``perfbench.span``
local property that :class:`perfbench.tracing.Tracer` sets; stages and
tasks inherit their job's span.  SQL metrics (Python boundary, scan,
write command) are named through the plan infos of every SQL execution
and adaptive re-plan.  Task-side values come from the accumulables of
each completed stage (the increment since the accumulator was last
reported, so a node that runs in several stages is not counted twice);
driver-side values (file listing, job commit) from the driver updates of
accumulators no stage reports.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from perfbench.tracing import SPAN_PROPERTY

_SQL_EVENT = "org.apache.spark.sql.execution.ui."


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> span id
    tasks: list = field(default_factory=list)  # one dict per finished task
    sql: list = field(default_factory=list)  # (span, node, metric, kind, value)
    untagged_jobs: int = 0


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for c in info.get("children", []):
        _walk_plan(c, out)


def _span_of(props: dict):
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


def parse(path: str) -> EventLog:
    log = EventLog()
    accum_meta: dict = {}  # accumulator id -> (node, metric, kind)
    stage_span: dict = {}
    exec_span: dict = {}
    stage_values: list = []  # (stage id, accumulator id, cumulative value)
    driver_updates: list = []  # (execution id, accumulator id, value)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = _span_of(props)
                if span is None:
                    log.untagged_jobs += 1
                log.jobs[e["Job ID"]] = span
                for sid in e.get("Stage IDs", []):
                    stage_span.setdefault(sid, span)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_span.setdefault(int(ex), span)
            elif kind == "SparkListenerTaskEnd":
                info = e.get("Task Info", {})
                tm = e.get("Task Metrics") or {}
                span = stage_span.get(e["Stage ID"])
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                log.tasks.append(
                    {
                        "span": span,
                        "stage": e["Stage ID"],
                        "failed": bool(info.get("Failed")),
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                for a in info.get("Accumulables", []):
                    try:
                        stage_values.append((info["Stage ID"], a["ID"], float(a["Value"])))
                    except (KeyError, TypeError, ValueError):
                        continue
            elif kind in (_SQL_EVENT + "SparkListenerSQLExecutionStart",
                          _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], accum_meta)
            elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e.get("sqlPlanMetrics", []):
                    accum_meta.setdefault(m["accumulatorId"], ("", m["name"], m["metricType"]))
            elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
                for aid, value in e.get("accumUpdates", []):
                    driver_updates.append((e["executionId"], aid, value))
    updates = []  # (span, accumulator id, value)
    last: dict = {}
    for stage, aid, value in stage_values:
        if aid in accum_meta:
            updates.append((stage_span.get(stage), aid, value - last.get(aid, 0.0)))
            last[aid] = value
    for ex, aid, value in driver_updates:
        if aid not in last:
            updates.append((exec_span.get(ex), aid, value))
    for span, aid, value in updates:
        meta = accum_meta.get(aid)
        if meta is not None:
            log.sql.append((span,) + meta + (value,))
    return log


def _unit(kind: str, value: float) -> float:
    """SQL metric value in seconds (timings) or raw units (sizes, sums)."""
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


def sql_total(log: EventLog, spans: set, node_prefixes: tuple, metric: str) -> float:
    return sum(
        _unit(kind, v)
        for span, node, name, kind, v in log.sql
        if span in spans and name == metric and node.startswith(node_prefixes)
    )


def task_totals(log: EventLog, spans: set) -> dict:
    ts = [t for t in log.tasks if t["span"] in spans]
    return {
        "tasks": len(ts),
        "task_s": sum(t["run_ms"] for t in ts) / 1e3,
        "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / 2**20,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / 2**20,
        "spill_mb": sum(t["spill"] for t in ts) / 2**20,
    }


def task_skew(log: EventLog, spans: set) -> float:
    """Max over median task run time in the widest stage (most tasks)."""
    by_stage: dict = {}
    for t in log.tasks:
        if t["span"] in spans and not t["failed"]:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def job_count(log: EventLog, spans: set) -> int:
    return sum(1 for span in log.jobs.values() if span in spans)
