"""Per-layer attribution from benchmark-side spans and the Spark event log.

Every traced invocation records four spans from the benchmark's own code:

- ``build``: the registered ``fn(spark, sf_dir)`` (construction),
- ``optimize``: ``queryExecution().optimizedPlan()``,
- ``plan``: ``queryExecution().executedPlan()``,
- ``fetch``: ``toPandas()``,

each under its own job group ``<invocation>:<span>``. The uncompressed
event log then gives, per job group, the wall-clock intervals of its jobs
and the executor metrics of its tasks. A span's self time is its duration
minus the part its jobs cover, so the layers partition the traced wall
time: construction self + Catalyst + job wall + between-job gaps + fetch
self + residual (harness time outside every span).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

SPANS = ("build", "optimize", "plan", "fetch")
_MB = 1 << 20
_PY_TOTAL = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_ROWS = "number of output rows"


@dataclass
class GroupStats:
    jobs: list[list[float]] = field(default_factory=list)  # [start_s, end_s]
    stages: int = 0
    tasks: int = 0
    retries: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    deser_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    py_total_s: float = 0.0
    py_boot_s: float = 0.0
    py_rows: float = 0.0


def _python_metric_ids(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Collect accumulator ids of Python-worker SQL metrics in a plan tree.

    Python exec nodes are recognised by carrying the Python timing metric;
    their generic "number of output rows" is then the rows Python returned.
    """
    metrics = plan.get("metrics", [])
    if any(m["name"] == _PY_TOTAL for m in metrics):
        for m in metrics:
            if m["name"] in (_PY_TOTAL, _PY_BOOT, _PY_ROWS):
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m["metricType"], 1.0)
                out[m["accumulatorId"]] = (m["name"], scale)
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Aggregate one application's event log by job group."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    events = []
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            events.append(json.loads(line))
    py_ids: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    job_span: dict[int, list[float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _python_metric_ids(ev["sparkPlanInfo"], py_ids)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            span = [ev["Submission Time"] / 1e3, None]
            job_span[ev["Job ID"]] = span
            out[group].jobs.append(span)
        elif kind == "SparkListenerJobEnd":
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            out[stage_group.get(ev["Stage Info"]["Stage ID"], "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev["Stage ID"], "")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                g.retries += 1
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.deser_ms += m.get("Executor Deserialize Time", 0)
            g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                hit = py_ids.get(acc.get("ID"))
                if hit is None or acc.get("Update") is None:
                    continue
                metric, scale = hit
                value = float(acc["Update"]) * scale
                if metric == _PY_TOTAL:
                    g.py_total_s += value
                elif metric == _PY_BOOT:
                    g.py_boot_s += value
                else:
                    g.py_rows += value
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clipped(jobs, lo: float, hi: float) -> list[tuple[float, float]]:
    out = []
    for a, b in jobs:
        b = hi if b is None else b
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def invocation_layers(inv: dict, groups: dict[str, GroupStats]) -> dict[str, float]:
    """Self times (s) of one invocation's layers; they sum to its span total."""
    sp = inv["spans"]
    lay: dict[str, float] = {"gap": 0.0}
    job_wall = 0.0
    for name in SPANS:
        if name not in sp:  # the invocation raised before this span
            lay[name] = 0.0
            continue
        lo, hi = sp[name]
        g = groups.get(f"{inv['group']}:{name}")
        jobs = _clipped(g.jobs if g else [], lo, hi)
        covered = _union(jobs)
        job_wall += covered
        gap = 0.0
        if name == "fetch" and jobs:
            first = min(a for a, _ in jobs)
            last = max(b for _, b in jobs)
            gap = (last - first) - covered
        lay[name] = (hi - lo) - covered - gap
        lay["gap"] += gap
    lay["job_wall"] = job_wall
    return lay


def layer_metrics(invocations: list[dict], groups: dict[str, GroupStats],
                  n_passes: int) -> dict[str, float]:
    """Per-layer metrics, as means per traced warm pass."""
    acc: dict[str, float] = defaultdict(float)
    for inv in invocations:
        lay = invocation_layers(inv, groups)
        acc["construct.wall_s"] += lay["build"]
        acc["catalyst.optimize_s"] += lay["optimize"]
        acc["catalyst.plan_s"] += lay["plan"]
        acc["exec.job_wall_s"] += lay["job_wall"]
        acc["exec.gap_s"] += lay["gap"]
        acc["fetch.wall_s"] += lay["fetch"]
        acc["construct.py4j_calls"] += inv["py4j_calls"]
        acc["fetch.rows"] += inv["rows"]
        acc["fetch.mb"] += inv["frame_mb"]
        build = groups.get(f"{inv['group']}:build")
        acc["construct.jobs"] += len(build.jobs) if build else 0
        for name in SPANS:
            g = groups.get(f"{inv['group']}:{name}")
            if g is None:
                continue
            acc["exec.jobs"] += len(g.jobs)
            acc["exec.stages"] += g.stages
            acc["exec.tasks"] += g.tasks
            acc["exec.task_retries"] += g.retries
            acc["exec.run_s"] += g.run_ms / 1e3
            acc["exec.cpu_s"] += g.cpu_ns / 1e9
            acc["exec.gc_s"] += g.gc_ms / 1e3
            acc["exec.deser_s"] += g.deser_ms / 1e3
            acc["exec.shuffle_write_mb"] += g.shuffle_write / _MB
            acc["exec.shuffle_read_mb"] += g.shuffle_read / _MB
            acc["exec.spill_mb"] += g.spill / _MB
            acc["exec.input_mb"] += g.input_bytes / _MB
            acc["sources.output_mb"] += g.output_bytes / _MB
            acc["pyworker.total_s"] += g.py_total_s
            acc["pyworker.boot_s"] += g.py_boot_s
            acc["pyworker.rows"] += g.py_rows
    return {k: v / n_passes for k, v in acc.items()}
