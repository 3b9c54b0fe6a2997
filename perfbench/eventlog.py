"""Spark event-log parser for the traced run.

Reads the uncompressed, non-rolling JSON-lines event log Spark writes
with ``spark.eventLog.enabled`` and attributes engine counters to the
benchmark's step spans (the ``perfbench.step`` local property the
worker sets on every job).  Also sums the task-level SQL metrics of
the Python plan nodes: the Porter-stemmer pandas UDF
(``ArrowEvalPython``) is the pipeline's only Python stage.  Its metrics
are the accumulators the SQL plan events list under an
``ArrowEvalPython`` node (the plan of a persisted query includes its
cached plan, so those nodes are reported too).
"""

from __future__ import annotations

import json
import os
import statistics

PYTHON_NODE = "ArrowEvalPython"
# the node's SQL metrics -> (summary key, scale to the reported unit)
PYTHON_METRICS = {
    "number of output rows": ("stem_udf_rows", 1),
    "time to run Python workers": ("stem_udf_s", 1e-3),
    "time to start Python workers": ("py_worker_start_s", 1e-3),
    "time to initialize Python workers": ("py_worker_init_s", 1e-3),
}


def read_events(log_dir: str) -> list[dict]:
    """All events of every log file in ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        if not name.startswith("."):
            with open(os.path.join(log_dir, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def python_accumulators(events: list[dict]) -> dict[int, str]:
    """Accumulator id -> metric name, for every SQL metric of every
    Python plan node in the plans the log reports."""
    out: dict[int, str] = {}
    todo = [ev["sparkPlanInfo"] for ev in events if "sparkPlanInfo" in ev]
    while todo:
        node = todo.pop()
        if node["nodeName"].startswith(PYTHON_NODE):
            for m in node.get("metrics", []):
                if m["name"] in PYTHON_METRICS:
                    out[m["accumulatorId"]] = m["name"]
        todo.extend(node.get("children", []))
    return out


def summarise(log_dir: str, steps: dict[str, dict]) -> dict:
    """Engine counters per step span plus Python-UDF totals.

    ``steps`` maps step name -> {"start": epoch s, "end": epoch s}.
    Returns {"steps": {step: {counter: value}}, "python": {key: value}}.
    """
    events = read_events(log_dir)
    python_ids = python_accumulators(events)
    stage_step: dict[int, str | None] = {}
    tasks = []  # (step, stage, launch s, finish s, run s, gc s, shuffle B, spill B)
    jobs: dict[str, int] = {}
    python = {key: 0 for key, _ in PYTHON_METRICS.values()}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            step = (ev.get("Properties") or {}).get("perfbench.step")
            for sid in ev.get("Stage IDs", []):
                stage_step[sid] = step
            if step:
                jobs[step] = jobs.get(step, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tasks.append((
                stage_step.get(ev["Stage ID"]),
                ev["Stage ID"],
                info["Launch Time"] / 1e3,
                info["Finish Time"] / 1e3,
                metrics.get("Executor Run Time", 0) / 1e3,
                metrics.get("JVM GC Time", 0) / 1e3,
                shuffle,
                metrics.get("Disk Bytes Spilled", 0),
            ))
            for acc in info.get("Accumulables", []):
                name = python_ids.get(acc["ID"])
                if name is not None:
                    key, scale = PYTHON_METRICS[name]
                    python[key] += float(acc.get("Update") or 0) * scale

    intervals = [(t[2], t[3]) for t in tasks]
    out = {}
    for step, span in steps.items():
        mine = [t for t in tasks if t[0] == step]
        by_stage: dict[int, list[float]] = {}
        for t in mine:
            by_stage.setdefault(t[1], []).append(t[4])
        widest = max(by_stage.values(), key=len, default=[])
        median = statistics.median(widest) if widest else 0.0
        wall = span["end"] - span["start"]
        out[step] = {
            "jobs": jobs.get(step, 0),
            "tasks": len(mine),
            "task_s": sum(t[4] for t in mine),
            "gc_s": sum(t[5] for t in mine),
            "shuffle_write_mb": sum(t[6] for t in mine) / 2**20,
            "spill_mb": sum(t[7] for t in mine) / 2**20,
            "driver_s": wall - _covered(intervals, span["start"], span["end"]),
            "task_skew": max(widest) / median if median > 0 else 1.0 if widest else 0.0,
        }
    return {"steps": out, "python": python}
