"""Layer probes read from outside the engine: Spark storage, physical-plan
shape, and the Spark event log of a traced run.

Every query of the timed loop runs under the job group ``pb-<n>`` and sets
the local property ``perfbench.phase`` (catalog, plan, construct, exec) before
each layer call; Spark copies both into every job it starts, so the event log
attributes jobs, stages and tasks to a layer.  Jobs without a ``pb-`` group
were started on a thread the benchmark did not label (for instance an engine
thread pool) and count as unattributed.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter, defaultdict

PHASE_PROP = "perfbench.phase"
GROUP_PREFIX = "pb-"

# a tree-string line: branch glyphs, an optional codegen stage id, the node
_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?(\w+)")


def storage(spark) -> tuple[int, float]:
    """(cached blocks, memory + disk MB) over every persisted or
    checkpointed RDD of the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    blocks = sum(i.numCachedPartitions() for i in infos)
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return blocks, size / 1e6


def plan_shape(plan: str) -> dict[str, int]:
    """Shuffle exchanges, scans and broadcast joins in a physical plan's
    tree string (a reused exchange is not a new shuffle)."""
    nodes = [m.group(1) for m in map(_NODE.match, plan.splitlines()) if m]
    return {
        "plan.exchanges": nodes.count("Exchange"),
        "plan.scans": sum(n.endswith("Scan") for n in nodes),
        "plan.broadcast_joins": sum(
            n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for n in nodes
        ),
    }


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``:
    a single file, or the ``events_<n>_*`` parts of a rolling (v2) log."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    parts = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [p for p in paths if os.path.isfile(p)]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(paths: list[str], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Per-phase job, stage and task counts plus task metrics of the jobs
    submitted in ``[t0_ms, t1_ms]`` (epoch milliseconds)."""
    stage_phase: dict[int, str] = {}
    jobs: Counter[str] = Counter()
    stages: dict[str, set[int]] = defaultdict(set)
    tasks: Counter[str] = Counter()
    sums: Counter[str] = Counter()
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if not t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                continue
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if group.startswith(GROUP_PREFIX):
                phase = props.get(PHASE_PROP) or "unlabelled"
            else:
                phase = "unattributed"
            jobs[phase] += 1
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(ev.get("Stage ID"))
            if phase is None:
                continue
            stages[phase].add(ev["Stage ID"])
            tasks[phase] += 1
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            write = m.get("Shuffle Write Metrics") or {}
            sums["executor_run_ms"] += m.get("Executor Run Time", 0)
            sums["shuffle_read"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            sums["shuffle_write"] += write.get("Shuffle Bytes Written", 0)
            sums["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return {
        "jobs": dict(jobs),
        "stages": {k: len(v) for k, v in stages.items()},
        "tasks": dict(tasks),
        "executor_run_s": sums["executor_run_ms"] / 1e3,
        "shuffle_read_mb": sums["shuffle_read"] / 1e6,
        "shuffle_write_mb": sums["shuffle_write"] / 1e6,
        "spill_mb": sums["spill"] / 1e6,
    }
