"""Spark event-log parser: per-stage task metrics, mapped to the
benchmark's spans through the job group each job carried.

The traced run sets the Spark job group to the id of the innermost open
span (``spans.Tracer``) and enables the event log through
``get_spark(extra_conf=...)``. This module reads that log (JSON lines)
and sums, per layer, the task metrics of the stages its jobs ran:

  ``<layer>.task_s``        executor run time of the layer's tasks
  ``<layer>.shuffle_bytes`` shuffle bytes written
  ``<layer>.spill_bytes``   bytes spilled to disk
  ``<layer>.gc_s``          JVM GC time inside the layer's tasks
  ``<layer>.task_skew``     per stage max/median task run time, averaged
                            over the layer's stages weighted by task time

A stage is attributed to the layer of the span whose job launched it
(``group_layer`` maps a job group to a layer name, or to None for jobs
outside the traced operations, which are skipped). Jobs run by a
streaming query's own thread carry the query's run id as their group;
the caller maps those run ids to ``stream``. Two layers come from what
a stage physically does instead of who launched it: ``readers`` (stages
that scan source files) and ``writers`` (stages that write files).
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    scopes: list[str] = field(default_factory=list)
    run_ms: list[int] = field(default_factory=list)
    wall_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def scans(self) -> list[str]:
        return [s for s in self.scopes if s.startswith("Scan ")]

    @property
    def writes(self) -> bool:
        return any("WriteFiles" in s or "InsertInto" in s for s in self.scopes)


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name", "").strip()
    except ValueError:
        return None


def read_stages(path: str) -> dict[int, Stage]:
    """Parse one event log into completed stages with their task metrics."""
    stages: dict[int, Stage] = {}
    group_of_stage: dict[int, str | None] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    group_of_stage.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                st.scopes = [n for n in map(_scope_name, si.get("RDD Info", [])) if n]
                if "Submission Time" in si and "Completion Time" in si:
                    st.wall_ms = si["Completion Time"] - si["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.run_ms.append(m.get("Executor Run Time", 0))
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    for sid, st in stages.items():
        st.group = group_of_stage.get(sid)
    return stages


def job_seconds(path: str) -> list[tuple[str | None, float]]:
    """(job group, wall seconds) of every completed job in the log."""
    start: dict[int, tuple[str | None, int]] = {}
    out = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                start[ev["Job ID"]] = (group, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in start:
                group, t0 = start.pop(ev["Job ID"])
                out.append((group, (ev["Completion Time"] - t0) / 1000.0))
    return out


def _skew(run_ms: list[int]) -> float | None:
    if len(run_ms) < 2:
        return None
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else None


def layer_metrics(
    stages: dict[int, Stage],
    group_layer: Callable[[str | None], str | None],
    layers: tuple[str, ...],
    per: float = 1.0,
) -> dict[str, float]:
    """``<layer>.{task_s,shuffle_bytes,spill_bytes,gc_s,task_skew}`` for
    every name in ``layers`` (0 where the layer ran no stage), divided by
    ``per`` (the number of operations the log covers) except the skew."""
    acc = {lay: {"task_ms": 0, "shuffle": 0, "spill": 0, "gc": 0, "skew_w": 0.0, "skew_ms": 0}
           for lay in layers}
    for st in stages.values():
        owner = group_layer(st.group)
        if owner not in layers:
            continue  # not launched by a traced call into these layers
        owners = {owner}
        if st.scans:
            owners.add("readers")
        if st.writes:
            owners.add("writers")
        run = sum(st.run_ms)
        skew = _skew(st.run_ms)
        for lay in owners & set(layers):
            a = acc[lay]
            a["task_ms"] += run
            a["shuffle"] += st.shuffle_bytes
            a["spill"] += st.spill_bytes
            a["gc"] += st.gc_ms
            if skew is not None:
                a["skew_w"] += skew * run
                a["skew_ms"] += run
    out: dict[str, float] = {}
    for lay, a in acc.items():
        out[f"{lay}.task_s"] = a["task_ms"] / 1000.0 / per
        out[f"{lay}.shuffle_bytes"] = a["shuffle"] / per
        out[f"{lay}.spill_bytes"] = a["spill"] / per
        out[f"{lay}.gc_s"] = a["gc"] / 1000.0 / per
        out[f"{lay}.task_skew"] = a["skew_w"] / a["skew_ms"] if a["skew_ms"] else 0.0
    return out


def _scans_fmt(st: Stage, fmt: str | None) -> bool:
    return any(fmt is None or s.split()[1:2] == [fmt] for s in st.scans)


def count_scans(stages: dict[int, Stage], fmt: str,
                groups: Callable[[str | None], bool] = lambda g: True) -> int:
    """Stages that scanned files of format ``fmt`` (``text``,
    ``parquet``), restricted to jobs whose group passes ``groups``."""
    return sum(1 for st in stages.values() if groups(st.group) and _scans_fmt(st, fmt))


def scan_seconds(stages: dict[int, Stage], fmt: str | None,
                 groups: Callable[[str | None], bool] = lambda g: True) -> float:
    """Wall seconds of the stages ``count_scans`` counts (``fmt=None``:
    stages scanning files of any format)."""
    return sum(st.wall_ms for st in stages.values()
               if groups(st.group) and _scans_fmt(st, fmt)) / 1000.0
