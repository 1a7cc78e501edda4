"""Tracing for the traced run: spans around layer calls, Spark job groups
named after the layer, and a reader that folds the Spark event log into
per-layer counts.

Spans are kept in memory and written out once, when the run ends. Each
span wraps one call from the benchmark into a layer; its name starts
with the layer (``frontier.crawl``, ``crawl_state.save_round``). While a
span is open, every Spark job it triggers runs under the job group of
the span's layer, with the iteration id in the job description, so the
event log charges jobs, tasks, shuffle, GC and spill to that layer.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

UNTRACED_GROUP = "untraced"


class Tracer:
    """Span recorder. Disabled, :meth:`span` costs one attribute test."""

    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self.iteration: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, layer: str) -> None:
        self._sc.setJobGroup(layer, f"iter={self.iteration}")

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        layer = name.split(".", 1)[0]
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "iteration": self.iteration,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(layer)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent["layer"] if parent else UNTRACED_GROUP)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the part its child spans
    cover (children of one span never overlap: calls are sequential)."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child_s[s["id"]]
    return dict(out)


def read_event_log(path: str) -> list[dict]:
    """One record per Spark job: group, iteration, wall interval (epoch
    seconds) and its tasks' count, busy time, GC, shuffle write and
    spill. A stage shared by several jobs is charged to the first."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            # cheap pre-filter: most of the log is SQL plan events
            if '"SparkListenerJob' not in line and '"SparkListenerTaskEnd"' not in line:
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                it = int(desc[5:]) if desc.startswith("iter=") and desc[5:].isdigit() else None
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "iteration": it,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0,
                    "task_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_bytes": 0,
                    "spill_bytes": 0,
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                if j is None:
                    continue
                ti = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                j["tasks"] += 1
                j["task_s"] += (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                j["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                j["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
    return [j for j in jobs.values() if j["end"] is not None]


def _uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by none of ``intervals``."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return (end - start) - covered


def layer_job_stats(jobs: list[dict], spans: list[dict], iteration: int, cores: int) -> dict:
    """Per layer, for one iteration: jobs, tasks, task seconds, shuffle
    bytes, and core utilisation over the layer's outermost span wall;
    plus the frontier's driver-only time (crawl wall during which no
    Spark job of any layer ran) and whole-iteration GC and spill."""
    its = [j for j in jobs if j["iteration"] == iteration]
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0}
    )
    for j in its:
        st = out[j["group"]]
        st["jobs"] += 1
        st["tasks"] += j["tasks"]
        st["task_s"] += j["task_s"]
        st["shuffle_bytes"] += j["shuffle_bytes"]
    by_id = {s["id"]: s for s in spans}
    wall: dict[str, float] = defaultdict(float)
    driver_s = 0.0
    intervals = [(j["start"], j["end"]) for j in its]
    for s in spans:
        if s["iteration"] != iteration:
            continue
        p = by_id.get(s["parent"])
        if p is not None and p["layer"] == s["layer"]:
            continue  # nested in its own layer: the outer span covers it
        wall[s["layer"]] += s["end"] - s["start"]
        if s["layer"] == "frontier":
            driver_s += _uncovered(s["start"], s["end"], intervals)
    for layer, st in out.items():
        w = wall.get(layer, 0.0)
        st["wall_s"] = w
        st["core_util"] = st["task_s"] / (w * cores) if w > 0 else 0.0
    return {
        "layers": dict(out),
        "frontier_driver_s": driver_s,
        "gc_s": sum(j["gc_s"] for j in its),
        "spill_bytes": sum(j["spill_bytes"] for j in its),
    }
