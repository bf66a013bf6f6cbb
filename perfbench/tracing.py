"""Spans recorded around calls into the engine's layers, and the Spark
counters of the stages those calls ran.

A span has a name (``<layer>.<call>``), start, end, parent and run id,
plus the rows its layer produced when the caller records them.
Spans stay in memory and are written out once the run ends. While a
span is open its id is set as a Spark local property, so every job the
call submits carries it; :func:`spark_counters` reads Spark's event log
and charges each stage's tasks to the innermost span that ran it.
"""
from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator

SPAN_PROP = "perfbench.span"


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(self._stack[-1]) if self._stack else None)

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        inside = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(inside)
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """The span ``root_id`` and all its descendants."""
    keep = {root_id}
    out = []
    for s in spans:  # parents are always recorded before their children
        if s["id"] in keep or s["parent"] in keep:
            keep.add(s["id"])
            out.append(s)
    return out


def spark_counters(event_log: Path, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: shuffle_write_mb, spill_mb, failed_tasks, and task_skew
    (max ÷ median task time of the layer's costliest stage), over the
    stages whose jobs ran inside one of ``spans``."""
    name_of = {str(s["id"]): s["name"] for s in spans}
    stage_span: dict[int, str] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    shuffle: dict[int, float] = defaultdict(float)
    spill: dict[int, float] = defaultdict(float)
    failed: dict[int, int] = defaultdict(int)
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                if sid is not None:
                    for stage in ev.get("Stage IDs", []):
                        stage_span.setdefault(stage, sid)
            elif kind == "SparkListenerTaskEnd":
                stage = ev["Stage ID"]
                info = ev.get("Task Info") or {}
                tasks[stage].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    failed[stage] += 1
                m = ev.get("Task Metrics") or {}
                shuffle[stage] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill[stage] += m.get("Disk Bytes Spilled", 0)
    per_layer: dict[str, dict[str, float]] = defaultdict(
        lambda: {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0, "task_skew": 0.0}
    )
    costliest: dict[str, float] = {}
    for stage, sid in stage_span.items():
        if sid not in name_of or stage not in tasks:
            continue
        layer = layer_of(name_of[sid])
        c = per_layer[layer]
        c["shuffle_write_mb"] += shuffle[stage] / 2**20
        c["spill_mb"] += spill[stage] / 2**20
        c["failed_tasks"] += failed[stage]
        busy = sum(tasks[stage])
        if busy > costliest.get(layer, -1.0):
            costliest[layer] = busy
            med = statistics.median(tasks[stage])
            c["task_skew"] = max(tasks[stage]) / med if med > 0 else 1.0
    return dict(per_layer)
