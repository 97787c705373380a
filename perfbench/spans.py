"""Traced-run tooling: in-memory spans and a Spark event-log reader.

Spans are recorded around calls into each layer from the benchmark's own
code, kept in memory and written out once when the run ends.  The event-log
reader groups Spark task figures by layer: by the job group the benchmark
sets per layer, else by the layer span that was open when the job was
submitted (jobs started from a streaming micro-batch carry the stream's own
group).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        """Span around one call; jobs submitted inside carry job group
        `layer` when a SparkContext was given."""
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "layer": layer,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(layer, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self.sc is not None:
                if self._open:
                    self.sc.setJobGroup(self.spans[self._open[-1]]["layer"], name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def busy_s(self, layer: str, name: str | None = None, since: float = 0.0) -> float:
        """Time spent in a layer's spans (optionally only those called
        `name`) that started at or after `since`; a span nested in a span
        of the same layer is not counted twice."""
        total = 0.0
        for s in self.spans:
            parent = s["parent"]
            if (
                s["layer"] == layer
                and (name is None or s["name"] == name)
                and s["start"] >= since
                and (parent is None or self.spans[parent]["layer"] != layer)
            ):
                total += s["end"] - s["start"]
        return total

    def layer_at(self, t_s: float) -> str | None:
        """Layer of the innermost span open at wall time t_s."""
        best = None
        for s in self.spans:
            if s["start"] <= t_s <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["layer"] if best else None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_layer_stats(path: str, tracer: Tracer, layers: tuple[str, ...]) -> dict[str, dict]:
    """Per-layer Spark figures from an uncompressed event log:
    spark_jobs, shuffle_write_mb, spill_mb, task_skew (max / median task
    time in the layer's largest stage by total task time), failed_tasks."""
    stage_layer: dict[int, str] = {}
    jobs = {l: 0 for l in layers}
    tasks: dict[int, list[float]] = {}
    shuffle = {l: 0.0 for l in layers}
    spill = {l: 0.0 for l in layers}
    failed = {l: 0 for l in layers}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = group if group in jobs else tracer.layer_at(ev["Submission Time"] / 1000.0)
                if layer not in jobs:
                    continue
                jobs[layer] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"])
                if layer is None:
                    continue
                info = ev["Task Info"]
                if info.get("Failed"):
                    failed[layer] += 1
                tasks.setdefault(ev["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
                tm = ev.get("Task Metrics") or {}
                shuffle[layer] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill[layer] += tm.get("Disk Bytes Spilled", 0)
    out = {}
    for layer in layers:
        stages = [tasks[s] for s, l in stage_layer.items() if l == layer and s in tasks]
        skew = 1.0
        if stages:
            largest = max(stages, key=sum)
            med = statistics.median(largest)
            skew = max(largest) / med if med > 0 else 1.0
        out[layer] = {
            "spark_jobs": jobs[layer],
            "shuffle_write_mb": shuffle[layer] / 2**20,
            "spill_mb": spill[layer] / 2**20,
            "task_skew": skew,
            "failed_tasks": failed[layer],
        }
    return out
