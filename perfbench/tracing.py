"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``install`` replaces the
functions that ``plans.pipeline`` and the incremental loop call with timing
wrappers, for the life of one traced run. Nothing inside
``record_linkage_spark`` is edited.

Each span sets the Spark job description to its id, so every job the span
starts carries it into the event log; ``event_log_metrics`` attributes
jobs, tasks, shuffle, spill, GC and failed tasks to the innermost span, and
through it to a layer.

Spark is lazy: an operator only builds a plan, and its work runs in the job
that forces it. In the pipeline that job is the stage write inside
``Warehouse.run_stage``, so each stage span is attributed to the layer
that produced the stage (``STAGE_LAYER``). ``checkpoints`` keeps what is
left of a stage commit: reading the written table back, the per-file row
counts from Parquet footers, and the two stages that only copy the input.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Callable

LAYERS = [
    "pipeline",
    "rollup",
    "ground_truth",
    "blocking",
    "ann_blocking",
    "features",
    "classifier",
    "clustering",
    "survivorship",
    "evaluate",
    "incremental_link",
    "checkpoints",
]
SKEW_LAYERS = ["rollup", "blocking", "ann_blocking", "features"]

# pipeline stage -> layer whose lazily built plan the stage write forces
STAGE_LAYER = {
    "transcripts": "checkpoints",
    "hidden_keys": "checkpoints",
    "profiles": "rollup",
    "gt_pairs": "ground_truth",
    "candidates": "blocking",  # "ann_blocking" under strategy ANN
    "scored_pairs": "features",
    "match_edges": "clustering",
    "clusters": "clustering",
    "golden_records": "survivorship",
}


class Tracer:
    """In-memory span recorder; spans are written once, by ``dump``."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.t0 = time.perf_counter()

    def open(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "layer": layer,
                "parent": self.stack[-1] if self.stack else None,
                "run": self.run_id,
                "start": time.perf_counter() - self.t0,
                "end": None,
            }
        )
        self.stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        return sid

    def close(self, sid: int) -> None:
        """Close span ``sid`` and any span still open inside it."""
        now = time.perf_counter() - self.t0
        while self.stack:
            top = self.stack.pop()
            self.spans[top]["end"] = now
            if top == sid:
                break
        self.sc.setJobDescription(f"span:{self.stack[-1]}" if self.stack else None)

    @contextmanager
    def span(self, name: str, layer: str):
        sid = self.open(name, layer)
        try:
            yield sid
        finally:
            self.close(sid)

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]]
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the layer entry points; returns a function that undoes it."""
    from record_linkage_spark.operators import (
        classifier,
        clustering,
        incremental_link,
    )
    from record_linkage_spark.plans import pipeline
    from record_linkage_spark.sources import checkpoints

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, new) -> None:
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    run_stage = checkpoints.Warehouse.run_stage

    def traced_run_stage(self, name, fn, cfg=None, *args, **kwargs):
        layer = STAGE_LAYER.get(name, "checkpoints")
        if name == "candidates" and (cfg or {}).get("strategy") == "ANN":
            layer = "ann_blocking"
        with tracer.span(f"stage:{name}", layer):
            out = run_stage(self, name, fn, cfg, *args, **kwargs)
        top = tracer.spans[tracer.stack[-1]] if tracer.stack else None
        if name == "golden_records" and top and top["layer"] == "pipeline":
            # the evaluation block after golden_records has no function of
            # its own: its span stays open until LinkagePipeline.run's
            # span closes, which closes every span nested in it
            tracer.open("evaluation_report", "evaluate")
        return out

    patch(
        pipeline.LinkagePipeline,
        "run",
        tracer.wrap(pipeline.LinkagePipeline.run, "LinkagePipeline.run", "pipeline"),
    )
    patch(checkpoints.Warehouse, "run_stage", traced_run_stage)
    patch(
        checkpoints.Warehouse,
        "read",
        tracer.wrap(checkpoints.Warehouse.read, "Warehouse.read", "checkpoints"),
    )
    patch(
        checkpoints,
        "_file_row_counts",
        tracer.wrap(checkpoints._file_row_counts, "footer_row_counts", "checkpoints"),
    )
    for module, name, layer in [
        (classifier, "train_logistic_regression", "classifier"),
        (classifier, "tune_threshold", "classifier"),
        (clustering, "assign_entities", "clustering"),
    ]:
        traced = tracer.wrap(getattr(module, name), name, layer)
        # plans.pipeline imported these names into its own namespace
        patch(module, name, traced)
        patch(pipeline, name, traced)
    patch(
        incremental_link,
        "link_increment",
        tracer.wrap(incremental_link.link_increment, "link_increment", "incremental_link"),
    )
    patch(
        clustering,
        "incremental_components",
        tracer.wrap(
            clustering.incremental_components, "incremental_components", "clustering"
        ),
    )

    def undo() -> None:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)

    return undo


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            yield from _events(path)
            continue
        if name.startswith(".") or name.startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def event_log_metrics(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per-layer job, task, shuffle, spill, GC and failure totals.

    A job belongs to the span named by its description; tasks belong to the
    job that first listed their stage. Jobs started outside any span are
    left out (the benchmark's own set-up and checks)."""
    layer_of = {f"span:{s['id']}": s["layer"] for s in spans}
    stage_layer: dict[int, str] = {}
    out = {
        layer: {
            "jobs": 0,
            "tasks": 0,
            "run_ms": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "gc_ms": 0,
            "failed_tasks": 0,
            "stage_tasks": {},
        }
        for layer in set(layer_of.values())
    }
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            layer = layer_of.get(desc)
            if layer is None:
                continue
            out[layer]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(e.get("Stage ID"))
            if layer is None:
                continue
            acc = out[layer]
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
            acc["tasks"] += 1
            acc["failed_tasks"] += int(info.get("Failed", False) or reason != "Success")
            run_ms = int(m.get("Executor Run Time", 0))
            acc["run_ms"] += run_ms
            acc["gc_ms"] += int(m.get("JVM GC Time", 0))
            acc["shuffle_bytes"] += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            acc["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))
            acc["stage_tasks"].setdefault(e.get("Stage ID"), []).append(run_ms)
    return out


def task_skew(stage_tasks: dict[int, list[int]]) -> float:
    """max/median task run time of the layer's costliest multi-task stage."""
    stages = [t for t in stage_tasks.values() if len(t) >= 2]
    if not stages:
        return 1.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
