"""Spans around the pipeline's layer boundaries, recorded from outside.

``Tracer.installed`` wraps, at runtime and only inside the benchmark
process, ``StageRunner.run``, ``scoring.fit_lr_newton``,
``scoring.calibrate_edge_threshold``, ``scoring.calibrate_override_bar``
and ``clustering.connected_components``. No package file is edited.

Each wrapped call opens a span (name, start, end, parent, run id),
sets the calling thread's Spark job group to the path of its open spans,
and for a stage materializes the output with ``count()`` so the span
covers the stage's work. Spans stay in memory; ``layers.summarize``
turns them and the Spark event log into per-stage self time, task CPU,
shuffle and spill.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from bigdataentityresolution_spark.operators import clustering as C
from bigdataentityresolution_spark.operators import scoring as S
from bigdataentityresolution_spark.plans.checkpoint import StageRunner

# StageRunner stage -> layer (the package modules on the ER path).
STAGE_LAYER = {
    "signatures": "blocking",
    "blocking": "blocking",
    "candidates": "blocking",
    "sem_candidates": "blocking",
    "postings": "tfidf",
    "top_vocab": "tfidf",
    "prep": "tfidf",
    "train_features": "scoring",
    "cand_features": "scoring",
    "closure": "clustering",
    "cluster": "clustering",
}
FUNCTIONS = {
    "fit_lr_newton": (S, "fit"),
    "calibrate_edge_threshold": (S, "calibrate"),
    "calibrate_override_bar": (S, "calibrate"),
    "connected_components": (C, "cc"),
}


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "run" | "stage" | "fn"
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, kind: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(
                id=len(self.spans), name=name, kind=kind,
                parent=parent.id if parent else None,
                run_id=self._root.run_id if self._root else "",
                start=time.time(),
            )
            self.spans.append(sp)
        stack.append(sp)
        self._tag(stack)
        return sp

    def _tag(self, stack: list) -> None:
        """Job group of the calling thread: the "/"-joined names of its
        open spans, so each job is attributed to the innermost one."""
        if stack:
            path = "/".join(s.name for s in stack)
            self.sc.setJobGroup(path, f"perfbench {path}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        self._tag(stack)

    @contextmanager
    def run(self, run_id: str):
        """Root span of one traced pipeline run. Spans opened on the
        pipeline's worker threads attach to it."""
        self._root = Span(
            id=len(self.spans), name="pipeline", kind="run", parent=None,
            run_id=run_id, start=time.time(),
        )
        self.spans.append(self._root)
        try:
            yield self._root
        finally:
            self._root.end = time.time()
            self._root = None

    # -- wrappers ------------------------------------------------------
    @contextmanager
    def installed(self):
        """Wrap the layer entry points for the duration of the block."""
        orig_run = StageRunner.run
        originals = [(module, name, getattr(module, name)) for name, (module, _) in FUNCTIONS.items()]

        def traced_run(runner, stage, fn, fingerprint="", metrics=None):
            sp = self._open(stage, "stage")
            try:
                df = orig_run(runner, stage, fn, fingerprint, metrics)
                sp.attrs["rows"] = df.count()
                return df
            finally:
                self._close(sp)

        StageRunner.run = traced_run
        for module, name, orig in originals:
            setattr(module, name, self._wrap_function(name, orig))
        try:
            yield self
        finally:
            StageRunner.run = orig_run
            for module, name, orig in originals:
                setattr(module, name, orig)

    def _wrap_function(self, name: str, orig):
        def wrapped(*args, **kwargs):
            # accepted-edge count for scoring.accept_ratio, taken before
            # the span opens so it is not charged to the CC layer
            edges_in = args[0].count() if name == "connected_components" else None
            sp = self._open(name, "fn")
            sp.attrs["edges_in"] = edges_in
            try:
                return orig(*args, **kwargs)
            finally:
                self._close(sp)

        return wrapped


def self_times(spans: list[Span], t0: float, t1: float) -> tuple[dict, float, float]:
    """Sweep the run's timeline. Each instant is credited to every open
    span that has no open child (its self time); an instant with no open
    span is driver gap. Returns ({span id: self seconds}, gap, overlap),
    where overlap is the time credited to more than one span at once
    (concurrent job groups), so that sum(self) + gap - overlap = t1 - t0."""
    inner = [s for s in spans if s.kind != "run" and s.end is not None]
    points = sorted({t0, t1, *(max(t0, min(t1, s.start)) for s in inner),
                     *(max(t0, min(t1, s.end)) for s in inner)})
    selft: dict[int, float] = defaultdict(float)
    gap = overlap = 0.0
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        open_ = [s for s in inner if s.start <= mid < s.end]
        open_parents = {s.parent for s in open_}
        leaves = [s for s in open_ if s.id not in open_parents]
        if not open_:
            gap += b - a
            continue
        for s in leaves:
            selft[s.id] += b - a
        overlap += (len(leaves) - 1) * (b - a)
    return dict(selft), gap, overlap


def find_event_log(eventlog_dir: str, app_id: str) -> list[str]:
    """Rolling event log files of one application (``get_spark`` turns
    rolling on), in order."""
    return sorted(
        glob.glob(os.path.join(eventlog_dir, f"eventlog_v2_{app_id}", f"events_*_{app_id}")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


_WANTED = tuple(
    f'{{"Event":"SparkListener{k}"'
    for k in ("TaskEnd", "StageSubmitted", "JobStart")
)


def task_metrics_by_group(paths: list[str], t0: float, t1: float) -> dict:
    """Per job group: task CPU, shuffle write and spill of every task
    launched in [t0, t1] (epoch seconds), plus the job count there.
    Group None collects tasks of jobs that carried no job group."""
    stage_group: dict[int, str | None] = {}
    groups: dict = defaultdict(
        lambda: {"task_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    )
    jobs = 0
    for path in paths:
        with open(path) as f:
            for line in f:
                # SQL plan events dominate the log; parse only these three
                if not line.startswith(_WANTED):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerJobStart":
                    if t0 * 1000 <= ev.get("Submission Time", 0) <= t1 * 1000:
                        jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    if not t0 * 1000 <= info.get("Launch Time", 0) <= t1 * 1000:
                        continue
                    m = ev.get("Task Metrics") or {}
                    g = groups[stage_group.get(ev["Stage ID"])]
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"groups": dict(groups), "jobs": jobs}
