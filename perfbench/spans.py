"""Spans around the benchmark's calls into each layer of the engine.

A ``Tracer`` always times its spans, because the end-to-end metrics are
span durations. With ``enabled`` set it also tags every step with a Spark
job group, reads that group's job, stage and task counts from the status
tracker, takes shuffle bytes from ``plans.metrics.ShuffleProbe``, and
keeps child records (checkpoint saves, kernel supersteps). Spans stay in
memory until ``write`` puts them in a JSON-lines file at the end of the
run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from paragrapher_spark.plans.checkpoint import CheckpointManager
from paragrapher_spark.plans.metrics import ShuffleProbe

MB = 1_000_000


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._spark = None
        self._probe: ShuffleProbe | None = None

    def attach(self, spark) -> None:
        """Start counting Spark work; called once the session exists."""
        self._spark = spark
        if self.enabled:
            self._probe = ShuffleProbe(spark)

    @contextmanager
    def span(self, name: str, step: bool = False, **attrs: Any) -> Iterator[dict]:
        """Time the enclosed block. ``step=True`` marks a timed step of the
        workload: in traced runs its Spark jobs are grouped and counted."""
        rec: dict[str, Any] = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"{self.run_id}:{rec['id']}:{name}"
        counting = step and self.enabled and self._spark is not None
        if counting:
            self._spark.sparkContext.setJobGroup(group, name)
            self._probe.tick()
        rec["start"] = time.monotonic()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if counting:
                self._count(rec, group)
                self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def record(self, name: str, start: float, end: float) -> None:
        """A top-level span whose interval was measured by the caller."""
        self.spans.append(
            {"name": name, "run_id": self.run_id, "parent": None,
             "id": len(self.spans), "start": start, "end": end, "ok": True}
        )

    def child(self, name: str, duration: float, **attrs: Any) -> None:
        """A record of work inside the current span that the engine timed
        itself (a kernel superstep from its result history): it has a
        duration but no position of its own."""
        if not self.enabled:
            return
        self.spans.append(
            {
                "name": name,
                "run_id": self.run_id,
                "parent": self._stack[-1] if self._stack else None,
                "id": len(self.spans),
                "start": None,
                "end": None,
                "duration": duration,
                **attrs,
            }
        )

    def _count(self, rec: dict[str, Any], group: str) -> None:
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                # stages whose output was reused from an earlier shuffle are
                # listed but never run: they have no tasks to count
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        w, r = self._probe.tick()
        rec.update(
            jobs=jobs,
            stages=stages,
            tasks=tasks,
            shuffle_write_mb=w / MB,
            shuffle_read_mb=r / MB,
        )

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- reading the trace ---------------------------------------------------

    def duration(self, rec: dict[str, Any]) -> float:
        if rec.get("start") is None:
            return rec["duration"]
        return rec["end"] - rec["start"]

    def find(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.duration(s) for s in self.find(name))

    def self_time(self, rec: dict[str, Any]) -> float:
        """Span duration minus the part its children cover. Children of one
        span run one after another, so their durations add up."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def table(self) -> str:
        """Per-span rows, indented by depth: total, self time, Spark counts.
        Self times of a step's subtree add up to the step's wall time; the
        step's own self time is the part no layer span covers."""
        depth: dict[int, int] = {}
        lines = [
            f"{'span':<34}{'total_s':>9}{'self_s':>9}{'jobs':>6}{'stages':>7}"
            f"{'tasks':>7}{'shufW_mb':>10}"
        ]
        for s in self.spans:
            if s["name"].endswith(".superstep") or s["name"].endswith(".round"):
                continue
            d = 0 if s["parent"] is None else depth[s["parent"]] + 1
            depth[s["id"]] = d
            label = "  " * d + s["name"]
            counts = (
                f"{s['jobs']:>6}{s['stages']:>7}{s['tasks']:>7}"
                f"{s['shuffle_write_mb']:>10.2f}"
                if "jobs" in s
                else ""
            )
            lines.append(
                f"{label:<34}{self.duration(s):>9.3f}{self.self_time(s):>9.3f}{counts}"
            )
        return "\n".join(lines)


class TracedCheckpointManager(CheckpointManager):
    """CheckpointManager whose snapshot writes and resume reads appear as
    spans, with the bytes each snapshot put on disk."""

    def __init__(self, root: str, job_name: str, tracer: Tracer) -> None:
        self._tracer = tracer
        super().__init__(root, job_name)

    def save(self, iteration, df, metrics=None, kind="state"):
        with self._tracer.span("checkpoint.save", iteration=iteration) as rec:
            path = super().save(iteration, df, metrics, kind)
        rec["bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
        )
        return path

    def resume(self, spark):
        with self._tracer.span("checkpoint.resume_read"):
            return super().resume(spark)
