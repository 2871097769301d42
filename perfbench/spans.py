"""Spans around the program's public calls, folded with the Spark event log.

Tracing is off in end-to-end runs (``NullTracer``). A traced run
wraps the public functions of the table and streaming layers from
outside (``Tracer.patch``), records a span for each call, and turns on
Spark's event log. After the session stops, ``fold_event_log`` reads
the log with stdlib ``json`` and each Spark job is attributed to the
innermost span open at its submission time. Attribution is by time
interval, not by job group, because a streaming query sets its own job
group on its micro-batches.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

TABLE_OPS = ("merge_insert_only", "merge_upsert", "overwrite", "read", "read_changes")


@dataclass
class Span:
    name: str
    phase: str
    start: float  # time.time(): the event log stamps jobs in epoch ms
    end: float = 0.0
    child_s: float = 0.0
    parent: Span | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False
    phase = ""

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None

    @contextmanager
    def patch(self) -> Iterator[None]:
        yield


@dataclass
class Tracer:
    enabled = True
    phase: str = "setup"
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        # one stack for all threads: foreachBatch bodies run on a py4j
        # callback thread while the caller blocks in awaitTermination,
        # so at most one thread is inside a span at a time
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.phase, time.time(), parent=parent)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.wall
            self.spans.append(s)

    def _wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):  # noqa: ANN002, ANN003, ANN202
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patch(self) -> Iterator[None]:
        """Wrap the LakeTable and streaming entry points for the block.
        ``run_available_now`` is patched where ``pipelines.olist`` binds
        it too, since that module imported the function by name."""
        from real_time_e_commerce_analytics_lakehouse_spark.pipelines import olist
        from real_time_e_commerce_analytics_lakehouse_spark.streaming import pipeline
        from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

        saved = [(LakeTable, op, getattr(LakeTable, op)) for op in TABLE_OPS]
        saved += [
            (pipeline.IncrementalRunner, "process", pipeline.IncrementalRunner.process),
            (pipeline, "run_available_now", pipeline.run_available_now),
            (olist, "run_available_now", olist.run_available_now),
        ]
        names = [f"tables.{op}" for op in TABLE_OPS] + [
            "streaming.incremental_runner",
            "streaming.run_available_now",
            "streaming.run_available_now",
        ]
        for (owner, attr, fn), name in zip(saved, names):
            setattr(owner, attr, self._wrap(name, fn))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def select(self, name: str, phase: str = "measure") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == phase]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling: one JSON-lines file the stdlib reads."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str) -> list[Job]:
    """Jobs of the one application logged under ``log_dir``, with the
    task metrics of every stage they ran."""
    (name,) = os.listdir(log_dir)
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                t = e["Submission Time"] / 1000.0
                jobs[jid] = Job(submit=t, end=t)
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.exec_run_s += m["Executor Run Time"] / 1000.0
                job.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return sorted(jobs.values(), key=lambda j: j.submit)


@dataclass
class SpanStats:
    calls: int = 0
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    driver_only_s: float = 0.0

    def per_call(self) -> dict[str, float]:
        n = max(self.calls, 1)
        return {
            "jobs": self.jobs / n,
            "tasks": self.tasks / n,
            "exec_run_s": self.exec_run_s / n,
            "shuffle_mb": self.shuffle_mb / n,
            "spill_mb": self.spill_mb / n,
            "driver_only_s": self.driver_only_s / n,
        }


def span_stats(spans: list[Span], jobs: list[Job]) -> SpanStats:
    """Jobs submitted inside the spans (at any depth), and the part of
    the spans' wall time that no job covered."""
    st = SpanStats()
    for s in spans:
        st.calls += 1
        inside = [j for j in jobs if s.start <= j.submit <= s.end]
        covered, cursor = 0.0, s.start
        for j in inside:  # sorted by submission: merge the intervals
            lo, hi = max(j.submit, cursor), min(j.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
            st.jobs += 1
            st.tasks += j.tasks
            st.exec_run_s += j.exec_run_s
            st.shuffle_mb += j.shuffle_bytes / 1e6
            st.spill_mb += j.spill_bytes / 1e6
        st.driver_only_s += s.wall - covered
    return st


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
