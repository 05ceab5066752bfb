"""Tracing kept in the benchmark's own files: spans around each call into a
layer, Spark job/stage/task accounting, and per-trigger phase summaries from
the library's ``MetricsReporter``.

Everything here is off (a no-op) unless the run was started with
``--trace 1``; end-to-end metrics come from untraced runs.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """Spans (name, start, end, parent) kept in memory and written out with
    the run's trace. A span's parent is the innermost open span on the same
    thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name}
        rec.update(attrs)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.records.append(rec)


class JobGroupStats:
    """Jobs, stages and tasks Spark ran under one job group, counted with
    ``StatusTracker``; shuffle-write and spill bytes per stage come from
    the application status store behind it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def collect(self, group: str) -> dict[str, int]:
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(5_000)
        except Exception:  # noqa: BLE001 — best effort: counts may lag one event
            pass
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never submitted
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def next_job_id(spark) -> int:
    """Id the scheduler will give the next job: a cheap running job count."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def trigger_phases(reporter_metrics, query_id: str) -> dict[int, dict[str, int]]:
    """``{batch_id: {"rows": n, <durationMs phase>: ms, ...}}`` for one
    query, from the ``MetricsReporter`` buffer (level ``detailed``)."""
    out: dict[int, dict[str, int]] = {}
    for m in reporter_metrics:
        if m.get("query_id") != query_id:
            continue
        if m.get("metric") == "batch_records":
            out.setdefault(m["batch_id"], {})["rows"] = int(m["value"])
        elif m.get("metric") == "batch_duration_ms":
            out.setdefault(m["batch_id"], {}).update(m["durations_ms"])
    return out


def median_or_zero(values) -> float:
    return float(statistics.median(values)) if values else 0.0
