"""Per-layer measurement for the traced run.

Everything here observes the engine from outside: jobs are tagged with
``SparkContext.setJobGroup``, Catalyst phase times come from the returned
DataFrame's query-execution tracker, micro-batches from a
``StreamingQueryListener``, and task metrics from the Spark event log.
No operator code is changed.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")

#: task-metric counters summed per (key, phase), in event-log field names
_TASK_COUNTERS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "input_records": ("Input Metrics", "Records Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "output_records": ("Output Metrics", "Records Written"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_remote_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
}


def event_log_confs(log_dir: str) -> dict[str, str]:
    """Spark confs that write an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def catalyst_ms(df) -> dict[str, int]:
    """Analysis, optimization and planning milliseconds of ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        found = phases.get(name)
        out[name] = int(found.get().durationMs()) if found.isDefined() else 0
    return out


class Spans:
    """Spans kept in memory: name, start, end (epoch seconds) and parent id."""

    def __init__(self):
        self.items: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        span_id = next(self._ids)
        self.items.append({"id": span_id, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return span_id

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record the enclosed block; yields the span's id for its children."""
        span_id = next(self._ids)
        record = {"id": span_id, "parent": parent, "name": name,
                  "start": time.time(), "end": None, **attrs}
        self.items.append(record)
        try:
            yield span_id
        finally:
            record["end"] = time.time()


class StreamProgress(StreamingQueryListener):
    """Collects one record per micro-batch progress event."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        record = {
            "query": str(p.id),
            "start": datetime.fromisoformat(p.timestamp).timestamp(),
            "batch_ms": int(p.durationMs.get("triggerExecution", 0)),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        }
        with self._lock:
            self.batches.append(record)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``."""
        deadline = time.time() + timeout_s
        seen = -1
        while time.time() < deadline:
            with self._lock:
                n = len(self.batches)
            if n == seen:
                return
            seen = n
            time.sleep(quiet_s)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application log written into ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _dig(metrics: dict, path: tuple[str, ...]) -> int:
    for part in path:
        metrics = metrics.get(part) or {}
    return int(metrics or 0)


def task_sums(events: list[dict], windows: list[dict], label: str) -> dict:
    """Sum job, stage and task counters per ``(key, phase)`` of pass ``label``.

    A job is owned by the ``<key>:<phase>`` job group it was tagged with.
    Jobs of another group (streaming queries tag their own) go to the
    window of ``windows`` — dicts with ``key``, ``phase``, ``start`` and
    ``end`` — that their submission time falls in.
    """
    tagged = {f"{w['key']}:{w['phase']}": (w["key"], w["phase"]) for w in windows}
    sums: dict = defaultdict(lambda: defaultdict(int))
    stage_owner: dict[int, tuple] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            owner = None
            if group in tagged:
                if props.get("spark.job.description") == label:
                    owner = tagged[group]
            else:
                at = ev["Submission Time"] / 1000
                owner = next(((w["key"], w["phase"]) for w in windows
                              if w["start"] <= at <= w["end"]), None)
            if owner is None:
                continue
            sums[owner]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerStageCompleted":
            owner = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if owner is not None:
                sums[owner]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev["Stage ID"])
            if owner is None:
                continue
            metrics = ev.get("Task Metrics") or {}
            sums[owner]["tasks"] += 1
            for counter, path in _TASK_COUNTERS.items():
                sums[owner][counter] += _dig(metrics, path)
    return sums
