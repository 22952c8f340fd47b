"""Tracing for the benchmark's per-layer run: spans, job groups, event log.

Everything here is recorded from the benchmark's own files, around the
public calls it makes into each layer; nothing inside the program changes.

- Spans live in memory (``Tracer.spans``) and are summarised at the end.
- Every table sync and every catalog query phase runs under its own Spark
  job group, so the event log attributes jobs, tasks and SQL metrics to it.
- The event log is written uncompressed (the ``zstandard`` module that the
  default codec needs is not installed) and read back after the session
  stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds, the event log's clock
    end: float
    group: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: every hook is a no-op, so the measured loop makes no
    extra Py4J calls."""

    enabled = False

    def set_group(self, spark, group: str) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def patched(self, module, names: tuple[str, ...]):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.group = ""

    def set_group(self, spark, group: str) -> None:
        self.group = group
        spark.sparkContext.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), self.group))

    @contextlib.contextmanager
    def patched(self, module, names: tuple[str, ...]):
        """Wrap each module-level callable in a span for the block's duration."""
        originals = {n: getattr(module, n) for n in names}

        def wrap(name, fn):
            def spanned(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return spanned

        for n, fn in originals.items():
            setattr(module, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(module, n, fn)

    def in_group(self, group: str) -> list[Span]:
        return [s for s in self.spans if s.group == group]


@dataclass
class GroupStats:
    """Event-log totals of one job group."""

    jobs: int = 0
    tasks: int = 0
    job_wall_ms: float = 0.0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    py_sent_b: float = 0.0
    py_received_b: float = 0.0


_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per-job-group totals from one uncompressed event log file."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"]
                stats[group].jobs += 1
            elif kind == "SparkListenerJobEnd":
                start = job_start.pop(ev["Job ID"], None)
                if start is not None:
                    stats[job_group[ev["Job ID"]]].job_wall_ms += ev["Completion Time"] - start
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
            elif kind == "SparkListenerTaskEnd":
                st = stats[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stats[stage_group.get(info["Stage ID"], "")]
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        st.py_sent_b += float(acc.get("Value", 0))
                    elif acc.get("Name") == _PY_RECEIVED:
                        st.py_received_b += float(acc.get("Value", 0))
    return dict(stats)


def exec_layer(groups: list[GroupStats], per: int) -> dict[str, float]:
    """The execution and Python-worker layer metrics, per round or pass."""
    mb = 1024.0 * 1024.0

    def tot(attr: str) -> float:
        return sum(getattr(g, attr) for g in groups) / per

    return {
        "exec.jobs": tot("jobs"),
        "exec.tasks": tot("tasks"),
        "exec.job_wall_s": tot("job_wall_ms") / 1e3,
        "exec.executor_run_s": tot("run_ms") / 1e3,
        "exec.executor_cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.shuffle_read_mb": tot("shuffle_read_b") / mb,
        "exec.shuffle_write_mb": tot("shuffle_write_b") / mb,
        "exec.spill_mb": tot("spill_b") / mb,
        "python.sent_mb": tot("py_sent_b") / mb,
        "python.received_mb": tot("py_received_b") / mb,
    }
