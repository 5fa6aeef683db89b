"""Measurement helpers: percentiles, in-memory spans with self time,
open-loop lateness, the Spark event-log parser and the streaming
progress recorder.

Everything here observes mofka_spark from the outside: spans wrap the
public calls the benchmark makes (or bound methods of objects those
calls return), the event log is Spark's own, and streaming progress
comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

# -- percentiles ------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``,
    numpy's default method. Raises on an empty input."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 0.5)


# -- open-loop lateness -----------------------------------------------------


def due_times(start: float, rate: float, n: int) -> list[float]:
    """Send schedule of an open-loop generator: event ``i`` is due at
    ``start + i / rate`` whatever happened to earlier events."""
    return [start + i / rate for i in range(n)]


def lateness_ms(due: list[float], sent: list[float]) -> list[float]:
    """How late the generator sent each event, in ms (never negative:
    an event is never sent before it is due)."""
    if len(due) != len(sent):
        raise ValueError("due and sent differ in length")
    return [max(0.0, (s - d) * 1e3) for d, s in zip(due, sent)]


# -- spans ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: int  # perf_counter_ns
    end: int
    parent: int | None  # index into Tracer.spans
    op: int | None  # operation id shared by the spans of one request
    thread: int
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans kept in memory for the length of a run.

    A span's parent is the innermost open span of the same thread. A
    span without a parent starts a new operation; its descendants share
    its operation id. ``main_thread`` is the thread that created the
    tracer.
    """

    def __init__(self) -> None:
        self.main_thread = threading.get_ident()
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ops = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            if parent is None:
                op = self._ops
                self._ops += 1
            else:
                op = self.spans[parent].op
            span = Span(name, time.perf_counter_ns(), 0, parent, op,
                        threading.get_ident())
            idx = len(self.spans)
            self.spans.append(span)
            if parent is not None:
                self.spans[parent].children.append(idx)
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter_ns()
        st = self._stack()
        if not st or st[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")
        st.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*a, **kw):
            idx = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(idx)

        return traced

    def wrap_method(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a traced copy (instance attribute;
        the class and every other instance are untouched)."""
        setattr(obj, method, self.wrap(name, getattr(obj, method)))


def self_times_ms(spans: list[Span]) -> list[float]:
    """Per-span self time: duration minus the part of its interval that
    its children cover (children may overlap each other)."""
    out = []
    for s in spans:
        ivs = sorted((spans[c].start, spans[c].end) for c in s.children)
        covered = 0
        cur_lo = cur_hi = None
        for lo, hi in ivs:
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start - covered) / 1e6)
    return out


def summarize_spans(spans: list[Span]) -> dict[str, dict[str, float]]:
    """``{name: {calls, ms, self_ms}}`` over all spans."""
    selfs = self_times_ms(spans)
    out: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, selfs):
        d = out.setdefault(s.name, {"calls": 0, "ms": 0.0, "self_ms": 0.0})
        d["calls"] += 1
        d["ms"] += (s.end - s.start) / 1e6
        d["self_ms"] += st
    return out


def thread_self_ms(spans: list[Span], thread: int) -> float:
    """Sum of self times of one thread's spans — equal to the time that
    thread spent inside top-level traced calls."""
    selfs = self_times_ms(spans)
    return sum(st for s, st in zip(spans, selfs) if s.thread == thread)


# -- Spark event log --------------------------------------------------------

OPERATOR_FIELDS = (
    "jobs", "stages", "one_task_stages", "tasks", "failed_tasks",
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "outside_jobs_ms",
)


def read_event_log(path: str) -> list[dict]:
    """All listener events of an uncompressed event log: ``path`` is a
    log file or a directory holding one (Spark's rolling
    ``eventlog_v2_*`` layout included)."""
    files = []
    if os.path.isdir(path):
        for d, _dirs, fs in os.walk(path):
            files += [os.path.join(d, f) for f in fs
                      if not f.startswith(".") and not f.endswith(".crc")]
    else:
        files = [path]
    events = []
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    events.append(json.loads(line))
    return events


def _in(t, window) -> bool:
    return t is not None and window[0] <= t <= window[1]


def _union_ms(intervals) -> float:
    total = 0.0
    cur = None
    for lo, hi in sorted(intervals):
        if cur is None or lo > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def operator_metrics(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Jobs, stages and task metrics attributed to wall-clock windows
    (epoch ms, inclusive). Attribution is by time, not by job group:
    a streaming query's jobs run under the query's own group."""
    out = {k: 0.0 for k in OPERATOR_FIELDS}
    job_iv: dict[int, list] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            job_iv[e["Job ID"]] = [e.get("Submission Time"), None]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_iv:
            job_iv[e["Job ID"]][1] = e.get("Completion Time")
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if any(_in(info.get("Submission Time"), w) for w in windows):
                out["stages"] += 1
                if info.get("Number of Tasks") == 1:
                    out["one_task_stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            ti = e.get("Task Info", {})
            if not any(_in(ti.get("Launch Time"), w) for w in windows):
                continue
            out["tasks"] += 1
            reason = (e.get("Task End Reason") or {}).get("Reason")
            if ti.get("Failed") or reason not in (None, "Success"):
                out["failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            out["executor_run_ms"] += tm.get("Executor Run Time", 0)
            out["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            out["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            )
    for w in windows:
        ivs = []
        for lo, hi in job_iv.values():
            if not _in(lo, w):
                continue
            out["jobs"] += 1
            ivs.append((lo, min(hi if hi is not None else w[1], w[1])))
        out["outside_jobs_ms"] += (w[1] - w[0]) - _union_ms(ivs)
    return out


# -- streaming progress -----------------------------------------------------

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")


class ProgressRecorder:
    """Collects every query progress of a session through a
    ``StreamingQueryListener``. ``backlog`` (optional) maps a progress
    dict to the events still unread when it was reported.

    Use as a context manager so the listener is removed before the
    session stops (py4j raises on a callback into a stopped session)."""

    def __init__(self, spark, backlog=None):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list[dict] = []
        self.backlogs: list[float] = []
        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                recorder.progress.append(p)
                if backlog is not None:
                    recorder.backlogs.append(backlog(p))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()

    def __enter__(self) -> "ProgressRecorder":
        self.spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.streams.removeListener(self._listener)


def streaming_metrics(progress: list[dict], backlogs=()) -> dict[str, float]:
    """``streaming.*`` per-layer metrics from progress events."""
    nonempty = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "streaming.epochs": float(len(progress)),
        "streaming.nonempty_epoch_fraction": (
            len(nonempty) / len(progress) if progress else 0.0
        ),
        "streaming.rows_per_epoch": (
            sum(p["numInputRows"] for p in nonempty) / len(nonempty)
            if nonempty else 0.0
        ),
        "streaming.backlog_events_max": float(max(backlogs, default=0)),
    }
    for ph in PHASES:
        vals = [p.get("durationMs", {}).get(ph, 0) for p in nonempty]
        out[f"streaming.{ph}_ms"] = float(median(vals)) if vals else 0.0
    return out


def offsets_of(progress: dict, key: str) -> dict[int, int]:
    """A single-source progress's start/end offset as ``{partition: n}``."""
    raw = progress["sources"][0].get(key)
    if raw is None:
        return {}
    doc = json.loads(raw) if isinstance(raw, str) else raw
    return {int(p): int(n) for p, n in doc.items()}


def progress_end_time(progress: dict) -> float:
    """Epoch seconds at which a micro-batch finished: trigger start
    (``timestamp``) plus its ``triggerExecution`` duration."""
    import datetime

    ts = datetime.datetime.strptime(
        progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
    ).replace(tzinfo=datetime.timezone.utc).timestamp()
    return ts + progress["durationMs"].get("triggerExecution", 0) / 1e3
