"""Spans, Spark event-log folding and process-tree memory for the benchmark.

A span brackets one call into an engine layer from the benchmark's own
code.  While it is open, the span's instance id is the Spark job
description, so every job it launches carries it into the event log.
After the session stops, :func:`fold_event_log` turns the log into
per-span task metrics.  A span's counts are inclusive: a job counts for
its own span and every enclosing one.  Stages of the timed rounds
that scan the ``edf`` source are also credited to a ``sources.edf_scan``
span under the job's span, because that scan runs inside the write that
consumes it.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: Per-span measures folded from task metrics, with the factor from the
#: integer unit they are summed in (ms, bytes) to the reported one.
TASK_MEASURES = {"jobs": 1, "tasks": 1, "task_s": 1e-3, "gc_s": 1e-3, "sched_wait_s": 1e-3,
                 "shuffle_mb": 1e-6, "rows": 1}

#: RDD scope name of the ``format("edf")`` scan in a stage's RDD chain.
EDF_SCAN_SCOPE = "BatchScan edf"
EDF_SCAN_SPAN = "sources.edf_scan"


@dataclass
class SpanRecord:
    sid: int
    name: str
    parent: int | None
    round: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    counts: dict[str, int] = field(default_factory=lambda: defaultdict(int))


class Tracer:
    """Records spans; a disabled tracer hands out null contexts."""

    def __init__(self, enabled: bool):
        self.sc = None  # the SparkContext, once bound
        self.enabled = enabled
        self.paused = False
        self.round: int | None = None
        self.records: list[SpanRecord] = []
        self._stack: list[SpanRecord] = []

    def bind(self, spark_context) -> None:
        self.sc = spark_context

    def span(self, name: str):
        if not self.enabled or self.paused:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def pause(self):
        """Run a block without recording spans inside the current one."""
        was, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = was

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = self.start(name)
        try:
            yield rec
        finally:
            self.finish(rec)

    def start(self, name: str) -> SpanRecord | None:
        """Open a span that a later :meth:`finish` closes (may be unpaired)."""
        if not self.enabled or self.paused:
            return None
        parent = self._stack[-1] if self._stack else None
        rec = SpanRecord(
            len(self.records), name, parent.sid if parent else None, self.round, time.time()
        )
        self.records.append(rec)
        self._stack.append(rec)
        self._describe(rec)
        return rec

    def finish(self, rec: SpanRecord | None) -> None:
        """Close ``rec`` and any span still open inside it."""
        if rec is None or rec not in self._stack:
            return
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            top.end = now
            if top.parent is not None:
                self.records[top.parent].children_s += top.end - top.start
            if top is rec:
                break
        self._describe(self._stack[-1] if self._stack else None)

    def open_span(self, name: str) -> SpanRecord | None:
        """The innermost open span called ``name``, if any."""
        return next((r for r in reversed(self._stack) if r.name == name), None)

    def _describe(self, rec: SpanRecord | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"{rec.name}#{rec.sid}" if rec else None)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def _sid(description: str | None) -> int | None:
    if not description or "#" not in description:
        return None
    tail = description.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None


def fold_event_log(path: str, tracer: Tracer) -> dict[str, int]:
    """Credit every job's task metrics to its span and the span's ancestors.

    Returns counts of jobs with and without a span, so a harness can
    check that every job was attributed.
    """
    stage_job: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    stage_submit: dict[int, int] = {}
    edf_stages: set[int] = set()
    scans: dict[int, SpanRecord] = {}  # enclosing span id → its scan span
    by_sid = {r.sid: r for r in tracer.records}
    attributed = unattributed = 0

    def chain(sid: int | None):
        while sid is not None:
            rec = by_sid[sid]
            yield rec
            sid = rec.parent

    def edf_span(parent: SpanRecord) -> SpanRecord:
        if parent.sid not in scans:
            scans[parent.sid] = SpanRecord(-1, EDF_SCAN_SPAN, parent.sid, parent.round, 0.0)
        return scans[parent.sid]

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sid = _sid(ev.get("Properties", {}).get("spark.job.description"))
                sid = sid if sid in by_sid else None
                job_span[ev["Job ID"]] = sid
                for st in ev["Stage IDs"]:
                    stage_job.setdefault(st, ev["Job ID"])
                if sid is None:
                    unattributed += 1
                else:
                    attributed += 1
                    for rec in chain(sid):
                        rec.counts["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                if any(EDF_SCAN_SCOPE in r.get("Scope", "") for r in info["RDD Info"]):
                    edf_stages.add(info["Stage ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = info["Stage ID"]
                sid = job_span.get(stage_job.get(st))
                if st in edf_stages and sid is not None and by_sid[sid].round is not None:
                    dur = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
                    edf_span(by_sid[sid]).end += dur
            elif kind == "SparkListenerTaskEnd":
                st = ev["Stage ID"]
                sid = job_span.get(stage_job.get(st))
                if sid is None:
                    continue
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                shuffle_read = m.get("Shuffle Read Metrics", {})
                # Integer units (ms, bytes) so sums repeat exactly in any
                # event order; span_metrics converts to s and MB.
                add = {
                    "tasks": 1,
                    "task_s": m.get("Executor Run Time", 0),
                    "gc_s": m.get("JVM GC Time", 0),
                    "sched_wait_s": max(0, info["Launch Time"] - stage_submit.get(st, info["Launch Time"])),
                    "shuffle_mb": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "rows": m.get("Input Metrics", {}).get("Records Read", 0)
                    + shuffle_read.get("Total Records Read", 0),
                }
                recs = list(chain(sid))
                if st in edf_stages and by_sid[sid].round is not None:
                    recs.append(edf_span(by_sid[sid]))
                for rec in recs:
                    for k, v in add.items():
                        rec.counts[k] += v
    # A scan span's wall is the summed time of its stages; it has no
    # jobs of its own.
    tracer.records.extend(scans.values())
    return {"attributed_jobs": attributed, "unattributed_jobs": unattributed}


def span_metrics(tracer: Tracer, n_rounds: int, names: list[str]) -> dict[str, float]:
    """Per-round totals of every span measure, keyed ``<span>.<measure>``.

    Spans opened during the timed rounds are divided by ``n_rounds``;
    set-up spans (no round) are reported once.  ``self_s`` is wall time
    not covered by child spans.
    """
    walls: dict[str, float] = defaultdict(float)
    totals: dict[tuple[str, float], int] = defaultdict(int)
    for rec in tracer.records:
        scale = 1.0 / n_rounds if rec.round is not None else 1.0
        wall = rec.end - rec.start
        walls[f"{rec.name}.wall_s"] += wall * scale
        walls[f"{rec.name}.self_s"] += (wall - rec.children_s) * scale
        for k in TASK_MEASURES:
            totals[(f"{rec.name}.{k}", scale)] += rec.counts.get(k, 0)
    out = dict(walls)
    for (name, scale), total in sorted(totals.items()):
        out[name] = out.get(name, 0.0) + total * TASK_MEASURES[name.rsplit(".", 1)[1]] * scale
    return {n: out.get(n, 0.0) for n in names}


class MemorySampler:
    """Peak memory of this process and all its descendants.

    Polls ``/proc`` from a daemon thread and sums the proportional set
    size (PSS) of this Python process, the JVM it launched and the JVM's
    Python workers.  PSS splits pages shared between forked workers
    among them, so the sum is the tree's real footprint.
    """

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def reset(self) -> None:
        """Forget the peak so far (called when the timed phase starts)."""
        self.peak_bytes = 0
        self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], list(kids.get(os.getpid() if root is None else root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out
