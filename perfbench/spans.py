"""Traced-run tooling: spans, Spark job/stage attribution, event-log
parsing, self time.

Spans are recorded by wrapping functions at the name their caller binds
(a class attribute, or a module global the caller imported), from these
benchmark files only — the program is not edited. Every span carries the
Spark job ids that started while it was open (a ``statusTracker()``
delta: job ids are sequential, so the delta is the jobs numbered after
the highest id seen at span start); their stage ids are filled in from
the event log when the spans are written out at the end of the run.
Spans that overlap on other threads share the jobs of their overlap.
"""
from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    run_id: str = ""
    id: int = 0
    jobs: "list[int]" = field(default_factory=list)
    stages: "list[int]" = field(default_factory=list)
    info: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` toggles recording without
    unwrapping, so traced and untraced iterations can interleave in one
    session."""

    def __init__(self, sc, run_id: str = ""):
        self.sc = sc
        self.run_id = run_id
        self.spans: "list[Span]" = []
        self.enabled = True
        self._stacks: "dict[int, list[Span]]" = {}
        self._lock = threading.Lock()

    # -- job attribution ---------------------------------------------------
    def _max_job(self) -> int:
        """Highest job id the status tracker knows, reduced on the JVM
        side: converting the id array to a Python list costs one gateway
        round trip per job, which made tracing slower than the work."""
        ids = self.sc._jsc.statusTracker().getJobIdsForGroup(None)
        best = self.sc._jvm.java.util.Arrays.stream(ids).max()
        return best.getAsInt() if best.isPresent() else -1

    # -- spans -------------------------------------------------------------
    def begin(self, name: str) -> "tuple[Span, int] | None":
        """Open a span (times are epoch seconds, comparable with the event
        log). Its parent is the innermost open span of this thread or, in
        a pool thread with none open, of the main thread that spawned it."""
        if not self.enabled:
            return None
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            main = self._stacks.get(threading.main_thread().ident) or []
            outer = stack[-1] if stack else (main[-1] if main else None)
            span = Span(name, time.time(), parent=outer.id if outer else None,
                        run_id=self.run_id, id=len(self.spans))
            self.spans.append(span)
            stack.append(span)
        return span, self._max_job()

    def finish(self, token, **info) -> None:
        if token is None:
            return
        span, before = token
        span.end = time.time()
        span.jobs = list(range(before + 1, self._max_job() + 1))
        span.info.update(info)
        with self._lock:
            self._stacks[threading.get_ident()].remove(span)

    @contextlib.contextmanager
    def span(self, name: str):
        token = self.begin(name)
        try:
            yield
        finally:
            self.finish(token)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. When
        tracing is on, ``before(args, kwargs)`` runs ahead of the span and
        ``after(result, args, kwargs, before_value)`` after it; the dict
        ``after`` returns is stored in the span's ``info``."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            pre = before(args, kwargs) if before else None
            token = tracer.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException:
                tracer.finish(token, error=True)
                raise
            tracer.finish(token)
            if after:
                token[0].info.update(after(result, args, kwargs, pre) or {})
            return result

        setattr(owner, attr, wrapper)

    def wrap_bindings(self, package: str, module: str, attr: str, name: str,
                      before=None, after=None) -> int:
        """Wrap ``module.attr`` and every loaded module under ``package``
        that bound the same function by ``from module import attr``."""
        original = getattr(sys.modules[module], attr)
        owners = [
            m for n, m in sorted(sys.modules.items())
            if m is not None and (n == package or n.startswith(package + "."))
            and getattr(m, attr, None) is original
        ]
        for m in owners:
            self.wrap(m, attr, name, before, after)
        return len(owners)

    def dump(self, path: str, job_stages: "dict | None" = None) -> None:
        """Write the spans as JSON lines with their self time, filling each
        span's stage ids from ``job_stages`` (job id -> stage ids, from the
        event log)."""
        with open(path, "w") as f:
            for s in self.spans:
                if job_stages:
                    s.stages = sorted(st for j in s.jobs for st in job_stages.get(j, ()))
                f.write(json.dumps(dict(asdict(s), self_s=self_time(s, self.spans))) + "\n")


# --------------------------------------------------------------- analysis


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: "list[Span]") -> float:
    """The span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


def percentile_with_tail(values, q: float, min_beyond: int = 10):
    """``(percentile, value)``: the ``q``-th percentile when at least
    ``min_beyond`` samples lie above it, else the highest percentile that
    still has ``min_beyond`` samples beyond it; ``(None, None)`` when even
    the minimum has fewer. Nearest-rank on the sorted samples."""
    v = sorted(values)
    n = len(v)
    if n <= min_beyond:
        return None, None
    rank = min(int(q / 100.0 * n), n - 1 - min_beyond)
    return round(100.0 * rank / n, 1), v[rank]


def median(values):
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------- event log


def parse_event_log(lines, windows=None) -> dict:
    """Totals over the Spark JSON event log for the jobs submitted inside
    any of ``windows`` (``[(start, end)]`` epoch seconds; None keeps all):
    job, stage and task counts, shuffle bytes written, bytes spilled
    (memory + disk), executor run / CPU / GC seconds, those jobs'
    ``(submit, end)`` intervals in epoch seconds, and the stage ids of
    every job in the log."""
    jobs: dict = {}
    job_stages: dict = {}
    stage_job: dict = {}
    ends: dict = {}
    tasks = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = e["Submission Time"]
            job_stages[e["Job ID"]] = list(e.get("Stage IDs", []))
            for s in e.get("Stage IDs", []):
                # a later job lists a stage it reuses (skipped): the tasks
                # ran under the first job that listed it
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    keep = {
        j for j, t in jobs.items()
        if windows is None or any(a <= t / 1000.0 <= b for a, b in windows)
    }
    out = {
        "jobs": len(keep),
        "stages": len({s for s, j in stage_job.items() if j in keep}),
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "job_intervals": sorted(
            (jobs[j] / 1000.0, ends.get(j, jobs[j]) / 1000.0) for j in keep
        ),
        "job_stages": job_stages,
    }
    for e in tasks:
        if stage_job.get(e.get("Stage ID")) not in keep:
            continue
        m = e.get("Task Metrics") or {}
        out["tasks"] += 1
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return out
