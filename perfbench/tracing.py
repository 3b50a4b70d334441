"""Spans recorded from the benchmark around its calls into each layer of
the program, plus Spark task metrics attributed to those spans.

A span is opened around a call into one of the program's public functions
(``Tracer.span``), either directly in the workload code or by a wrapper the
traced run installs on the function (``Tracer.wrap``): the program's files
are never edited. While a span is open, the SparkContext job group names
it, so every Spark job the call starts carries the span id in the event
log. ``EventLog`` reads that log back after the session stops and sums the
task metrics of each span's jobs.

With tracing off, ``Tracer.span`` does nothing and no wrapper is installed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

# task-metric counters kept per span (all sums over the span's tasks, except
# task_skew = max/median executor run time within the span's largest stage)
COUNTERS = (
    "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_skew", "failed_tasks", "python_bytes", "jobs",
)

_PYTHON_SENT = "data sent to Python workers"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "error", "metrics")

    def __init__(self, sid, name, parent, start, attrs):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.attrs = attrs
        self.error = None
        self.metrics = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. ``enabled=False`` makes every method a cheap
    no-op so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self.sc = None

    def bind(self, sc) -> None:
        self.sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter(), attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, attrs_of=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call. ``attrs_of(args, kwargs)`` adds span attributes;
        ``after(span, result, args)`` may add more once the call returns
        (outside the span's timed interval)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs) as s:
                out = fn(*args, **kwargs)
            if after is not None and s is not None:
                after(s, out, args)
            return out

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- analysis ------------------------------------------------------

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = s.seconds - covered
        return out

    def layer_self_seconds(self) -> dict[str, float]:
        """Self time summed per layer; a layer is the span name up to its
        last dot for function spans (``io.snapshot.write`` -> ``io.snapshot``)."""
        own = self.self_seconds()
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.attrs.get("layer") or s.name.rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + own[s.id]
        return out

    def named(self, name: str, **attrs) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def parent_of(self, span: Span) -> Span | None:
        return self.spans[span.parent] if span.parent is not None else None

    def inclusive(self, span: Span) -> dict:
        """Counters of a span plus all its descendants."""
        total = {k: 0.0 for k in COUNTERS}
        todo = [span]
        while todo:
            s = todo.pop()
            for k in COUNTERS:
                v = s.metrics.get(k, 0.0)
                total[k] = max(total[k], v) if k == "task_skew" else total[k] + v
            todo.extend(self.children(s))
        return total

    def dump(self, path: str, t0: float) -> None:
        own = self.self_seconds()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(own[s.id], 6), "error": s.error,
                    "attrs": s.attrs, "metrics": s.metrics,
                }, default=str) + "\n")


class EventLog:
    """Task metrics per job group, read from one Spark event-log file."""

    def __init__(self, path: str):
        self.path = path

    def per_group(self) -> dict[str, dict]:
        stage_group: dict[int, str] = {}
        group_jobs: dict[str, int] = {}
        tasks: dict[int, list[dict]] = {}
        with open(self.path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    group_jobs[g] = group_jobs.get(g, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
        out: dict[str, dict] = {}
        for g, n in group_jobs.items():
            out[g] = {k: 0.0 for k in COUNTERS}
            out[g]["jobs"] = float(n)
        largest: dict[str, float] = {}  # task time of each group's largest stage
        for sid, evs in tasks.items():
            g = stage_group.get(sid)
            if g is None:
                continue
            acc = out[g]
            run_ms = []
            for ev in evs:
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    acc["failed_tasks"] += 1
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in info.get("Accumulables", []):
                    if a.get("Name") == _PYTHON_SENT:
                        acc["python_bytes"] += float(a.get("Update", 0) or 0)
                run_ms.append(m.get("Executor Run Time", 0))
            total = float(sum(run_ms))
            if len(run_ms) >= 2 and total > largest.get(g, -1.0):
                largest[g] = total
                med = statistics.median(run_ms)
                acc["task_skew"] = max(run_ms) / med if med > 0 else 1.0
        return out

    def attach(self, tracer: Tracer) -> int:
        """Copy each group's counters onto its span; returns spans matched."""
        groups = self.per_group()
        hit = 0
        for s in tracer.spans:
            m = groups.get(f"{tracer.run_id}:{s.id}")
            if m is not None:
                s.metrics = m
                hit += 1
        return hit


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
             if not n.startswith(("appstatus", ".")) and not n.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {files}")
    return files[0]
