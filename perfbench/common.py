"""Pure helpers shared by the benchmark workloads: percentile rules,
metric-name checks, order-insensitive result digests, open-loop
lateness, process memory and the in-memory span tracer.

Nothing here imports Spark, so the helpers are unit-tested on their own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import time
from collections.abc import Iterable, Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not isinstance(name, str) or not METRIC_NAME.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def percentile(samples: Sequence[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``samples``."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q``-quantile's rank."""
    return n - math.ceil(q * n)


def supported_percentile(samples: Sequence[float], q: float, min_beyond: int = 10):
    """The ``q``-quantile, or None when fewer than ``min_beyond`` samples
    lie beyond it (a p90 needs at least 100 samples)."""
    if samples_beyond(len(samples), q) < min_beyond:
        return None
    return percentile(samples, q)


def _canon(v) -> str:
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def result_digest(rows: Iterable, columns: Sequence[str]) -> str:
    """Order-insensitive digest of a result: the sorted rows, each value
    rendered as the row-comparison gate does (floats at 6 decimals),
    columns taken in sorted-name order. ``rows`` are mappings by column."""
    cols = sorted(columns)
    lines = sorted("|".join(_canon(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def lateness(due: Sequence[float], done: Sequence[float]) -> list[float]:
    """How late each scheduled write of an open-loop generator finished:
    ``done - due`` per write, 0 for one that finished on time."""
    if len(due) != len(done):
        raise ValueError("one completion time per due time")
    return [max(0.0, d1 - d0) for d0, d1 in zip(due, done)]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (from /proc/<pid>/task/*/children)."""
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(x) for x in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def jvm_pid(pid: int) -> int | None:
    """The java process under ``pid`` (the py4j gateway's JVM)."""
    stack = child_pids(pid)
    while stack:
        c = stack.pop()
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    return c
        except OSError:
            continue
        stack.extend(child_pids(c))
    return None


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans kept in memory (name, start, end, parent index, op id) and
    written out once at the end. Single-threaded: the benchmark drives
    the engine from one client thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, fn, name: str, counter: str | None = None):
        """``fn`` wrapped in a span (and a call counter when given)."""

        def traced(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class Patcher:
    """Replace attributes for the length of a traced run, then restore."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


class Result:
    """What a workload run hands back to the command line."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.metrics: dict[str, float] = {}
        self.latencies: list[float] = []
        self.diagnostics: dict[str, object] = {"nproc": len(os.sched_getaffinity(0))}
