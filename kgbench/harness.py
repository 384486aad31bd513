"""Pure-Python measurement helpers for the benchmark: spans and self time,
the percentile-emission rule, operation accounting and peak memory.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest kgbench``).
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the tail is a handful of outliers.
MIN_TAIL_SAMPLES = 10


def p50(values: list[float]) -> float:
    if not values:
        raise ValueError("p50 of no samples")
    return float(statistics.median(values))


def tail_percentile(values: list[float], q: float = 0.90) -> float | None:
    """The ``q`` percentile of ``values`` (nearest rank), or ``None`` when
    fewer than :data:`MIN_TAIL_SAMPLES` samples lie strictly beyond it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(round(q * len(ordered), 9)))
    value = ordered[rank - 1]
    beyond = sum(1 for v in ordered if v > value)
    if beyond < MIN_TAIL_SAMPLES:
        return None
    return float(value)


@dataclass
class Outcomes:
    """Counts operations attempted and failed. An operation fails when it
    raises or when its answer is wrong; ``error_rate`` is their ratio."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, ok: bool, what: str = "") -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)
        return ok

    def run(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; a raised exception counts as a failure and yields
        ``None``. The caller records wrong answers with :meth:`record`."""
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 — the benchmark must keep counting
            self.record(False, f"{what}: {type(e).__name__}: {e}")
            return None
        self.record(True)
        return out

    def check(self, what: str, ok: bool) -> bool:
        return self.record(bool(ok), what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals.
    Children may overlap one another (spans opened by concurrent client
    threads under one parent); the union counts shared time once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        out[s.id] = (s.end - s.start) - _covered(
            children.get(s.id, []), s.start, s.end
        )
    return out


class Tracer:
    """Records spans in memory. Disabled, :meth:`span` costs one attribute
    test; enabled, each span records its name, interval and parent (the
    innermost open span of the same thread, or an explicit ``parent``).
    The time spent in the tracer's own bookkeeping is accumulated in
    :attr:`overhead_s`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                parent=parent if parent is not None else (st[-1] if st else None),
                thread=threading.get_ident(),
                start=0.0,
            )
            self.spans.append(s)
        st.append(s.id)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s.id
        finally:
            t2 = time.perf_counter()
            s.end = t2
            st.pop()
            with self._lock:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def layer_seconds(self) -> dict[str, float]:
        """Total self time per span name."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.id in st:
                out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs had work, summed over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle ... steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")
