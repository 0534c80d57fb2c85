"""Measurement helpers: percentiles, span self time, process memory."""

from __future__ import annotations

import math
from dataclasses import dataclass

# A percentile is reported as resolved only when at least this many
# samples lie strictly beyond it.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float, weights: list[float] | None = None) -> float:
    """Nearest-rank q-th percentile (0 < q <= 100): the smallest sample
    whose cumulative weight reaches q% of the total (unit weights by
    default)."""
    if not samples:
        raise ValueError("percentile of no samples")
    if weights is None:
        weights = [1.0] * len(samples)
    pairs = sorted(zip(samples, weights))
    total = sum(weights)
    target = q / 100.0 * total * (1 - 1e-12)
    acc = 0.0
    for x, w in pairs:
        acc += w
        if acc >= target:
            return x
    return pairs[-1][0]


def resolved(n: int, q: float) -> bool:
    """True when the nearest-rank q-th percentile of ``n`` samples has
    at least MIN_BEYOND samples beyond it."""
    if n <= 0:
        return False
    return n - max(1, math.ceil(q / 100.0 * n)) >= MIN_BEYOND


def highest_resolved(n: int) -> int | None:
    """The highest whole percentile that ``n`` samples resolve, or
    None when even the median does not have MIN_BEYOND beyond it."""
    best = None
    for q in range(1, 100):
        if resolved(n, q):
            best = q
    return best


def median(samples: list[float]) -> float:
    ordered = sorted(samples)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: object

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat. Steal
    is time the hypervisor ran something else while a CPU wanted to run."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)
