"""Scoring shared by the workloads: latency percentiles from due stamps,
and the count of missing, duplicate, wrong and out-of-order
deliveries against what the generator committed."""

from __future__ import annotations

from collections import Counter
from collections.abc import Hashable, Iterable, Mapping, Sequence
from dataclasses import dataclass


def percentile(values: Sequence[float], q: float) -> float:
    """The q-th percentile (0..100), linear between closest ranks."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies(due: Mapping[Hashable, float],
              delivered_at: Iterable[tuple[Hashable, float]]) -> list[float]:
    """Delivery time minus due time, for each delivery of a key the
    generator stamped. Deliveries of unstamped keys are skipped (they
    are scored by `tally`, not timed)."""
    return [at - due[k] for k, at in delivered_at if k in due]


@dataclass
class Tally:
    expected: int = 0
    ok: int = 0
    missing: int = 0
    duplicate: int = 0
    wrong: int = 0
    out_of_order: int = 0

    @property
    def failed(self) -> int:
        return self.missing + self.duplicate + self.wrong + self.out_of_order

    def __add__(self, other: "Tally") -> "Tally":
        return Tally(*(a + b for a, b in zip(self.astuple(), other.astuple())))

    def astuple(self) -> tuple[int, ...]:
        return (self.expected, self.ok, self.missing, self.duplicate,
                self.wrong, self.out_of_order)


def tally(expected: Mapping[Hashable, object],
          delivered: Iterable[tuple[Hashable, object]]) -> Tally:
    """Score `delivered` (key, value) pairs against `expected`.

    A key never delivered is missing; each delivery of a key beyond
    its first is a duplicate; a delivery whose key was never committed,
    or whose value differs from the committed one, is wrong."""
    t = Tally(expected=len(expected))
    seen: Counter = Counter()
    for key, value in delivered:
        seen[key] += 1
        if seen[key] > 1:
            t.duplicate += 1
        elif key not in expected or expected[key] != value:
            t.wrong += 1
        else:
            t.ok += 1
    t.missing = sum(1 for k in expected if k not in seen)
    return t


def out_of_order(keys: Iterable) -> int:
    """Deliveries whose key is smaller than a key delivered before
    them. An immediate repeat is not counted here: `tally` counts it
    as a duplicate."""
    n, top = 0, None
    for k in keys:
        if top is not None and k < top:
            n += 1
        else:
            top = k
    return n
