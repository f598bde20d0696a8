"""Spans and counts recorded by the benchmark around its calls into
each layer of the program.  Spans stay in memory; the workload folds
them into per-layer medians when the run ends."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Per-unit spans (name -> seconds) and counts (name -> value).

    A disabled tracer records nothing, so the untraced run pays for
    neither the bookkeeping nor the layer-by-layer materialization
    the traced path adds."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.units: list[dict[str, float]] = []

    def begin_unit(self) -> None:
        if self.enabled:
            self.units.append(defaultdict(float))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.units[-1][f"{name}_s"] += time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.units[-1][name] += value

    def medians(self) -> dict[str, float]:
        """Median of each span or count over the traced units."""
        names = {n for u in self.units for n in u}
        return {
            n: statistics.median(u.get(n, 0.0) for u in self.units)
            for n in sorted(names)
        }

    def growth(self, name: str) -> float:
        """Last traced unit minus first: how a span moved with history."""
        return self.units[-1].get(name, 0.0) - self.units[0].get(name, 0.0)
