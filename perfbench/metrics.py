"""Summary statistics and naming rules for the benchmark's metrics."""

from __future__ import annotations

import math
import re

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Percentiles a timing may be reported at, highest first.
_PERCENTILES = (99, 95, 90, 75)


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, then at
    most 63 more letters, digits, ``_``, ``.`` or ``-``."""
    return _NAME.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return _UNIT.fullmatch(unit) is not None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int | None:
    """The highest reportable percentile for ``n`` samples: one with at
    least ten samples beyond it, or None when even p75 has fewer."""
    for p in _PERCENTILES:
        if n - math.ceil(p / 100 * n) >= 10:
            return p
    return None


class Tally:
    """Operations attempted and failed. An operation fails when it raises
    or when its result is found wrong; a wrong result found by a later
    check fails every execution of that operation type in the run."""

    def __init__(self):
        self.attempted = 0
        self.raised = 0
        self._runs: dict[str, int] = {}
        self._wrong: set[str] = set()

    def ran(self, kind: str, ok: bool) -> None:
        self.attempted += 1
        if ok:
            self._runs[kind] = self._runs.get(kind, 0) + 1
        else:
            self.raised += 1

    def wrong(self, kind: str) -> None:
        self._wrong.add(kind)

    @property
    def failed(self) -> int:
        return self.raised + sum(self._runs.get(k, 0) for k in self._wrong)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
