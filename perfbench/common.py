"""Pieces every workload shares: operations, output canonicalization and
latency statistics."""

from __future__ import annotations

import datetime as dt
import math
import statistics
from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal

import pyarrow as pa


@dataclass
class Op:
    """One step of a pass.  ``run`` returns the output that ``check``
    judges outside the timed region; ``counted`` steps are the workload's
    operations (latency, ops/s), the others only add to the pass wall."""

    label: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    counted: bool = True
    #: what the operation repeats across passes (default: its label)
    key: str = ""


class Workload:
    """What a run calls on a workload.  ``prepare`` builds a fresh state
    under a directory, ``warm`` runs untimed operations on it, ``ops``
    returns one pass; the remaining hooks feed per-layer metrics."""

    min_passes = 1

    def __init__(self) -> None:
        self.recalls: list[float] = []

    def counters(self) -> dict[str, int]:
        """Cumulative counts the runner differences around traced passes."""
        return {}

    def after_pass(self) -> None:
        """Checks that need a whole pass, run after its operations'."""

    def live_bytes(self) -> float:
        """Live bytes of the versioned table the pass reads."""
        return 0.0


def canon(value) -> str:
    """One cell, canonicalized the way the engine's oracle tests hash it:
    exact ``repr`` for floats, UTC-naive timestamps, ``str`` otherwise."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        return "nan" if math.isnan(value) else repr(value)
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(value, Decimal):
        return str(value)
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def canonical_rows(table: pa.Table) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """(sorted column names, sorted canonical rows) of an Arrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return tuple(cols), sorted(tuple(canon(v) for v in row) for row in zip(*data))


def same_rows(a: pa.Table, b: pa.Table) -> bool:
    return canonical_rows(a) == canonical_rows(b)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile that
    leaves at least ten samples above it.  Below 21 samples that
    percentile would not lie above the median, so the maximum stands in."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, 0
    idx = n - 11  # exactly ten samples sit above xs[idx]
    return xs[idx], 100.0 * (idx + 1) / n, n - 1 - idx


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
