"""Shared pieces of the benchmark workloads: the run context and statistics."""

from __future__ import annotations

import os
import statistics
import sys
from dataclasses import dataclass, field

from tracing import Tracer

#: Set-ups per run; ``setup_s`` is their median. Inputs and expected
#: results are made once, before the first set-up and outside its timing.
SETUP_REPEATS = 3
#: Two halves of the timed steps whose medians differ by more than this
#: share flag the run as drifting.
DRIFT_LIMIT = 0.15


@dataclass
class Run:
    """What a workload receives: the session, its fresh run directory, the
    measuring time, the input seed and size, and the tracer."""

    spark: object
    run_dir: str
    seconds: float
    seed: int
    tiny: bool
    tracer: Tracer
    wrong_expected: bool = False
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)
    #: wall-clock (epoch s) window of every timed step, for the event log
    windows: list[tuple[float, float]] = field(default_factory=list)
    #: bytes of input each timed step read (ingest only)
    input_bytes: list[int] = field(default_factory=list)
    #: per table layout, the spans whose Spark output is that layout's
    #: writes (ingest only)
    writers: dict[str, set[str]] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}")


@dataclass
class Result:
    """A workload's output: its end-to-end and per-layer values by metric
    name, and the timed step walls."""

    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    steps: list[float]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def drift_check(run: Run, steps: list[float]) -> None:
    """Flag a run whose first-half and second-half step medians differ by
    more than ``DRIFT_LIMIT``."""
    if len(steps) < 4:
        run.notes["drift"] = "too few steps to judge"
        return
    half = len(steps) // 2
    first, second = median(steps[:half]), median(steps[half:])
    drift = (second - first) / first
    run.notes["drift"] = round(drift, 4)
    if abs(drift) > DRIFT_LIMIT:
        log(f"WARNING: step medians drift {drift:+.1%} between run halves")


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
