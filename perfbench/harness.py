"""Measurement plumbing shared by the workloads.

- :class:`Run` drives the closed loop (one client: the next repetition
  starts when the previous one returns), times every call into the
  package, and counts operations attempted and failed.
- :func:`force` evaluates a DataFrame in one job and fingerprints it.
- :func:`tail_percentile` is the reporting rule for tail latency.
- :func:`tree_peak_rss_mb` sums VmHWM over this process and every
  descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr; stdout stays machine-readable."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f} {msg}", file=sys.stderr,
          flush=True)


class RepFailed(Exception):
    """A call raised; the rest of the repetition is skipped."""


@dataclass
class Output:
    rows: int
    checksum: int
    sums: dict = field(default_factory=dict)


def force(df, sums=()) -> Output:
    """Evaluate every column of ``df`` in ONE job and return its row
    count, ``bit_xor(xxhash64(all columns))`` and the sum of each column
    in ``sums``. ``count()`` alone would let Catalyst prune the columns
    the benchmark means to time."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))]
    aggs += [F.sum(c) for c in sums]
    row = df.agg(*aggs).collect()[0]
    return Output(int(row[0]), int(row[1] or 0),
                  {c: row[2 + i] for i, c in enumerate(sums)})


def tail_percentile(samples, min_beyond: int = 10):
    """Highest nearest-rank percentile (at or above the median) that has
    at least ``min_beyond`` samples beyond it: ``(percentile, value)``,
    or None when there are too few samples."""
    n = len(samples)
    if n <= min_beyond:
        return None
    p = 100 * (n - min_beyond) // n
    if p < 50:
        return None
    return p, sorted(samples)[math.ceil(p * n / 100) - 1]


def median(xs):
    """Median, or 0.0 for no samples (a run whose calls all failed)."""
    return statistics.median(xs) if xs else 0.0


@dataclass
class Call:
    phase: str        # "warm" or "timed"
    rep: int
    name: str
    seconds: float
    traced: bool
    info: dict


class Run:
    """One benchmark process: calls, checks, goldens and failure counts.

    ``goldens`` maps a check key to ``[rows, checksum]`` recorded on the
    reference tree for this workload and seed; keys with no golden are
    checked by invariants only.
    """

    def __init__(self, goldens: dict | None = None, tracer=None):
        self.goldens = goldens or {}
        self.tracer = tracer
        self.calls: list[Call] = []
        self.observed: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phase = "warm"
        self.rep = 0
        self.traced = False
        self._op_failed = False

    # ------------------------------------------------------------ calls

    def call(self, name: str, fn):
        """Time ``fn()`` — one operation — and return its result. A raise
        is counted as a failed operation and ends the repetition."""
        self.attempted += 1
        self._op_failed = False
        span = (self.tracer.span(name) if self.traced
                else contextlib.nullcontext())
        try:
            with span:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception:
            self._fail(f"{name} raised:\n{traceback.format_exc()}")
            raise RepFailed(name) from None
        self.calls.append(Call(self.phase, self.rep, name, dt, self.traced, {}))
        log(f"{self.phase} rep {self.rep} {name} {dt:.3f}s")
        return out

    def note(self, **info):
        """Attach counts (rows, queries, …) to the last call and its span."""
        last = self.calls[-1]
        last.info.update(info)
        if last.traced and "rows" in info:
            self.tracer.spans[-1]["rows_out"] = info["rows"]

    def check(self, ok: bool, what: str) -> bool:
        """Output check on the last call; a failure marks it failed once."""
        if not ok:
            self._fail(f"{self.calls[-1].name}: {what}")
        return ok

    def golden(self, key: str, out: Output) -> None:
        self.observed[key] = [out.rows, out.checksum]
        want = self.goldens.get(key)
        if want is not None:
            self.check([out.rows, out.checksum] == list(want),
                       f"golden {key}: got {[out.rows, out.checksum]}, want {want}")

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)
        log(f"FAILED {msg}")
        if not self._op_failed:
            self._op_failed = True
            self.failed += 1

    # ------------------------------------------------------------ loop

    def repetition(self, rep_fn, traced: bool = False) -> float | None:
        """Run one repetition; returns its timed-section seconds (the sum
        of its call times), or None when a call raised."""
        n0 = len(self.calls)
        self.traced = traced
        root = (self.tracer.span("rep") if traced
                else contextlib.nullcontext())
        ok = True
        try:
            with root:
                rep_fn(self)
        except RepFailed:
            ok = False
        finally:
            self.traced = False
            self.rep += 1
        return sum(c.seconds for c in self.calls[n0:]) if ok else None

    def times(self, name: str) -> list[float]:
        return [c.seconds for c in self.calls if c.phase == "timed" and c.name == name]


MIN_REPS = 2   # a median needs more than one sample


def measure(run: Run, rep_fn, seconds: float, max_reps: int,
            traced: bool = False) -> list[float]:
    """Closed loop: repetitions back to back until ``seconds`` have passed
    and at least MIN_REPS ran. Returns the timed-section seconds of each
    repetition that completed."""
    run.phase = "timed"
    walls = []
    t_end = time.perf_counter() + seconds
    for n in range(1, max_reps + 1):
        wall = run.repetition(rep_fn, traced=traced)
        if wall is not None:
            walls.append(wall)
        if n >= MIN_REPS and time.perf_counter() >= t_end:
            break
    return walls


# ---------------------------------------------------------------- process

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Σ VmHWM (peak resident set) over this process and its descendants."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
