"""Pure measurement helpers: percentiles, fire-latency lookup,
backlog growth and output-check accounting.  No Spark here, so the
benchmark's own tests exercise these directly."""

from __future__ import annotations

import math
import statistics
from bisect import bisect_left
from collections import Counter, defaultdict
from collections.abc import Iterable, Sequence

#: A percentile is reported only when at least this many samples lie
#: strictly beyond it; below that it says more about one outlier than
#: about the distribution.
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float | None:
    """Nearest-rank ``p``-quantile (0 < p < 1) of ``values``, or None when
    fewer than :data:`MIN_BEYOND` samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def session_triggers(
    events: Iterable[tuple[int, float, int, float]], gap_s: float
) -> dict[tuple[int, int], float]:
    """For each session of each key, the creation time of the event that
    made it fireable.

    ``events`` holds ``(key, event_time_s, event_id, created_s)`` in any
    order.  Sessions are maximal runs of a key's events (ordered by event
    time, then id) whose gaps are at most ``gap_s``; a session is keyed by
    ``(key, floor(first event time))``, the ``w_start`` the engine emits.
    A session whose last event is at ``L`` becomes fireable when the key
    sees an event at ``>= L + gap_s``; the first such event (in event-time
    order, which is also replay order) is the trigger.  Sessions that
    never become fireable are absent.
    """
    per_key: dict[int, list[tuple[float, int, float]]] = defaultdict(list)
    for key, es, eid, created in events:
        per_key[key].append((es, eid, created))
    out: dict[tuple[int, int], float] = {}
    for key, evs in per_key.items():
        evs.sort()
        times = [e[0] for e in evs]
        start = 0
        for i in range(1, len(evs) + 1):
            if i < len(evs) and times[i] - times[i - 1] <= gap_s:
                continue
            last = times[i - 1]
            j = bisect_left(times, last + gap_s, lo=i)
            if j < len(evs):
                out[(key, math.floor(times[start]))] = evs[j][2]
            start = i
    return out


def carried_backlog(landed: Sequence[tuple[float, int]],
                    batches: Sequence[tuple[float, int]]
                    ) -> list[tuple[float, float]]:
    """The backlog each micro-batch leaves behind.

    ``landed`` holds ``(wall time a source file landed, its rows)``;
    ``batches`` holds ``(wall time a micro-batch started, rows taken by it
    and every earlier batch)``.  Each point is ``(start, rows that had
    landed before the batch started but were not taken by it)``.  An
    engine that keeps up takes every file present when a batch starts, so
    this stays near 0 however long its batches take; one that falls behind
    carries a backlog that grows from batch to batch."""
    return [(start, sum(rows for t, rows in landed if t <= start) - taken)
            for start, taken in batches]


def backlog_growth_per_s(points: Sequence[tuple[float, float]]) -> float:
    """Least-squares slope of backlog rows over wall time.

    ``points`` are ``(wall_s, rows offered but not yet processed)``, one
    per micro-batch (see :func:`carried_backlog`).  A stream that keeps up
    has a slope near 0; one that falls behind grows at up to the offered
    rate."""
    if len(points) < 2:
        return 0.0
    ts = [p[0] for p in points]
    ys = [p[1] for p in points]
    mt, my = statistics.fmean(ts), statistics.fmean(ys)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return 0.0
    return sum((t - mt) * (y - my) for t, y in zip(ts, ys)) / var


def backlog_grows(slope_rows_per_s: float, offered_rate: float,
                  tolerance: float = 0.1) -> bool:
    """True when the backlog grows by more than ``tolerance`` of the
    offered rate: the engine is not keeping up and latency then depends
    on how long the run lasts."""
    return slope_rows_per_s > tolerance * offered_rate


def backlog_error(points: Sequence[tuple[float, float]], slope: float,
                  offered_rate: float, min_points: int) -> str | None:
    """Why the backlog check fails, or None when it passes: too few
    micro-batches to fit a slope to, or a backlog that grows."""
    if len(points) < min_points:
        return (f"{len(points)} micro-batches in the open-loop window; "
                f"{min_points} are needed to test backlog growth")
    if backlog_grows(slope, offered_rate):
        return (f"backlog grows by {slope:.1f} rows/s at an offered rate "
                f"of {offered_rate}/s")
    return None


def schedule_error(lags_s: Sequence[float], limit_s: float) -> str | None:
    """Why the generator check fails, or None: a source file that landed
    more than ``limit_s`` after its due time means the generator, not the
    engine, set that file's latency."""
    late = max(lags_s, default=0.0)
    if late > limit_s:
        return f"a source file landed {late:.3f}s late (limit {limit_s}s)"
    return None


class Outcomes:
    """Attempted/failed accounting for every measured operation.

    An operation fails when it raises, times out or returns a result that
    differs from its oracle.  Failures are counted and kept with their
    reason; none is dropped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[tuple[str, str]] = []

    def record(self, name: str, error: str | None, n: int = 1) -> bool:
        """Count ``n`` attempts, all failed unless ``error`` is None."""
        self.attempted += n
        if error is not None:
            self.failed += n
            self.failures.append((name, error))
        return error is None

    def check(self, name: str, got_rows: list[str] | None,
              want_rows: list[str], error: str | None = None) -> bool:
        """Count one attempt whose canonical rows must equal the oracle's.

        ``got_rows`` is None (with ``error`` set) when the operation
        raised before producing a result."""
        if error is None:
            error = mismatch(got_rows or [], want_rows)
        return self.record(name, error)

    def check_rows(self, name: str, got_rows: list[str] | None,
                   want_rows: list[str], error: str | None = None) -> bool:
        """Count each oracle row as one operation (a fired session, say):
        an oracle row missing from ``got_rows`` fails, and so does each
        row ``got_rows`` has beyond the oracle.  ``got_rows`` is None
        (with ``error`` set) when nothing could be collected, which fails
        every oracle row."""
        if error is not None:
            return self.record(name, error, max(len(want_rows), 1))
        missing = Counter(want_rows) - Counter(got_rows)
        extra = Counter(got_rows) - Counter(want_rows)
        bad_want = sum(missing.values())
        bad_extra = sum(extra.values())
        self.record(name, None, len(want_rows) - bad_want)
        if bad_want or bad_extra:
            example = next(iter(missing or extra))
            self.record(name, f"{bad_want} oracle rows missing, {bad_extra} "
                        f"extra rows; e.g. {example!r}", bad_want + bad_extra)
        return not (bad_want or bad_extra)

    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def mismatch(got: list[str], want: list[str]) -> str | None:
    """None when two canonical row multisets are equal, else a one-line
    description of the first difference."""
    if got == want:
        return None
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    a, b = next((x, y) for x, y in zip(got, want) if x != y)
    return f"row {a!r} != oracle {b!r}"
