"""The benchmark's arithmetic, kept free of Spark so it can be tested on
its own: percentiles, lag attribution, span self time and job
attribution, and failure counting."""

from __future__ import annotations

import bisect
import math
import statistics

# percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first so that 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values: list[float]) -> tuple[str, float]:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``MIN_BEYOND`` samples above its rank, as (label, value). With too
    few samples for any of them the median is the tail."""
    n = len(values)
    if not n:
        raise ValueError("tail of no samples")
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return f"p{p:g}", nearest_rank(values, p)
    return "p50", statistics.median(values)


def attribute_lag(events: list[tuple[int, float]],
                  batches: list[tuple[int, float]]) -> tuple[list[float], int]:
    """Lag of each event from its due time to the commit of the batch
    that landed it.

    ``events`` holds (seq, due time); ``batches`` holds (end seq, commit
    time), the end seq being the feed position of the batch's end offset
    (``lastEventId``). Attribution is by position, not by id, so a batch
    whose end event was later compacted out of the log still covers every
    event up to its position. An event is landed by the first batch to
    commit with an end position at or past its own. Returns the lags and
    the number of events no batch covered."""
    ordered = sorted(batches, key=lambda b: b[1])
    ends, times, reach = [], [], -1
    for end, t in ordered:
        if end > reach:  # a batch that does not advance the cursor lands nothing
            reach = end
            ends.append(end)
            times.append(t)
    lags, missing = [], 0
    for seq, due in events:
        i = bisect.bisect_left(ends, seq)
        if i == len(ends):
            missing += 1
        else:
            lags.append(times[i] - due)
    return lags, missing


def union_length(intervals: list[tuple[float, float]], lo: float = -math.inf,
                 hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` inside [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span wall minus the part of it its child spans cover, by span id.
    A span is a dict with ``id``, ``parent``, ``start`` and ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def attribute_jobs(spans: list[dict], jobs: list[tuple[float, float]]) -> dict[int | None, list[int]]:
    """Each job goes to the innermost span whose interval covers the job's
    interval; a job no span covers goes to ``None``. Returns the job
    indexes per span id."""
    out: dict[int | None, list[int]] = {}
    for j, (js, je) in enumerate(jobs):
        best = None
        for s in spans:
            if s["start"] <= js and je <= s["end"]:
                if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                    best = s
        out.setdefault(best["id"] if best else None, []).append(j)
    return out


def subtree(spans: list[dict], root_id: int) -> set[int]:
    """Ids of a span and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


class Tally:
    """Operations attempted and failed in one run. Every kind of failure
    the benchmark can see is counted here, once per operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: dict[str, int] = {}

    def add(self, kind: str, attempted: int, failed: int = 0) -> None:
        if failed < 0 or failed > attempted:
            raise ValueError(f"{kind}: {failed} failed of {attempted}")
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.reasons[kind] = self.reasons.get(kind, 0) + failed

    def check(self, kind: str, ok: bool) -> bool:
        self.add(kind, 1, 0 if ok else 1)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
