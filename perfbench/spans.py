"""Spans around the benchmark's calls into the program, with per-span
Spark job, task, shuffle and spill counts read from Spark's status store.

A span records its name, start, end, parent span, the run it belongs to,
the operation (request) it serves and the benchmark phase.  Spans stay in
memory and are written out once, when the run ends.  The status store is
the one Spark keeps for its UI; it is populated with the UI disabled.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNT_KEYS = ("jobs", "tasks", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    op: str
    phase: str
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - _union_length(covered)
    return out


class StatusCounts:
    """Reads jobs started since the last call from Spark's status store
    and sums their tasks, shuffle-write bytes and spill bytes.  Each stage
    is counted once even when several jobs list it.  Because every span
    takes the counts when it ends, a job is attributed to the innermost
    span open when it ran: span counts are self counts."""

    def __init__(self, spark):
        self._store = spark._jsc.sc().statusStore()
        self._last_job = self._top_job()
        self._seen_stages: set[int] = set()

    def _top_job(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict:
        jobs = self._store.jobsList(None)
        counts = dict.fromkeys(COUNT_KEYS, 0)
        shuffle = spill = 0
        top = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            counts["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                stage = self._store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                counts["tasks"] += stage.numCompleteTasks()
                shuffle += stage.shuffleWriteBytes()
                spill += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        self._last_job = top
        counts["shuffle_write_mb"] = shuffle / 1e6
        counts["spill_mb"] = spill / 1e6
        return counts


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.phase = "setup"
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._open_counts: dict[int, dict] = {}
        self._ids = itertools.count()
        self._counts: StatusCounts | None = None

    def attach(self, spark) -> None:
        """Read Spark counts from ``spark``'s status store from now on."""
        if self.enabled:
            self._counts = StatusCounts(spark)

    def _take_into(self, sid: int | None) -> None:
        """Attribute the jobs run since the last take to open span ``sid``."""
        t0 = time.perf_counter()
        if self._counts is not None and sid is not None:
            acc = self._open_counts[sid]
            for k, v in self._counts.take().items():
                acc[k] = acc.get(k, 0) + v
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._take_into(parent)
        self._stack.append(sid)
        self._open_counts[sid] = {}
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._take_into(sid)
            self._stack.pop()
            counts = self._open_counts.pop(sid)
            self.spans.append(
                Span(sid, name, start, end, parent, self.run_id, op, self.phase, counts)
            )

    def dump(self, path: str) -> None:
        """Write one JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self_s": own[s.id]}) + "\n")
