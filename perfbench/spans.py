"""Spans around public calls into the engine and catalog layers, plus the
Spark status-store readings that turn them into per-layer numbers.

Every span is recorded by wrapping a public callable from the outside
(``engine.crawl``, ``engine.global_rank``, ``SnapshotTable.write/read/
compact``, ``RunState.save``); nothing inside the program is instrumented.
Span times are ``time.time()`` so they line up with the submission and
completion times Spark keeps for each stage.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class StageRec:
    stage_id: int
    attempt: int
    t0: float  # submission, epoch s
    t1: float  # completion, epoch s
    executor_s: float
    tasks: int
    shuffle_read: int
    shuffle_write: int
    spill: int


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except FileNotFoundError:
                pass
    return total


def covered(interval: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of *interval* covered by the union of *others*."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in others if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def round_intervals(spans: list[Span]) -> list[tuple[float, float]]:
    """Round wall intervals from the ``engine.crawl`` and ``catalog.state_save``
    spans: a round runs from the previous save (or the start of the crawl
    call) to the save that commits it. The round-0 seed save only opens the
    first round."""
    out: list[tuple[float, float]] = []
    for call in (s for s in spans if s.name == "engine.crawl"):
        start = call.t0
        for s in spans:
            if s.name == "catalog.state_save" and call.t0 <= s.t0 <= call.t1:
                if s.attrs.get("round", 0) > 0:
                    out.append((start, s.t1))
                start = s.t1
    return out


class Tracer:
    """Installs the span wrappers for the duration of a ``with`` block.

    ``full=False`` wraps only the engine entry point and ``RunState.save``:
    one clock read per crawl call and per round, which gives round times in
    untraced runs. ``full=True`` wraps every layer call listed in the module
    docstring and measures the bytes each catalog write leaves on disk.
    """

    def __init__(self, full: bool):
        self.full = full
        self.spans: list[Span] = []

    def _wrap(self, name: str, fn, attrs=None):
        spans = self.spans

        def wrapper(*args, **kwargs):
            t0 = time.time()
            out = fn(*args, **kwargs)
            t1 = time.time()
            spans.append(Span(name, t0, t1, attrs(args, out) if attrs else {}))
            return out

        return wrapper

    @contextmanager
    def installed(self):
        from web_crawler_spark import catalog, engine

        table = lambda a, _: {"table": a[0].name}  # noqa: E731
        targets = [
            (engine, "crawl", "engine.crawl", None),
            (catalog.RunState, "save", "catalog.state_save",
             lambda a, _: {"round": a[1].get("round", 0)}),
        ]
        if self.full:
            targets += [
                (engine, "global_rank", "engine.global_rank", None),
                (catalog.SnapshotTable, "write", "catalog.write",
                 lambda a, snap: {"table": a[0].name, "bytes": dir_bytes(snap.path)}),
                (catalog.SnapshotTable, "read", "catalog.read", table),
                (catalog.SnapshotTable, "compact", "catalog.compact",
                 lambda a, did: {"table": a[0].name,
                                 "bytes": dir_bytes(a[0].live_paths()[0]) if did else 0}),
            ]
        originals = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in targets]
        try:
            for obj, attr, name, attrs in targets:
                setattr(obj, attr, self._wrap(name, getattr(obj, attr), attrs))
            yield self
        finally:
            for obj, attr, orig in originals:
                setattr(obj, attr, orig)


class StageLog:
    """Reads finished stages from the Spark status store (works with the UI
    off). ``mark()`` remembers the newest job; ``stages_since_mark()``
    returns every stage of the jobs submitted after it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last_job = -1
        self.mark()

    def _job_ids(self) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def mark(self) -> None:
        self.last_job = max(self._job_ids(), default=-1)

    def stages_since_mark(self) -> tuple[int, list[StageRec]]:
        jobs = [j for j in self._job_ids() if j > self.last_job]
        stage_ids: set[int] = set()
        for j in jobs:
            ids = self.store.job(j).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out = []
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if not (sd.submissionTime().isDefined() and sd.completionTime().isDefined()):
                continue  # skipped: its shuffle output was reused
            out.append(StageRec(
                sid, sd.attemptId(),
                sd.submissionTime().get().getTime() / 1e3,
                sd.completionTime().get().getTime() / 1e3,
                sd.executorRunTime() / 1e3, sd.numTasks(),
                sd.shuffleReadBytes(), sd.shuffleWriteBytes(),
                sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            ))
        return len(jobs), out

    def task_skew(self, stage: StageRec) -> float:
        """Slowest over median task duration of one stage."""
        tl = self.store.taskList(stage.stage_id, stage.attempt, 100_000)
        durs = [tl.apply(i).duration().get() for i in range(tl.size())
                if tl.apply(i).duration().isDefined()]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def within(stages: list[StageRec], spans: list[Span]) -> list[StageRec]:
    """Stages submitted inside any of *spans*."""
    return [st for st in stages if any(s.t0 <= st.t0 < s.t1 for s in spans)]


def spark_totals(n_jobs: int, stages: list[StageRec]) -> dict:
    return {
        "spark.jobs": n_jobs,
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spark.spill_bytes": sum(s.spill for s in stages),
    }
