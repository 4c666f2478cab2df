"""Operation runner shared by the workloads.

Every operation, timed or not, goes through :meth:`Harness.op`: it clears
Spark's cache (so no operation is served from a frame an earlier one
persisted), runs under its own job group (so its Spark jobs, tasks and
shuffle bytes are counted exactly), resets and reads the process tree's peak
RSS, checks the output and records a failure under the operation's name.
"""

from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from . import procs
from .trace import Tracer


@dataclass
class OpRecord:
    op_id: str
    kind: str
    timed: bool
    traced: bool
    wall_s: float
    ok: bool
    peak_rss_mb: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_write_mb: float = 0.0
    info: dict = field(default_factory=dict)


class Harness:
    def __init__(self, spark, tracer: Tracer, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.trace = trace
        self.ops: list[OpRecord] = []
        self._status_store = None
        try:
            self._status_store = self.sc._jsc.sc().statusStore()
        except Exception:  # py4j surface differs across Spark versions
            pass

    def op(
        self,
        kind: str,
        fn: Callable[[], Any],
        check: Callable[[Any], str | None] | None = None,
        *,
        timed: bool = True,
        info: Callable[[Any], dict] | None = None,
    ) -> Any:
        """Run one operation; returns its result, or None if it failed.

        ``check`` gets the result and returns None when it is correct, else
        a message.  ``info`` extracts per-operation facts (counts) that the
        per-layer report uses."""
        op_id = f"{kind}#{len(self.ops)}"
        self.spark.catalog.clearCache()
        self.sc.setJobGroup(op_id, op_id)
        procs.reset_peaks(procs.tree())
        result, problem = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, "bench", op=op_id):
                result = fn()
        except Exception as e:  # a failing operation is counted, not fatal
            problem = f"raised {type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
        peak = procs.peak_rss_mb(procs.tree())
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if problem is None and check is not None:
            try:
                problem = check(result)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
        rec = OpRecord(op_id, kind, timed, self.tracer.enabled, wall, problem is None, peak)
        self._count_jobs(rec)
        if problem is None and info is not None:
            rec.info = info(result)
        self.ops.append(rec)
        if problem is not None:
            print(f"FAIL {op_id}: {problem}", file=sys.stderr, flush=True)
            return None
        return result

    def _count_jobs(self, rec: OpRecord) -> None:
        # the status store is filled from the listener bus asynchronously:
        # drain it so the last job's tasks and shuffle bytes are recorded
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        except Exception:  # py4j surface differs across Spark versions
            pass
        tracker = self.sc.statusTracker()
        shuffle_bytes = 0
        for job_id in tracker.getJobIdsForGroup(rec.op_id):
            rec.jobs += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else []:
                stage = tracker.getStageInfo(stage_id)
                rec.tasks += stage.numCompletedTasks if stage else 0
                if self._status_store is not None:
                    try:
                        shuffle_bytes += self._status_store.lastStageAttempt(stage_id).shuffleWriteBytes()
                    except Exception:  # a skipped stage has no attempt
                        pass
        rec.shuffle_write_mb = shuffle_bytes / 1e6

    def timed_rounds(self, schedule: list[tuple], seconds: float, min_rounds: int) -> None:
        """Run whole rounds of ``schedule`` (tuples of :meth:`op` arguments)
        until ``seconds`` have passed and at least ``min_rounds`` rounds ran.

        In a traced run, rounds alternate traced and untraced so tracing
        overhead is measured on the same input in the same process."""
        t0 = time.perf_counter()
        rounds = 0
        while rounds < min_rounds or time.perf_counter() - t0 < seconds:
            if self.trace:
                self.tracer.enabled = rounds % 2 == 0
            for kind, fn, check, *rest in schedule:
                self.op(kind, fn, check, info=rest[0] if rest else None)
            rounds += 1
        self.tracer.enabled = self.trace

    # ---- summaries over recorded operations ------------------------------

    def timed(self, kind: str | None = None, traced: bool | None = None) -> list[OpRecord]:
        return [
            r for r in self.ops
            if r.timed and r.ok and (kind is None or r.kind == kind)
            and (traced is None or r.traced == traced)
        ]

    def median_wall(self, kind: str, traced: bool | None = None) -> float:
        walls = [r.wall_s for r in self.timed(kind, traced)]
        return statistics.median(walls) if walls else float("nan")

    def attempted_failed(self) -> tuple[int, int]:
        return len(self.ops), sum(not r.ok for r in self.ops)
