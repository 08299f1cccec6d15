"""Op timing, per-op Spark job groups and output-size accounting.

Every op gets an id. In a traced run the op also gets its own Spark job
group, so its jobs, stages and tasks can be counted from outside through
``statusTracker`` once it has finished; the count happens after the op's
timed window.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import nullcontext


class Op:
    def __init__(self, op_id: int, kind: str, unit: int):
        self.id = op_id
        self.kind = kind
        self.unit = unit
        self.start = self.end = 0.0
        self.items = 0
        self.error: str | None = None
        self.failures: list[str] = []
        self.groups: list[str] = []
        self.counters: dict[str, float] = {}
        self.jobs = self.stages = self.tasks = 0

    @property
    def ok(self) -> bool:
        return self.error is None

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.failures)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def check(self, cond: bool, msg: str) -> None:
        if not cond:
            self.failures.append(msg)


class Harness:
    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[Op] = []
        self.current: Op | None = None
        self.unit = 0  # index of the unit the next ops belong to

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def add_group(self, group: str) -> None:
        """Count the jobs of another job group (a streaming query's run id)
        against the current op."""
        if self.current is not None:
            self.current.groups.append(group)

    def run(self, kind: str, fn, *args):
        """Time ``fn(*args)`` as one op. An exception fails the op and is
        recorded; it does not end the run."""
        op = Op(len(self.ops), kind, self.unit)
        self.ops.append(op)
        self.current = op
        group = f"perfbench-op-{op.id}"
        sc = self.spark.sparkContext if self.tracer else None
        if self.tracer:
            self.tracer.op_id = op.id
            sc.setJobGroup(group, kind)
        result = None
        op.start = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            op.error = traceback.format_exc(limit=3)
        finally:
            op.end = time.perf_counter()
            self.current = None
            if self.tracer:
                self.tracer.op_id = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(op, [group, *op.groups])
        return op, result

    def current_job_ids(self) -> set[int]:
        """Job ids started so far in the running op's job group."""
        group = f"perfbench-op-{self.current.id}" if self.current else ""
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def _count_jobs(self, op: Op, groups: list[str]) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                op.jobs += 1
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        op.stages += 1
                        op.tasks += st.numCompletedTasks

    @staticmethod
    def dir_stats(path: str) -> tuple[int, int, int]:
        """(files, bytes, version directories) under ``path``."""
        files = size = versions = 0
        for root, dirs, names in os.walk(path):
            versions += sum(1 for d in dirs if d[:1] == "v" and d[1:].isdigit())
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        return files, size, versions

    @staticmethod
    def write_counters(before, after, bytes_in: int) -> dict[str, float]:
        written = after[1] - before[1]
        return {
            "catalog.files_written": after[0] - before[0],
            "catalog.bytes_written": written,
            "catalog.bytes_in": bytes_in,
            "catalog.versions": after[2] - before[2],
        }
