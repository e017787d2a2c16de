"""JobRegistry — thin job-status wrapper (reference R13 parity).

The reference exposes StartJob / LastJobStatus RPCs backed by
Postgres rows (``mapreduce/coordinator/coordinator_service.py:19-61``,
``database.py:42-57``) and enforces one-job-at-a-time with a
unique-NULL column hack (``database.py:53-55``). On Spark, jobs are
just actions on a session; this registry keeps the observable
surface — submit, poll status, last-job lookup — as plain in-process
bookkeeping around Spark's own scheduler + status tracker. No
Postgres, no polling loop, no DNS discovery (SURVEY.md §3.4).

No engine path calls it: it is the only code behind COVERAGE.md row
R13 (StartJob / LastJobStatus), kept for reference parity.
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession


class JobStatus(Enum):
    IN_PROGRESS = "IN_PROGRESS"
    FINISHED = "FINISHED"
    FAILED = "FAILED"


@dataclass
class Job:
    job_uuid: str
    status: JobStatus = JobStatus.IN_PROGRESS
    error: str | None = None
    result: DataFrame | None = None
    rows: int | None = None


@dataclass
class JobRegistry:
    """Submit DataFrame-producing callables; poll their status.

    ``serialize`` mirrors the reference's single-job lock: submissions
    while a job is IN_PROGRESS are rejected (the reference guarantees
    this transactionally via its unique-NULL ``finished`` column).
    """

    spark: SparkSession
    serialize: bool = True
    _jobs: dict[str, Job] = field(default_factory=dict)
    _order: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def start_job(
        self, build: Callable[[SparkSession], DataFrame], block: bool = True
    ) -> str:
        with self._lock:
            if self.serialize and any(
                j.status is JobStatus.IN_PROGRESS for j in self._jobs.values()
            ):
                raise RuntimeError("a job is already in progress")
            job = Job(job_uuid=uuid.uuid4().hex)
            self._jobs[job.job_uuid] = job
            self._order.append(job.job_uuid)

        def run() -> None:
            try:
                df = build(self.spark)
                job.rows = df.count()
                job.result = df
                job.status = JobStatus.FINISHED
            except Exception as e:  # noqa: BLE001
                job.status = JobStatus.FAILED
                job.error = str(e)

        if block:
            run()
        else:
            threading.Thread(target=run, daemon=True).start()
        return job.job_uuid

    def job_status(self, job_uuid: str) -> Job:
        return self._jobs[job_uuid]

    def last_job_status(self) -> Job | None:
        """Reference ``LastJobStatus``: newest job, or None."""
        return self._jobs[self._order[-1]] if self._order else None
