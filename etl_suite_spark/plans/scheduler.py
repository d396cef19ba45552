"""Job scheduler — the reference's long-running ETL loop re-expressed
(SURVEY.md §0.1: scheduler tick → checkpoint → extract window → transform →
idempotent load → advance checkpoint [K]).

A ``Job`` is a pipeline spec (plans/pipeline.py) plus a tick cadence; the
scheduler runs each due job's incremental tick. Two modes:

- ``run_pending``: one pass over due jobs — call it from cron/Airflow/any
  external timer; state lives in each job's watermark file, so the process
  is stateless and restartable (the reference's Mongo-checkpoint property).
- ``run_forever``: the reference's in-process loop, for completeness —
  sleeps between passes. On a cluster you'd use Structured Streaming with
  ``Trigger.AvailableNow`` on a cron instead (streaming/ops.py shows the
  equivalent plumbing).

Idempotency contract: a job's sink must be dynamic-partition-overwrite or
merge-by-key (operators/scale.py / streaming foreachBatch upsert), so
re-running a tick after a crash re-writes the same window harmlessly. The
contract relies on ``pipeline.run_pipeline``'s tick, which every job runs.
The tick lists its source once and reads only the listed files that the
state's consumed-file record does not hold. Only after the sink returns
does it write the state: the max watermark column of exactly the files the
sink read, from their parquet footers, together with the listing as the
new record. Every row of a recorded file is then at or below the
watermark, so skipping it on the next tick loses nothing. A crashed tick
writes neither, so its rerun reads the same files again. A file landing
mid-tick is in neither the listing nor the max, and the next tick picks it
up; a file rewritten in place has a new (length, mtime) and is read again.
A source the footers cannot cover (a file without statistics or with a
null, another column type) takes the max from one job over the frame the
sink read instead. A source with subdirectories has no flat listing: its
ticks read it whole under the watermark filter, record no files and take
that max job. ``incremental.run_incremental_tick`` advances BEFORE
its caller sinks, so a crash in between would skip that window; the
scheduler does not use it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .pipeline import run_pipeline


@dataclass
class Job:
    name: str
    spec: dict
    interval_s: float = 60.0
    last_run: float = field(default=0.0, compare=False)

    def due(self, now: float) -> bool:
        return now - self.last_run >= self.interval_s


class Scheduler:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.jobs: list[Job] = []

    def add(self, job: Job) -> "Scheduler":
        self.jobs.append(job)
        return self

    def run_pending(self, now: float | None = None) -> list[str]:
        """Run every due job once; returns the names that ran. Failures
        don't advance last_run, so the next pass retries — combined with
        idempotent sinks this is the reference's crash-recovery model."""
        now = time.time() if now is None else now
        ran = []
        for job in self.jobs:
            if not job.due(now):
                continue
            run_pipeline(self.spark, self.sf_dir, job.spec)
            job.last_run = now
            ran.append(job.name)
        return ran

    def run_forever(self, poll_s: float = 5.0) -> None:  # pragma: no cover
        while True:
            self.run_pending()
            time.sleep(poll_s)
