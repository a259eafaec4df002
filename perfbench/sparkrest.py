"""Spark job and stage counters read back from the Spark UI REST API.

The session keeps every job and stage of a run (``spark.ui.retainedJobs`` /
``retainedStages`` are raised in run.py); a job id or a stage id that the API
no longer lists raises :class:`MissingCounters` instead of being counted as
zero.  Jobs are attributed to a unit by job-id delta: the ids submitted
between two watermarks belong to the unit that ran between them.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass

from stats import clip, union_length


class MissingCounters(RuntimeError):
    """A job or stage of the run is no longer listed by the REST API."""


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stage_ids: tuple[int, ...]


@dataclass(frozen=True)
class Stage:
    stage_id: int
    status: str
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return dt.datetime.strptime(stamp.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        # the UI listens on every interface; asking localhost avoids resolving
        # the host name the UI advertises
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def max_job_id(self) -> int:
        """Highest job id submitted so far (-1 before the first job)."""
        return max((j["jobId"] for j in self._drain()), default=-1)

    def _drain(self, timeout: float = 10.0) -> list[dict]:
        """The listener bus is asynchronous: wait until no listed job is still
        running, so a finished action's counters are complete."""
        deadline = time.time() + timeout
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" and j.get("completionTime") for j in jobs):
                return jobs
            if time.time() > deadline:
                raise MissingCounters("jobs still RUNNING after the action returned")
            time.sleep(0.05)

    def jobs_between(self, after: int, upto: int) -> list[Job]:
        """Jobs with ``after < job_id <= upto``; fails when any id is missing."""
        raw = {j["jobId"]: j for j in self._drain()}
        want = range(after + 1, upto + 1)
        missing = [i for i in want if i not in raw]
        if missing:
            raise MissingCounters(f"{len(missing)} job ids not retained, e.g. {missing[:5]}")
        return [Job(i, raw[i].get("jobGroup"), _epoch(raw[i]["submissionTime"]),
                    _epoch(raw[i]["completionTime"]), tuple(raw[i]["stageIds"]))
                for i in want]

    def stages(self, jobs: list[Job]) -> list[Stage]:
        """The stages of ``jobs`` (last attempt each); fails when any is missing.
        Skipped stages are returned with their zero counters."""
        wanted = {s for j in jobs for s in j.stage_ids}
        latest: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s["stageId"] in wanted and s["attemptId"] >= latest.get(
                    s["stageId"], {}).get("attemptId", -1):
                latest[s["stageId"]] = s
        missing = sorted(wanted - latest.keys())
        if missing:
            raise MissingCounters(f"{len(missing)} stage ids not retained, e.g. {missing[:5]}")
        return [Stage(i, s["status"], s["numCompleteTasks"],
                      s["executorRunTime"] / 1e3, s["executorCpuTime"] / 1e9,
                      s["jvmGcTime"] / 1e3, s["inputBytes"],
                      s["shuffleReadBytes"], s["shuffleWriteBytes"])
                for i, s in sorted(latest.items())]


def summarize(jobs: list[Job], stages: list[Stage], windows: list[tuple[float, float]],
              cores: int) -> dict[str, float]:
    """Counters of the timed windows of a pass or a unit: job busy time is the
    union of the jobs' intervals inside the windows, the driver gap the rest."""
    run = [s for s in stages if s.status != "SKIPPED"]
    wall = sum(end - start for start, end in windows)
    busy = sum(union_length(clip((j.start, j.end), w) for j in jobs) for w in windows)
    executor_run = sum(s.run_s for s in run)
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "stages": len(run),
        "tasks": sum(s.tasks for s in run),
        "job_busy_s": busy,
        "driver_gap_s": max(0.0, wall - busy),
        "slot_util": executor_run / (busy * cores) if busy > 0 else 0.0,
        "executor_run_s": executor_run,
        "cpu_s": sum(s.cpu_s for s in run),
        "gc_s": sum(s.gc_s for s in run),
        "input_mb": sum(s.input_bytes for s in run) / mb,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in run) / mb,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in run) / mb,
    }
