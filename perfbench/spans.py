"""Spans and Spark job statistics for the traced run.

`Tracer` keeps spans in memory (name, start, end, parent, op id) and
writes them out once, at the end of the run. `JobStats` reads what
Spark itself recorded for a job group: job and stage counts from the
status tracker, task time, shuffle and spill bytes from the status
REST API of the driver's own UI, and, for reads, the files each scan
opened from the SQL endpoint. Both live only in the benchmark; the
engine carries no tracing.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import time
import urllib.parse
import urllib.request


class Tracer:
    """`overhead_s` is the time spent recording spans: what tracing
    adds to the wall time of the code it wraps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sp = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
              "start": time.time(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t0

    @staticmethod
    def seconds(sp: dict) -> float:
        return sp["end"] - sp["start"]

    def self_seconds(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + self.seconds(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + self.seconds(sp) - child.get(sp["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _epoch(stamp: str | None) -> float | None:
    # the REST API writes e.g. "2026-10-17T04:32:18.123GMT"
    if not stamp:
        return None
    dt = datetime.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class JobStats:
    """What Spark recorded for the jobs of one job group. `overhead_s`
    is the time spent tagging jobs with their group inside the ops."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        url = urllib.parse.urlsplit(self.sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{self.sc.applicationId}"
        self.cores = self.sc.defaultParallelism
        self.overhead_s = 0.0

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    @contextlib.contextmanager
    def group(self, name: str):
        t0 = time.perf_counter()
        self.sc.setJobGroup(name, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    def jobs(self, groups: list[str]) -> list[dict]:
        """REST records of the jobs of `groups`, once all have ended."""
        tracker = self.sc.statusTracker()
        ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        deadline = time.time() + 20
        while ids:
            jobs = [j for j in self._get("jobs") if j["jobId"] in ids]
            done = len(jobs) == len(ids) and all(
                j["status"] in ("SUCCEEDED", "FAILED") and j.get("completionTime") for j in jobs)
            if done or time.time() > deadline:
                return sorted(jobs, key=lambda j: j["jobId"])
            time.sleep(0.05)
        return []

    def summary(self, jobs: list[dict]) -> dict:
        """Stage, task, executor-time, shuffle and spill totals."""
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0}
        # a stage skipped by one job may have run in another: count once
        ids = {s for job in jobs for s in job["stageIds"]}
        for att in self._get("stages?details=false") if ids else []:
            if att["stageId"] not in ids or att["status"] != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += att["numCompleteTasks"]
            out["executor_run_s"] += att["executorRunTime"] / 1e3
            out["executor_cpu_s"] += att["executorCpuTime"] / 1e9
            out["shuffle_write_bytes"] += att["shuffleWriteBytes"]
            out["shuffle_read_bytes"] += att["shuffleReadBytes"]
            out["spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
        return out

    @staticmethod
    def collect_tail(jobs: list[dict], action_end: float) -> float:
        """Seconds from the end of the action's last job to the end of
        the action: the driver receiving and converting the rows."""
        ends = [_epoch(job.get("completionTime")) for job in jobs]
        ends = [e for e in ends if e is not None]
        return max(0.0, action_end - max(ends)) if ends else 0.0

    @staticmethod
    def driver_gap(jobs: list[dict], window: tuple[float, float]) -> float:
        """Seconds of `window` (epoch) in which none of `jobs` ran."""
        spans = []
        for job in jobs:
            start, end = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
            if start is not None and end is not None:
                spans.append((start, end))
        lo, hi = window
        return max(0.0, (hi - lo) - _covered(spans, lo, hi))

    def files_read(self, job_ids: list[int]) -> int:
        """Files opened by the scans of the SQL executions that ran
        `job_ids`, from the "number of files read" scan metric."""
        wanted = set(job_ids)
        deadline = time.time() + 20
        while True:
            execs = self._get("sql?details=true&planDescription=false&length=100000")
            mine = [e for e in execs
                    if wanted & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]
            if (mine and all(e["status"] != "RUNNING" for e in mine)) or time.time() > deadline:
                break
            time.sleep(0.05)
        return sum(
            int(str(m["value"]).replace(",", "").split()[0])
            for e in mine
            for node in e.get("nodes", [])
            for m in node.get("metrics", [])
            if m["name"] == "number of files read"
        )
