"""Measurements taken from outside the engine.

- Spark's own counters for the jobs of one job group, read from
  ``statusTracker()`` and ``statusStore().lastStageAttempt`` between
  queries (the UI stays disabled; the benchmark's session raises the
  status store's retention so no stage of a run is evicted).
- Cache state left pinned after a query returns.
- Peak resident memory of the driver JVM and this process.
- Host noise: load average and CPU steal from ``/proc``.
- Spans: one per call into an engine layer, kept in memory and written
  out when the run ends.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from contextlib import contextmanager

MB = 1e6


def _epoch(stamp: str | None) -> float | None:
    # e.g. "2026-10-17T03:51:15.925GMT"
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class StageReader:
    """Stage records of the jobs in a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        writer = spark._jvm.org.apache.spark.status.api.v1.JacksonMessageWriter()
        self.mapper = writer.mapper()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids) -> list[dict]:
        """Every stage attempt that ran for ``job_ids``; skipped stages
        (shuffle output reused) are left out."""
        ids: set[int] = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            d = json.loads(self.mapper.writeValueAsString(self.store.lastStageAttempt(sid)))
            if d["status"] != "SKIPPED":
                out.append(d)
        return out


def covered_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return covered


def stage_totals(stages: list[dict], t0: float, t1: float) -> dict:
    """Per-query ``exec``/``sources``/``sinks`` counters from its stages;
    ``t0``/``t1`` are the query's epoch start and end."""
    running = []
    for s in stages:
        a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
        if a is not None and b is not None:
            running.append((max(a, t0), min(b, t1)))
    covered = covered_seconds(running)
    return {
        "exec.stages": len(stages),
        "exec.tasks": sum(s["numTasks"] for s in stages),
        "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "exec.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
        "exec.idle_s": max(0.0, (t1 - t0) - covered),
        "sources.input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "sources.input_rows": sum(s["inputRecords"] for s in stages),
        "sources.scan_tasks": sum(s["numTasks"] for s in stages if s["inputBytes"] > 0),
        "sinks.output_mb": sum(s["outputBytes"] for s in stages) / MB,
    }


def sink_seconds(action_stages: list[dict], t_end: float) -> float:
    """Time from the submission of the first action stage that writes
    output (``outputBytes`` > 0) to the return of the write call, which
    includes the output commit.  Spark runs the writer in the same stage
    as whatever it fuses into it (the last shuffle read, aggregation or
    sort), so their cost is in this figure too.  A sink that writes
    nothing, such as ``noop``, reads 0."""
    starts = [_epoch(s.get("submissionTime")) for s in action_stages if s["outputBytes"] > 0]
    starts = [t for t in starts if t is not None]
    return max(0.0, t_end - min(starts)) if starts else 0.0


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they pin in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    pinned = sum(i.memSize() + i.diskSize() for i in infos) / MB
    return len(jsc.getPersistentRDDs()), pinned


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_start_epoch() -> float:
    """Epoch time at which this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def noise(ticks0: list[int], ticks1: list[int]) -> dict:
    """Load average now, and the steal share of CPU time between two
    ``cpu_ticks()`` samples."""
    d = [b - a for a, b in zip(ticks0, ticks1)]
    total = sum(d) or 1
    with open("/proc/loadavg") as fh:
        la = [float(x) for x in fh.read().split()[:3]]
    return {
        "loadavg_1m": la[0],
        "loadavg_5m": la[1],
        "steal_s": d[7] / os.sysconf("SC_CLK_TCK") if len(d) > 7 else 0.0,
        "steal_share": d[7] / total if len(d) > 7 else 0.0,
    }


class Tracer:
    """In-memory spans: name, start, end, parent, run id and query id.

    Disabled tracers record nothing, so untraced runs pay only a
    context-manager call per layer boundary."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "query": query,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self, keep=lambda span: True) -> dict[str, float]:
        """Total self time per span name over the spans ``keep`` accepts:
        duration minus the part of it that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in filter(keep, self.spans):
            covered = covered_seconds((c["start"], c["end"]) for c in children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
