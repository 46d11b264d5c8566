"""Counters read from outside the program: Spark's REST status API, the
driver JVM's memory beans and ``StreamingQuery.recentProgress``.

Jobs are assigned to a timed call by submission time, because
``Pipeline.run()`` sets its own job group. Counters marked EXACT in
``EXACT_COUNTERS`` repeat exactly for the same seed and code; the rest
are times and vary from run to run.
"""

from __future__ import annotations

import datetime
import json
import statistics
import time
import urllib.request

#: counters that repeat exactly for one seed and one commit, so a later
#: change may rest a claim on them (as a count, not as a speed-up)
EXACT_COUNTERS = (
    "wrapper.soft_errors",
    "wrapper.retries",
    "spark.jobs",
    "spark.tasks",
    "spark.shuffle_write_mb",
    "spark.input_mb",
    "stream.batches",
    "stream.rows_per_batch",
    "stream.state_rows",
    "stream.tasks_per_batch",
)

_STAGE_SUMS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 2**-20),
    "input_mb": ("inputBytes", 2**-20),
    "output_mb": ("outputBytes", 2**-20),
}


def epoch(stamp: str) -> float:
    """A UTC status-API or progress time stamp, such as
    '2026-10-17T06:50:12.345GMT' or '...345Z', in seconds since the epoch."""
    stamp = stamp.replace("GMT", "").rstrip("Z")
    dt = datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


class StatusApi:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the last job's final metrics."""
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private Scala API; fall back to a pause
            time.sleep(1.0)

    def snapshot(self) -> "Snapshot":
        self.settle()
        return Snapshot(self._get("/jobs"), self._get("/stages"))


class Snapshot:
    """All retained jobs and stage attempts, queried by time window."""

    def __init__(self, jobs: list[dict], stages: list[dict]):
        self.jobs = [j for j in jobs if j.get("submissionTime")]
        self.stages: dict[int, list[dict]] = {}
        for s in stages:
            self.stages.setdefault(s["stageId"], []).append(s)

    def jobs_in(self, windows: list[tuple[float, float]]) -> list[dict]:
        out = []
        for j in self.jobs:
            t = epoch(j["submissionTime"])
            if any(a - 0.005 <= t <= b for a, b in windows):
                out.append(j)
        return out

    def counters(self, windows) -> dict[str, float]:
        """Sums over every stage attempt of the jobs submitted inside
        ``windows`` (a list of (start, end) epoch seconds)."""
        jobs = self.jobs_in(windows)
        out = {k: 0.0 for k in _STAGE_SUMS}
        out["spill_mb"] = 0.0
        out["jobs"] = float(len(jobs))
        out["tasks"] = 0.0
        seen: set[int] = set()
        for j in jobs:
            for sid in j.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for s in self.stages.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    out["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    for name, (field, scale) in _STAGE_SUMS.items():
                        out[name] += s.get(field, 0) * scale
                    out["spill_mb"] += (
                        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    ) * 2**-20
        return out


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(driver JVM peak RSS, peak heap used summed over heap pools)."""
    jvm = spark.sparkContext._jvm
    heap = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    pid = jvm.java.lang.ProcessHandle.current().pid()
    rss_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss_kb = int(line.split()[1])
    return rss_kb / 1024, heap / 2**20


def stream_batches(progress: list) -> list[dict]:
    """The micro-batches that had input, from ``recentProgress``."""
    out = []
    for p in progress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; 0.0 on an empty list."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
