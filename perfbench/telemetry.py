"""Measurement taken from outside the library.

- ``Tracer``: spans (name, start, end, parent id, trace id) and
  counters kept in memory and written out once at exit. When tracing is
  off every call is a no-op, so the untraced runs pay nothing for it.
- ``SparkRest``: Spark's own telemetry through the UI REST API
  (``/jobs``, ``/stages``, ``/sql``), grouped by the per-query job tag
  the benchmark sets around each call into the library.
- ``live_mb``: memory the run holds after a full GC.
- ``stamp``: what a run needs to be comparable with another one.
"""

from __future__ import annotations

import itertools
import json
import os
import platform
import subprocess
import urllib.request
from datetime import datetime


def rest_time(text: str | None) -> float | None:
    """REST timestamps look like ``2024-01-31T12:00:00.000GMT``."""
    if not text:
        return None
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """In-memory span recorder. Spans are added after the fact with an
    explicit parent id, so spans taken from Spark's telemetry
    (micro-batches from query progress, jobs from the REST API) attach
    to the benchmark's own query and pass spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace, **attrs})
        return sid

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


class SparkRest:
    """Reads the running application's UI REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&length=100000")

    def storage_blocks(self) -> int:
        return sum(r.get("numCachedPartitions", 0) for r in self._get("/storage/rdd"))

    def snapshot(self) -> "RestSnapshot":
        return RestSnapshot(self.jobs(), self.stages(), self.sql())


# SQL-metric names of the JVM<->Python (Arrow) exchange nodes.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _metric_bytes(value: str) -> float:
    """Parse a SQL metric value like ``"1.2 MiB"`` or ``"total (min, med, max)\\n3.4 KiB (...)"``."""
    text = value.split("\n")[-1] if "\n" in value else value
    num, _, rest = text.strip().partition(" ")
    unit = rest.split(" ")[0] if rest else "B"
    scale = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}.get(unit, 1)
    try:
        return float(num.replace(",", "")) * scale
    except ValueError:
        return 0.0


class RestSnapshot:
    """One read of jobs/stages/SQL executions, with per-tag rollups."""

    def __init__(self, jobs, stages, sql):
        self.jobs = jobs
        self.stage_by_id = {(s["stageId"], s["attemptId"]): s for s in stages}
        self.sql = sql

    def jobs_for(self, tag: str | None = None, start: float = 0.0, end: float = float("inf")) -> list[dict]:
        """Jobs carrying ``tag`` (any job when None) submitted in [start, end]."""
        out = []
        for j in self.jobs:
            s = rest_time(j.get("submissionTime"))
            if s is not None and start <= s <= end and (tag is None or tag in (j.get("jobTags") or [])):
                out.append(j)
        return out

    def rollup(self, jobs: list[dict]) -> dict[str, float]:
        """Sum the stage and SQL metrics of ``jobs``."""
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_rows",
             "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
             "python_bytes_sent", "python_bytes_received"), 0.0)
        out["jobs"] = float(len(jobs))
        for (sid, _), st in self.stage_by_id.items():
            if sid not in stage_ids or st.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            out["input_rows"] += st.get("inputRecords", 0)
            out["input_bytes"] += st.get("inputBytes", 0)
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        for ex in self.sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == PY_SENT:
                        out["python_bytes_sent"] += _metric_bytes(m.get("value", "0 B"))
                    elif m.get("name") == PY_RECV:
                        out["python_bytes_received"] += _metric_bytes(m.get("value", "0 B"))
        return out


def live_mb(spark) -> float:
    """JVM heap in use after a full GC: what the run still holds in the
    driver JVM (cached blocks, broadcasts, Spark's UI store)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def stamp(root: str, spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(root),
    }
