"""Spans, Spark status-store readout and host facts for the benchmark.

Spans are recorded only by the benchmark's own files, around each call
into the program; they stay in memory and are written when the run ends.
Per-stage executor time, shuffle, spill and task counts come from the
driver's own status store through the localhost REST API, which the
traced run (and only it) turns on, keyed by the job group set before
each call.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time
import urllib.request
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> float:
    """The highest of the p99.9/p99/p95/p90/p75 of xs that has at least
    ten samples beyond it; the median when there are too few."""
    s = sorted(xs)
    n = len(s)
    for p in (0.999, 0.99, 0.95, 0.9, 0.75):
        k = int(p * n)
        if n - k - 1 >= 10:
            return s[k]
    return median(s)


class Tracer:
    """Job-group labels + spans around calls. Off: both are no-ops."""

    def __init__(self, sc, on: bool):
        self.sc, self.on = sc, on
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: int):
        if not self.on:
            yield
            return
        group = f"op{op}:{name}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(group, name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "op": op, "start": t0, "end": t1,
                               "parent": parent, "group": group})
            if parent is not None:
                self.sc.setJobGroup(f"op{op}:{parent}", parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str, ops=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (ops is None or s["op"] in ops)]

    def top_level(self, op: int) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op and s["parent"] is None)


# ---------------------------------------------------------------------------
# Spark status store (REST, localhost)
# ---------------------------------------------------------------------------


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """Everything the per-group rollups need, fetched once."""
        return {"jobs": self.get("/jobs"),
                "stages": self.get("/stages"),
                "sql": self.get("/sql?details=true&planDescription=false"
                                 "&length=100000")}


def _num(v) -> float:
    try:
        return float(str(v).split("\n")[-1].split(" ")[0].replace(",", ""))
    except ValueError:
        return 0.0


def group_rollup(snap: dict, *prefixes: str) -> dict:
    """Stage metrics summed over the jobs whose group starts with one of
    the prefixes (one op's call, a whole op with 'op<n>:', or a streaming
    query's run id, the group Spark gives its micro-batch jobs)."""
    stage_ids, job_ids = set(), set()
    for j in snap["jobs"]:
        if (j.get("jobGroup") or "").startswith(prefixes):
            stage_ids.update(j["stageIds"])
            job_ids.add(j["jobId"])
    out = {"executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "tasks": 0, "failed_tasks": 0}
    for st in snap["stages"]:
        if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
            continue
        out["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
        out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
        out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                               + st.get("diskBytesSpilled", 0))
        out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        out["failed_tasks"] += st.get("numFailedTasks", 0)
    out["join_rows"] = 0
    for ex in snap["sql"]:
        ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ids & job_ids:
            continue
        for node in ex.get("nodes", []):
            if node.get("nodeName", "").endswith("Join"):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        out["join_rows"] += int(_num(m.get("value")))
    return out


# ---------------------------------------------------------------------------
# processes and host
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks(pid: int) -> dict:
    """Clock ticks so far: user+system of pid's process tree (the driver,
    its JVM and Python workers), and the host's busy and steal time from
    /proc/stat (steal: time the hypervisor ran someone else)."""
    tree = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tree += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"tree": tree, "host_busy": sum(cpu[:3]) + sum(cpu[5:7]),
            "steal": cpu[7] if len(cpu) > 7 else 0}


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over pid's descendants: the driver JVM and
    the Python workers it forks."""
    kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def jvm_state(spark) -> dict:
    """Driver JVM heap and cumulative GC counters, read between ops."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
    total, free = rt.totalMemory(), rt.freeMemory()
    return {"heap_committed_mb": total / 2**20, "heap_used_mb": (total - free) / 2**20,
            "gc_ms": sum(g.getCollectionTime() for g in gcs),
            "gc_count": sum(g.getCollectionCount() for g in gcs)}


def ungrouped_jobs(sc, since: int) -> dict:
    """Jobs with no job group and an id >= since (an untraced op's jobs):
    their count, stages and tasks (how many partitions AQE chose)."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "max_job": since - 1}
    for j in st.getJobIdsForGroup(None):
        if j < since:
            continue
        out["jobs"] += 1
        out["max_job"] = max(out["max_job"], j)
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None:
                out["stages"] += 1
                out["tasks"] += si.numTasks
    return out


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _versions(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version")}


def _commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # an exported checkout: never ask an enclosing repo
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha1 over the package sources: identifies the program when the
    checkout is not a git repository."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "fastpasta_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
             "spark.sql.execution.arrow.maxRecordsPerBatch",
             "spark.sql.files.maxPartitionBytes",
             "spark.sql.inMemoryColumnarStorage.compressed",
             "spark.sql.adaptive.enabled", "spark.ui.enabled")


def host_record(spark, root: str) -> dict:
    def conf(k):
        try:
            return spark.conf.get(k)
        except Exception:  # unset and without a default
            return None

    import sys

    return {
        "nproc": len(os.sched_getaffinity(0)),
        # the driver's str hash seed: PYTHONHASHSEED if set, else random
        # per process; hash() of a fixed string identifies it
        "pythonhashseed": os.environ.get("PYTHONHASHSEED"),
        "hash_randomization": sys.flags.hash_randomization,
        "str_hash_probe": hash("perfbench"),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "conf": {k: conf(k) for k in CONF_KEYS},
        "versions": _versions(spark),
        "commit": _commit(root),
        "source_sha1": source_digest(root),
    }
