"""Run-wide plumbing shared by the workloads: the work directory, the
Spark session and its shutdown, peak-RSS sampling, spans, and the
Spark event log reader used by traced runs.

Everything the program does is observed from outside it: spans wrap the
benchmark's own calls into the program's public functions, and counts
come from Spark's public status tracker, streaming progress and event
log.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

CPUS = 4
DRIVER_MEM = "4g"


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- peak RSS of the process tree -------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of the Spark JVM and its descendants (the
    Python workers) every ``period`` seconds.  This Python process is
    left out: it also holds the benchmark's inputs and the DuckDB oracle,
    which are not part of the system under test."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self.root: int | None = None  # the JVM's pid, once it runs
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total, todo = 0, [self.root] if self.root else []
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(_children(pid))
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self._sample())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None
    ref: str | None = None  # batch id or query name


@dataclass
class Tracer:
    """In-memory span list; written out once, when the run ends."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, ref: str | None = None) -> int:
        if self.enabled:
            self.spans.append(Span(name, layer, start, end, parent, ref))
        return len(self.spans) - 1

    def self_time_by_layer(self) -> dict[str, float]:
        """Span time minus the time covered by its child spans, per layer."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (
                    s.end - s.start
                )
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = max(0.0, s.end - s.start - child_time.get(i, 0.0))
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- the Spark session ----------------------------------------------------------


class Run:
    """One benchmark run: work directory, session, sampler, tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, "perfbench", ".work",
                                 f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        self.tracer = Tracer(trace)
        self.spark = None
        self.session_start_s = 0.0
        # the program's modules must import in Spark's Python workers too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from mqtt2sql_spark.session import get_spark

        conf = {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.eventlog_dir,
            })
        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS,
                               extra_conf=conf)
        t1 = time.time()
        self.session_start_s = t1 - t0
        self.tracer.add("get_spark", "session", t0, t1)
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# -- job groups and the event log ---------------------------------------------


class JobGroup:
    """Tags the Spark jobs a block of code runs (from this thread) with a
    job group, restoring the previous group afterwards; then counts the
    jobs and tasks through the public status tracker."""

    def __init__(self, spark, group: str) -> None:
        self.sc = spark.sparkContext
        self.group = group

    def __enter__(self) -> "JobGroup":
        self._prev = (
            self.sc.getLocalProperty("spark.jobGroup.id"),
            self.sc.getLocalProperty("spark.job.description"),
            self.sc.getLocalProperty("spark.job.interruptOnCancel"),
        )
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        for key, value in zip(
            ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel"),
            self._prev,
        ):
            self.sc.setLocalProperty(key, value)

    def counts(self) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


def eventlog_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Task CPU seconds and shuffle bytes (read + written) per job group,
    parsed from the uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(eventlog_dir)
        for n in names
        if n.startswith("events_") or n.startswith("local-")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(
                        group, {"task_cpu_s": 0.0, "shuffle_bytes": 0.0}
                    )
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    acc["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
    return out
