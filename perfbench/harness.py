"""Pieces every workload shares: the pinned Spark session, the program's
process-tree memory sampler, the load process, job tagging and the
event-log parser."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark task slots: every core of the box, at most four."""
    return min(4, nproc())


DRIVER_MEM = "3g"  # explicit, far below the RAM of any box this runs on


def start_spark(work: str, event_log: bool = False):
    """``get_spark`` pinned to ``local[cores()]`` with its scratch space
    inside ``work``; returns (session, seconds up to its first finished job)."""
    from annotations_ingester_spark.session import get_spark

    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cores()}]", shuffle_partitions=cores(), extra_conf=conf
    )
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, its JVM and, with the JVM, the Python workers."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tag(spark, workload: str, layer: str | None, query: str | None = None) -> None:
    """Label the jobs this thread starts next with workload, layer and, for
    the catalog, query; ``layer=None`` clears the labels."""
    sc = spark.sparkContext
    sc.clearJobTags()
    if layer is None:
        sc.setJobDescription(None)
        return
    sc.setJobDescription(f"{workload}:{layer}" + (f":{query}" if query else ""))
    sc.addJobTag(f"perfbench.{layer}")
    if query:
        sc.addJobTag(f"perfbench.q.{query}.{layer}")


def cpu_times() -> list[int]:
    """The box's CPU time counters (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    k = min(len(s) - 1, max(0, round(q * (len(s) - 1))))
    return s[k]


# -- memory of the program's process tree ----------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int, exclude: set[int]) -> int:
    """Proportional set size of ``root`` and its descendants: resident
    memory with each shared page split among its sharers, so the Python
    workers forked from one daemon are not counted once per worker."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += _pss_kb(pid) * 1024
        todo.extend(kids.get(pid, []))
    return total


class MemorySampler:
    """Samples the memory of this process's tree (the driver, the JVM and
    its Python workers) every 100 ms; ``exclude`` holds the load process,
    which is not the program."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid(), self.exclude))
            self._stop.wait(0.1)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- the load process -------------------------------------------------------


class LoadProcess:
    """``perfbench/load.py`` in its own process; see that module."""

    def __init__(self, settings: dict) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, f"{HERE}/load.py", json.dumps(settings)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.ports: dict[str, int] = {}

    def wait_ready(self) -> None:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("the load process exited before it was ready")
        self.ports = json.loads(line)

    def url(self, name: str) -> str:
        return f"http://127.0.0.1:{self.ports[name]}"

    def ctl(self, path: str, method: str = "GET"):
        req = urllib.request.Request(
            self.url("ctl") + path, data=b"" if method == "POST" else None, method=method
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return json.loads(r.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# -- event log --------------------------------------------------------------


@dataclass
class Job:
    start_ms: int
    end_ms: int = 0
    tags: set[str] = field(default_factory=set)
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, int] = field(default_factory=dict)  # tasks run
    stage_job: dict[int, int] = field(default_factory=dict)
    # per stage: shuffle bytes written, bytes spilled, GC ms
    shuffle: dict[int, int] = field(default_factory=dict)
    spill: dict[int, int] = field(default_factory=dict)
    gc_ms: dict[int, int] = field(default_factory=dict)

    def jobs_tagged(self, layer: str) -> list[int]:
        return sorted(j for j, job in self.jobs.items() if f"perfbench.{layer}" in job.tags)

    def stages_of(self, job_ids) -> list[int]:
        return sorted(s for s, j in self.stage_job.items() if j in set(job_ids))

    def total(self, what: dict[int, int], job_ids) -> int:
        return sum(what.get(s, 0) for s in self.stages_of(job_ids))


def parse_event_log(events_dir: str) -> EventLog:
    """Read the uncompressed event log files in ``events_dir``: jobs with
    their tags and times, and per stage the tasks run and the task-metric
    totals (the same JSON the Spark UI's stage pages are built from)."""
    log = EventLog()
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(events_dir)
        for n in names
        if n.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = set(filter(None, (props.get("spark.job.tags") or "").split(",")))
                    job = Job(ev["Submission Time"], tags=tags, stages=ev["Stage IDs"])
                    log.jobs[ev["Job ID"]] = job
                    for s in job.stages:
                        log.stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    s = ev["Stage ID"]
                    log.stage_tasks[s] = log.stage_tasks.get(s, 0) + 1
                    m = ev.get("Task Metrics") or {}
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    log.shuffle[s] = log.shuffle.get(s, 0) + sw
                    log.spill[s] = log.spill.get(s, 0) + m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    log.gc_ms[s] = log.gc_ms.get(s, 0) + m.get("JVM GC Time", 0)
    return log
