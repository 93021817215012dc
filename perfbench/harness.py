"""Session, host and tracing plumbing shared by every workload.

Nothing here knows about a particular workload. It builds a Spark session
sized for the host, reads process-tree memory from ``/proc``, times a fixed
CPU probe, records spans in memory, and turns a Spark event log into
per-job-group engine metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import threading
import time

# Driver heap for local mode. The whole load runs in this one JVM, so it is
# sized to leave most of a 15 GB host to the Python workers and the OS.
DRIVER_MEMORY = "4g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every temp and checkpoint location inside ``work`` and make the
    checkout importable by the Python workers Spark forks."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not path else root + os.pathsep + path
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(work, "ckpt")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def build_spark(work: str, event_log: bool = False):
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        # small splits so a corpus of a few tens of MB still scans with
        # several tasks per core, as a large table would
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    if event_log:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + logdir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active session and the JVM behind it, and wait for it."""
    import subprocess

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def drop_blocks(spark) -> None:
    """Drop every persisted or checkpointed block left by earlier jobs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)


def isolate(spark) -> None:
    """Between-query isolation, as ``bench._isolate`` does it: drop every
    block and let the JVM collect, so one query does not slow the next.

    Not used between timed passes: a full collection before each pass made
    the following passes slower and less even."""
    drop_blocks(spark)
    spark._jvm.System.gc()


def written_bytes(spark) -> int:
    """Bytes all finished stages of this context wrote: shuffle files plus
    output files. Read from Spark's live status store, so it needs no event
    log and costs no pass over the data."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(
        empty, False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0), empty,
    ).iterator()
    total = 0
    while stages.hasNext():
        s = stages.next()
        total += s.shuffleWriteBytes() + s.outputBytes()
    return total


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------

CPU_PROBE_OPS = 300_000


def cpu_probe() -> float:
    """Single-core integer loop of a fixed size; ops/s, median of three.

    It shares no code with the program, so a faster kernel never moves it;
    it only labels how much CPU the host handed this run."""
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CPU_PROBE_OPS):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        rates.append(CPU_PROBE_OPS / (time.perf_counter() - t0))
    return statistics.median(rates)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs since boot.

    Stolen ticks are time a CPU of this virtual machine wanted to run but
    the hypervisor ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def stopwatch() -> tuple[float, tuple[int, int]]:
    return time.perf_counter(), cpu_ticks()


def elapsed(start: tuple[float, tuple[int, int]]) -> tuple[float, float]:
    """(wall seconds since ``stopwatch()``, the same less the share of the
    CPU time wanted meanwhile that the hypervisor withheld).

    On a shared host the stolen share moved from 4% to 19% between runs
    minutes apart and made most of the run-to-run spread of pass times;
    without steal the two figures are equal."""
    t0, (busy0, stolen0) = start
    wall = time.perf_counter() - t0
    busy, stolen = cpu_ticks()
    busy, stolen = busy - busy0, stolen - stolen0
    share = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
    return wall, wall * (1.0 - share)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces; the ppid is the 2nd field after ")"
        ppid = int(raw[raw.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants (the JVM and
    the Python workers it forks), MB."""
    kids = _children_map()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background thread sampling the process-tree RSS; keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent, trace id, counts.

    Disabled tracers hand out a no-op context so call sites stay the same
    in timed and traced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield counts
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def count(self, name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in self.spans
                   if s["name"] == name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(work: str) -> dict[str, dict]:
    """Parse the (stopped) session's event log into per-job-group metrics.

    Returns {job_group: {jobs, task_s, gc_s, spill_bytes, shuffle_write,
    shuffle_read, stages: {stage_id: {wall_s, task_times, shuffle_read}}}}."""
    files = glob.glob(os.path.join(work, "eventlog", "*"))
    if not files:
        raise RuntimeError("no Spark event log was written")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "task_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
            "shuffle_write": 0, "shuffle_read": 0, "stages": {}})

    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                name = props.get("spark.jobGroup.id") or "_ungrouped"
                group(name)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = name
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev["Stage ID"], "_ungrouped")
                g = group(name)
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read"] += read
                st = g["stages"].setdefault(ev["Stage ID"], {
                    "wall_s": 0.0, "task_times": [], "shuffle_read": 0})
                st["task_times"].append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                st["shuffle_read"] += read
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                name = stage_group.get(si["Stage ID"], "_ungrouped")
                st = group(name)["stages"].setdefault(si["Stage ID"], {
                    "wall_s": 0.0, "task_times": [], "shuffle_read": 0})
                if si.get("Completion Time") and si.get("Submission Time"):
                    st["wall_s"] = (si["Completion Time"] - si["Submission Time"]) / 1000.0
    return groups


def task_skew(stages: dict) -> float:
    """max / median task time, worst over the stages that ran at least two
    tasks; 0 when every stage ran a single task (adaptive execution
    coalesces a small shuffle into one partition)."""
    worst = 0.0
    for st in stages.values():
        times = st["task_times"]
        if len(times) < 2:
            continue
        med = statistics.median(times)
        if med > 0:
            worst = max(worst, max(times) / med)
    return worst
