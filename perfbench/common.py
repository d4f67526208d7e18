"""Shared harness pieces: run context, Spark set-up, spans, resource probes.

Everything a run writes lands under ``.bench_out/`` (per-run scratch)
or ``.bench_cache/`` (generated inputs reused across runs) at the root
of the checkout the benchmark runs from.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from __spark_entry__ import _CANONICAL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")

# the canonical queries replay_canonical runs, in catalog order
CANONICAL = tuple(_CANONICAL)

DRIVER_MEMORY = "6g"  # get_spark's 24g default does not fit a 15 GB host
YOUNG_GEN = "512m"
SETUP_REPEATS = 7
RSS_EVERY_S = 0.2


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, p):
    """Percentile (p in 0..100), linear between the two nearest ranks;
    with the 10-20 samples of a run this moves less than the
    nearest-rank value, which at p90 is the maximum."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder, written out once when the run ends.
    Disabled tracers record nothing, so an untraced run pays only the
    ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent, attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class Run:
    """One benchmark run: arguments, scratch directory, tracer, Spark."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.dir = os.path.join(OUT, f"{workload}-s{seed}-t{int(trace)}")
        if os.path.exists(self.dir):
            shutil.rmtree(self.dir)
        os.makedirs(self.dir)
        os.makedirs(CACHE, exist_ok=True)
        self.spark = None
        self.setup_times: list[float] = []
        self.get_spark_times: list[float] = []
        self.load_times: list[float] = []

    # -- Spark lifecycle -------------------------------------------------

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # a fixed young generation: adaptive young sizing made GC
            # work and the resident set swing from run to run
            "spark.driver.extraJavaOptions":
                f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={tmp}",
        }
        if self.trace:
            logdir = os.path.join(self.dir, "eventlog")
            os.makedirs(logdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, attach) -> object:
        """Build the session and attach the workload's inputs
        ``SETUP_REPEATS`` times (stopping the context in between); the
        last session is kept. ``attach(spark)`` registers inputs and
        returns what the workload needs."""
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        from lightsaber_spark import get_spark

        handle = None
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup", repeat=i):
                t0 = time.perf_counter()
                with self.tracer.span("session.get_spark"):
                    self.spark = get_spark(
                        app_name=f"perfbench-{self.workload}", extra_conf=self._conf()
                    )
                t1 = time.perf_counter()
                with self.tracer.span("session.attach"):
                    handle = attach(self.spark)
                t2 = time.perf_counter()
            self.get_spark_times.append(t1 - t0)
            self.load_times.append(t2 - t1)
            self.setup_times.append(t2 - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return handle

    def gc_ms(self) -> float:
        """Cumulative driver-JVM garbage-collection time."""
        jvm = self.spark._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    @contextmanager
    def rss_sampler(self):
        """Sample the resident set of the driver JVM plus this Python
        while the block runs; yields a list whose max is the peak over
        the measured phase (set-up and warm-up excluded)."""
        pids = (self.spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid())
        samples: list[float] = []
        stop = threading.Event()

        def sample():
            while True:
                samples.append(sum(_rss_kb(p) for p in pids) / 1024.0)
                if stop.wait(RSS_EVERY_S):
                    return

        t = threading.Thread(target=sample, daemon=True)
        t.start()
        try:
            yield samples
        finally:
            stop.set()
            t.join()

    def shutdown(self) -> None:
        """Stop Spark and the gateway JVM and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait()

    # -- outputs ----------------------------------------------------------

    def event_log(self) -> list[dict]:
        """Events of the measured (last) Spark context's event log
        (trace mode; complete only after the context stopped)."""
        files = glob.glob(os.path.join(self.dir, "eventlog", "*"))
        if not files:
            return []
        events = []
        with open(max(files, key=os.path.getmtime)) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
        return events

    def setup_metrics(self) -> dict[str, float]:
        return {
            "setup_s": median(self.setup_times),
            "session.get_spark_s": median(self.get_spark_times),
            "session.load_tables_s": median(self.load_times),
        }


def job_table(events: list[dict]) -> tuple[dict[int, str | None], dict[int, dict]]:
    """``(job id → job group, stage id → summary)`` from an event log;
    a stage summary holds its job, group, timing and byte counters."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, tuple[int, str | None]] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = group
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = (e["Job ID"], group)
    stages = {}
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

        def num(name):
            try:
                return int(acc.get(name) or 0)
            except (TypeError, ValueError):
                return 0

        job, group = stage_group.get(info["Stage ID"], (None, None))
        stages[info["Stage ID"]] = {
            "job": job,
            "group": group,
            "start": (info.get("Submission Time") or 0) / 1000.0,
            "end": (info.get("Completion Time") or 0) / 1000.0,
            "shuffle_bytes": num("internal.metrics.shuffle.write.bytesWritten"),
            "spill_bytes": num("internal.metrics.diskBytesSpilled"),
            "gc_ms": num("internal.metrics.jvmGCTime"),
        }
    return job_group, stages


def scan_bytes(events: list[dict]) -> dict[str | None, int]:
    """``job group → bytes of files scanned`` from an event log: the
    scans' ``size of files read`` SQL metric. The task-level
    ``input.bytesRead`` is not used: on local files the parquet reader
    reports only its footer reads there."""
    names: dict[int, str] = {}
    group: dict[int, str | None] = {}

    def walk(node):
        for m in node.get("metrics", []):
            names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            walk(child)

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            group[e["executionId"]] = e.get("jobGroupId")
            walk(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])
    out: dict[str | None, int] = {}
    for e in events:
        if e.get("Event", "").endswith("SparkListenerDriverAccumUpdates"):
            g = group.get(e["executionId"])
            for acc, v in e["accumUpdates"]:
                if names.get(acc) == "size of files read":
                    out[g] = out.get(g, 0) + v
    return out
