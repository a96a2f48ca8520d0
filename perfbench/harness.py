"""Run context shared by the three workloads: scratch layout, Spark
session, op recording, per-call spans and the outside-in probes.

Everything here observes ``filters_spark`` from the outside: it times
calls into the package's public functions, sets a Spark job group
around each traced call, and reads Spark's own counters (status
tracker, codegen histogram, JVM memory pools, the event log).  Nothing
is patched into the program.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a process in KiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time stolen by the hypervisor, all CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``; hidden
    checksum files (``.crc``) and markers count like any other file,
    because they are bytes the writer left on disk."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                size += os.stat(os.path.join(root, name)).st_size
                n += 1
            except OSError:
                pass
    return n, size


def input_dir(cache: str, workload: str, size: str, seed: int,
              source: str) -> str:
    """Cache directory of one seed's inputs, keyed also by the
    generating module's source, so an edited generator never reuses
    inputs (or expectations) made by an older one."""
    import hashlib
    with open(source, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(cache, workload, size, f"seed-{seed}-{tag}")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.75, 0.5)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    above it, as (value, percentile, samples).  With fewer than 20
    samples no percentile qualifies; the median is returned and the
    caller prints the sample count beside it."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if n * (1 - q) >= 10:
            return quantile(values, q), q * 100, n
    return (statistics.median(values) if values else 0.0), 50.0, n


@dataclass
class Op:
    """One timed call into the program."""
    name: str            # layer-qualified call name, e.g. versioned.merge
    kind: str            # "commit", "read" or "build"
    iteration: int
    start: float         # epoch seconds (comparable with event-log ms)
    wall: float          # perf_counter duration, seconds
    rows: int = 0
    failed: bool = False


class Recorder:
    """Times every call, and — on traced iterations — wraps it in a
    span with its own Spark job group and codegen/status probes."""

    def __init__(self, spark, trace: bool, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.run_id = run_id
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.failures: list[str] = []
        self.traced_iteration = False
        self.iteration = -1
        self._iter_span: dict | None = None
        self._jvm = spark._jvm
        self._codegen = (self._jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.timed = False

    # -- iterations ---------------------------------------------------
    def begin_iteration(self, i: int, timed: bool = True):
        """Start iteration ``i``; on a traced run every timed iteration
        is a span."""
        self.iteration = i
        self.timed = timed
        self.traced_iteration = self.trace and timed
        if self.traced_iteration:
            self._iter_span = self._new_span("iteration", None)
            self._iter_span["untimed_s"] = 0.0
            self._iter_t0 = time.perf_counter()

    def end_iteration(self):
        if self._iter_span is not None:
            self._iter_span["end"] = time.time()
            self._iter_span["wall"] = time.perf_counter() - self._iter_t0
            self._iter_span = None

    @contextmanager
    def untimed(self):
        """The benchmark's own work inside an iteration (output checks,
        directory listings, probes): kept out of the span
        reconciliation, which expects the rest of the iteration to be
        covered by call spans."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._iter_span is not None:
                self._iter_span["untimed_s"] += time.perf_counter() - t0

    def _new_span(self, name: str, parent: int | None) -> dict:
        span = {"id": len(self.spans), "name": name, "parent": parent,
                "run": self.run_id, "start": time.time(), "end": None,
                "iteration": self.iteration}
        self.spans.append(span)
        return span

    # -- calls --------------------------------------------------------
    def call(self, name: str, kind: str, fn, *args, rows: int = 0,
             **kwargs):
        """Run ``fn`` as one timed call; returns its result.  An
        exception counts as a failed op and propagates."""
        traced = self.traced_iteration
        span = None
        if traced:
            span = self._new_span(
                name, self._iter_span["id"] if self._iter_span else None)
            group = f"pb-{self.run_id}-{span['id']}"
            span["group"] = group
            self.sc.setJobGroup(group, name, False)
            c0 = self._codegen.getCount()
        start = time.time()
        t0 = time.perf_counter()
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
        finally:
            wall = time.perf_counter() - t0
            if traced:
                span["end"] = start + wall
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                c1 = self._codegen.getCount()
                span["codegen_compiles"] = c1 - c0
                span["codegen_ms"] = (
                    (c1 - c0) * self._codegen.getSnapshot().getMean()
                    if c1 > c0 else 0.0)
                span["tracker_jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group))
            if self.timed:
                self.ops.append(Op(name, kind, self.iteration, start, wall,
                                   rows, failed=not ok))
        return out

    # -- correctness --------------------------------------------------
    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(op.failed for op in self.ops)

    def check(self, what: str, ok: bool, detail: str = "",
              op: Op | None = None) -> bool:
        """Record one output check; a wrong output marks the op that
        produced it (default: the last one) as failed.  Checks during
        set-up have no op and fail the run through ``failures``."""
        if not ok:
            self.failures.append(f"{what}: {detail}"[:400])
            target = op or (self.ops[-1] if self.timed and self.ops
                            else None)
            if target is not None:
                target.failed = True
        return ok

    # -- probes -------------------------------------------------------
    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def heap_peak_mb(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        peak = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                peak += pool.getPeakUsage().getUsed()
        return peak / 2**20


# ---------------------------------------------------------------------
# Scratch layout and Spark session
# ---------------------------------------------------------------------

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


class Scratch:
    """``.perfbench/`` under the checkout: ``cache/`` keeps generated
    inputs per (workload, size, seed) across runs; ``run-<id>/`` is
    this run's own root (Spark conf, local dirs, temp files, table and
    sink outputs, event log) and is removed when the run ends."""

    def __init__(self, checkout: str, run_id: str):
        self.base = os.path.join(checkout, ".perfbench")
        self.cache = os.path.join(self.base, "cache")
        self.root = os.path.join(self.base, f"run-{run_id}")
        self.traces = os.path.join(self.base, "traces")
        for sub in ("conf", "local", "tmp", "warehouse", "events", "data"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)
        os.makedirs(self.cache, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def configure_env(scratch: Scratch, cpus: int, trace: bool) -> None:
    """Pin the session through the environment and benchmark-owned
    Spark defaults (``SPARK_CONF_DIR``), leaving ``get_spark`` as is.
    Must run before pyspark launches its JVM."""
    conf = [
        ("spark.local.dir", scratch.path("local")),
        ("spark.sql.warehouse.dir", scratch.path("warehouse")),
        ("spark.driver.extraJavaOptions",
         f"-Djava.io.tmpdir={scratch.path('tmp')}"),
        ("spark.ui.showConsoleProgress", "false"),
    ]
    if trace:
        conf += [
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + scratch.path("events")),
            ("spark.eventLog.compress", "false"),
        ]
    with open(scratch.path("conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf)
    with open(scratch.path("conf", "log4j2.properties"), "w") as f:
        f.write(LOG4J)
    os.environ.update({
        "SPARK_CONF_DIR": scratch.path("conf"),
        "SPARK_LOCAL_DIRS": scratch.path("local"),
        "TMPDIR": scratch.path("tmp"),
        # no hsperfdata files in the system temp dir, for the launcher
        # JVM and the driver JVM alike
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    })
    import tempfile
    tempfile.tempdir = scratch.path("tmp")


def jvm_pid(spark) -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:       # gateway already gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------

PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent",
}


def read_event_log(events_dir: str) -> dict:
    """Parse Spark's uncompressed event log into jobs and per-stage
    task totals."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = []
    for root, _, names in os.walk(events_dir):
        files += [os.path.join(root, n) for n in names
                  if n.startswith("events_") or n.startswith("local-")]
    files.sort(key=lambda p: [int(t) if t.isdigit() else t
                              for t in re.split(r"(\d+)", p)])
    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "callsite": _relative_callsite(
                            props.get("callSite.short", "")),
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = \
                            e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_w": 0, "shuffle_r": 0, "in_bytes": 0,
                        "in_records": 0, "out_bytes": 0, "py_run_ms": 0,
                        "py_boot_ms": 0, "py_sent": 0})
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_r"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                    im = m.get("Input Metrics") or {}
                    st["in_bytes"] += im.get("Bytes Read", 0)
                    st["in_records"] += im.get("Records Read", 0)
                    st["out_bytes"] += (m.get("Output Metrics") or {}) \
                        .get("Bytes Written", 0)
                    for a in (e.get("Task Info") or {}) \
                            .get("Accumulables", []):
                        key = PY_METRICS.get(a.get("Name"))
                        if key:
                            st[key] += int(a.get("Update") or 0)
    # a stage shared by several jobs ran in the first of them only
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["own_stages"] = [s for s in job["stages"]
                             if owner.get(s) == jid and s in stages]
    return {"jobs": jobs, "stages": stages}


def _relative_callsite(callsite: str) -> str:
    """'collect at /abs/checkout/pkg/mod.py:12' -> 'collect at
    pkg/mod.py:12' for files under the working directory."""
    head, sep, loc = callsite.rpartition(" ")
    if sep and os.path.isabs(loc):
        rel = os.path.relpath(loc, os.getcwd())
        if not rel.startswith(".."):
            return f"{head} {rel}"
    return callsite


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def function_line_ranges(module, names: list[str]) -> dict[str, tuple]:
    """(file, first line, last line) of each named function, for
    mapping an event-log call site back to the function it sits in."""
    import inspect
    out = {}
    for n in names:
        fn = getattr(module, n)
        lines, first = inspect.getsourcelines(fn)
        out[n] = (os.path.basename(inspect.getsourcefile(fn)),
                  first, first + len(lines) - 1)
    return out


def attribute(spans: list[dict], log: dict) -> None:
    """Attach event-log jobs and task totals to each call span: jobs
    of the span's group, plus group-less jobs submitted inside its
    interval (helper threads do not inherit the group)."""
    calls = [s for s in spans if s.get("group")]
    by_group = {s["group"]: s for s in calls}
    for s in calls:
        s["jobs"], s["unattributed"] = [], []
    for jid, job in sorted(log["jobs"].items()):
        if job["group"] in by_group:
            by_group[job["group"]]["jobs"].append(jid)
        elif job["group"] is None:
            for s in calls:
                if s["start"] <= job["submit"] <= s["end"]:
                    s["unattributed"].append(jid)
                    break
    keys = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_w", "shuffle_r",
            "in_bytes", "in_records", "out_bytes", "py_run_ms",
            "py_boot_ms", "py_sent")
    for s in calls:
        tot = dict.fromkeys(keys, 0)
        ivals = []
        for jid in s["jobs"] + s["unattributed"]:
            job = log["jobs"][jid]
            end = job["end"] if job["end"] is not None else s["end"]
            ivals.append((max(job["submit"], s["start"]), min(end, s["end"])))
            for sid in job["own_stages"]:
                for k in keys:
                    tot[k] += log["stages"][sid][k]
        s["tasks"] = tot
        s["job_union_s"] = union_length([iv for iv in ivals if iv[1] > iv[0]])
        s["callsites"] = [log["jobs"][j]["callsite"]
                          for j in s["jobs"] + s["unattributed"]]
