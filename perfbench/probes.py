"""Measurement probes used from outside the engine.

Nothing here changes what the engine does: the CPU split reads `/proc`,
the JVM counters are read over py4j, and the layer timers wrap public
functions or subclass `TableIO`, timing the calls the round loop makes.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from searchengine_spark.crawler.tableio import TableIO

TICK = os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """The 90th percentile (statistics.quantiles, inclusive)."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# ------------------------------------------------------------- /proc CPU


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) / TICK  # utime + stime


def children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(f"/proc/{d}/stat")
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    """CPU seconds of this process and every descendant, split into the
    driver's Python, the JVM (executor task threads, JIT compiler threads
    and the rest) and Spark's Python workers."""

    def __init__(self):
        self.root = os.getpid()

    def jvm_pid(self) -> int | None:
        kids = children()
        stack = list(kids.get(self.root, []))
        while stack:
            p = stack.pop()
            if "java" in _cmdline(p).split(" ")[0]:
                return p
            stack.extend(kids.get(p, []))
        return None

    def sample(self) -> dict[str, float]:
        kids = children()
        out = {
            "driver_py": 0.0, "jvm_task": 0.0, "jvm_jit": 0.0, "jvm_other": 0.0,
            "pyworker": 0.0,
        }
        f = _stat_fields(f"/proc/{self.root}/stat")
        out["driver_py"] = _cpu_s(f) if f else 0.0
        stack = list(kids.get(self.root, []))
        while stack:
            p = stack.pop()
            stack.extend(kids.get(p, []))
            if "java" in _cmdline(p).split(" ")[0]:
                self._jvm_threads(p, out)
            else:
                f = _stat_fields(f"/proc/{p}/stat")
                if f:
                    out["pyworker"] += _cpu_s(f)
        return out

    @staticmethod
    def _jvm_threads(pid: int, out: dict[str, float]) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for t in tids:
            f = _stat_fields(f"/proc/{pid}/task/{t}/stat")
            if f is None:
                continue
            try:
                with open(f"/proc/{pid}/task/{t}/comm") as fc:
                    comm = fc.read()
            except OSError:
                continue
            if comm.startswith("Executor task"):
                out["jvm_task"] += _cpu_s(f)
            elif comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                out["jvm_jit"] += _cpu_s(f)
            else:
                out["jvm_other"] += _cpu_s(f)


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def cpu_work_s(cpu: dict[str, float]) -> float:
    """CPU spent on the workload: everything but the JVM's JIT compiler
    threads, whose bursts are warm-up that a long-lived process amortizes
    (they are reported on their own as cpu.jvm_jit_s)."""
    return sum(v for k, v in cpu.items() if k != "jvm_jit")


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------ JVM counters


class Jvm:
    """Cumulative JVM and scheduler counters read over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._cg_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._ssc = self.sc._jsc.sc()

    def sample(self) -> dict[str, float]:
        return {
            "jobs": self._ssc.dagScheduler().numTotalJobs(),
            "compiles": self._cg_metrics.METRIC_COMPILATION_TIME().getCount(),
            "compile_ms": self._cg.compileTime() / 1e6,
            "jit_ms": self._mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(
                b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()
            ),
        }

    def tasks_of_jobs(self, first_job: int, end_job: int) -> int:
        """Completed tasks of the stages of jobs [first_job, end_job)."""
        self._ssc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for j in range(first_job, end_job):
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                n += info.numCompletedTasks
        return n


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def op_layers(m: dict, ops: list[dict]) -> None:
    """Medians over traced ops of the JVM and scheduler counter deltas."""
    for name, key in (
        ("spark.jobs_per_op", "jobs"),
        ("spark.tasks_per_op", "tasks"),
        ("codegen.compiles_per_op", "compiles"),
        ("codegen.compile_ms_per_op", "compile_ms"),
        ("jvm.jit_ms_per_op", "jit_ms"),
        ("jvm.gc_ms_per_op", "gc_ms"),
    ):
        m[name] = median([op[key] for op in ops])


def cpu_layers(m: dict, cpu: dict[str, float], wall: float, nproc: int) -> None:
    """The window's CPU split and its core utilisation."""
    for key in ("driver_py", "jvm_task", "jvm_jit", "jvm_other", "pyworker"):
        m[f"cpu.{key}_s"] = cpu[key]
    m["cpu.core_util"] = sum(cpu.values()) / (wall * nproc)


# ----------------------------------------------------------- layer timers


class Spans:
    """Named values (durations, byte and snapshot counts) grouped by op:
    by_op[op][name] -> list of values."""

    def __init__(self):
        self.op = None
        self.by_op: dict = {}

    def add(self, name: str, seconds: float) -> None:
        if self.op is not None:
            self.by_op.setdefault(self.op, {}).setdefault(name, []).append(seconds)

    def total(self, op, name: str) -> float:
        return sum(self.by_op.get(op, {}).get(name, []))


@contextlib.contextmanager
def wrapped(module, names: list[str], spans: Spans, prefix: str):
    """Replace module attributes by timing wrappers for the block."""
    saved = {n: getattr(module, n) for n in names}

    def make(n, fn):
        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                spans.add(f"{prefix}.{n}", time.perf_counter() - t)

        return timed

    for n, fn in saved.items():
        setattr(module, n, make(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def dir_bytes(path: str) -> int:
    n = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith("."):  # skip Hadoop .crc side files
                n += os.path.getsize(os.path.join(root, f))
    return n


class TimedTableIO(TableIO):
    """Times stage/read/commit_round, records the bytes of each staged
    snapshot and the snapshots each read unions, into `spans`; until
    `enabled` is set it only passes calls through."""

    def __init__(self, spark, warehouse, spans: Spans):
        super().__init__(spark, warehouse)
        self.spans = spans
        self.enabled = False
        self.events: list[tuple] = []  # (table, start, end) per stage call

    def stage(self, table, df, round_no, *a, **k):
        if not self.enabled:
            return super().stage(table, df, round_no, *a, **k)
        t = time.perf_counter()
        try:
            return super().stage(table, df, round_no, *a, **k)
        finally:
            end = time.perf_counter()
            self.events.append((table, t, end))
            self.spans.add(
                "bytes", dir_bytes(self._snap_dir(table, round_no))
            )

    def read(self, table, round_no=None):
        if not self.enabled:
            return super().read(table, round_no)
        t = time.perf_counter()
        try:
            return super().read(table, round_no)
        finally:
            self.spans.add("read", time.perf_counter() - t)
            self.spans.add("snapshots", self._n_read(table, round_no))

    def _n_read(self, table, round_no) -> int:
        vis = self._visible_rounds(table, round_no)
        if vis and self._mode(table, vis[-1]) == "append":
            for i in range(len(vis) - 1, 0, -1):
                if self._manifest(table, vis[i]).get("base"):
                    return len(vis) - i
            return len(vis)
        return 1 if vis else 0

    def commit_round(self, round_no):
        if not self.enabled:
            return super().commit_round(round_no)
        t = time.perf_counter()
        try:
            return super().commit_round(round_no)
        finally:
            self.spans.add("commit", time.perf_counter() - t)
