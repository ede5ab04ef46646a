"""Session set-up, spans, worker memory probes and the closed loop shared
by the workloads.

Everything here wraps the package from the outside: the benchmark times
its own calls into each layer and reads Spark's own instrumentation; it
changes no file of the package.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import time
from dataclasses import dataclass, field


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class Spans:
    """In-memory span recorder: (name, start, end, parent). Written out once,
    when the run ends."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def _cpu_times() -> list[int]:
    """The machine-wide cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants() -> list[int]:
    """This process and every process descended from it."""
    kids = _children(os.getpid())
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 1:].split()


# HotSpot's JIT compiler threads. How much they compile during an operation
# depends on how warm the JVM is, not on the operation, so the CPU metric
# leaves them out; JAVA_TOOL_OPTIONS keeps them alive for the whole run.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the driver, the JVM and the Python workers, without the
    JVM's JIT compiler threads. A process that exited and was reaped is
    counted in its parent's children's times. Time the hypervisor stole
    is not in it."""
    ticks = 0
    for pid in _descendants():
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            if name == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if name.startswith(JIT_THREADS):
                        ticks -= int(fields[11]) + int(fields[12])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and process-tree CPU seconds of the block it times."""

    def __enter__(self):
        self.cpu0, self.t0 = tree_cpu_seconds(), time.time()
        return self

    def __exit__(self, *exc):
        self.wall = time.time() - self.t0
        self.cpu = tree_cpu_seconds() - self.cpu0
        return False


def python_worker_peak_mb() -> float:
    """Largest VmHWM (peak resident set) among the PySpark Python worker
    processes descended from this process, in MB; 0 when none is alive."""
    peak = 0.0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peak


# Timed operations a loop runs at least, also when a slow machine fits
# fewer in the time.
MIN_OPS = 3
# Set-ups an untraced run times: the cold one from process start, then
# restarts of the session in the same JVM. setup_s is their median.
SETUPS = 3


@dataclass
class OpResult:
    """One closed-loop operation: wall seconds of the timed call, the
    documents and bytes it carried, whether its output was correct, and the
    process-tree CPU seconds of the timed call."""

    seconds: float
    docs: int
    nbytes: int
    ok: bool
    cpu: float = 0.0
    kind: str = "op"
    extra: dict = field(default_factory=dict)


class Context:
    """The run's Spark session and everything measured around it."""

    def __init__(self, root: str, work: str, cores: int, seed: int) -> None:
        self.root, self.work, self.cores, self.seed = root, work, cores, seed
        self.spans = Spans()
        self.spark = None
        self.setup_seconds: list[float] = []
        self.worker_peak_mb = 0.0
        self.event_dir = os.path.join(work, "events")
        self.cpu_at_start = _cpu_times()

    def _conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            })
        return conf

    def start_session(self, since: float | None = None, traced: bool = False) -> None:
        """(Re)start the session and warm it: one small single-task
        extraction job, so the Python worker daemon runs and a worker has
        imported the extractor (the untimed operation that follows spawns
        the rest). Records the set-up time from ``since`` (default: now)
        unless the restart only switches tracing on."""
        import datetime as dt

        from mistral_ocr_spark.operators.extract import extract_pages
        from mistral_ocr_spark.session import get_spark
        from mistral_ocr_spark.sources.tables import PAGES_SCHEMA

        self.stop_session()
        t0 = time.time() if since is None else since
        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf(traced))
        self.spark.sparkContext.setLogLevel("ERROR")
        page = b"<html><body><article><p>warm up the python workers</p></article></body></html>"
        rows = [(f"https://warm.example.com/{i}", dt.datetime(2024, 1, 1), page, None, "en")
                for i in range(8)]
        with self.described("warm"):
            extract_pages(self.spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1)).count()
        if not traced:
            self.setup_seconds.append(time.time() - t0)
        self.sample_workers()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.sample_workers()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop_session()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @contextlib.contextmanager
    def described(self, desc: str):
        """Label the Spark jobs started inside the block (the trace
        attributes stages to layers by it); restores the outer label."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(desc)
        try:
            yield
        finally:
            sc.setJobDescription(prev)

    @contextlib.contextmanager
    def hooked(self, hooks):
        """Wrap module functions with a span and a job description for the
        duration of the block; the originals are restored afterwards."""
        saved = []
        for module, attr, namer in hooks:
            orig = getattr(module, attr)

            def wrapper(*a, _orig=orig, _namer=namer, **k):
                name = _namer(*a, **k)
                with self.described(name), self.spans.span(name):
                    return _orig(*a, **k)

            setattr(module, attr, wrapper)
            saved.append((module, attr, orig))
        try:
            yield
        finally:
            for module, attr, orig in saved:
                setattr(module, attr, orig)

    def steal_frac(self) -> float:
        """Share of this machine's CPU time that its hypervisor gave to
        other guests since this run began (from /proc/stat);
        stamped next to the results because it moves every time metric."""
        now = _cpu_times()
        total = sum(now) - sum(self.cpu_at_start)
        return (now[7] - self.cpu_at_start[7]) / total if total else 0.0

    def sample_workers(self) -> None:
        self.worker_peak_mb = max(self.worker_peak_mb, python_worker_peak_mb())

    def closed_loop(self, op, seconds: float) -> list[OpResult]:
        """One client, closed loop: each operation starts when the previous
        one has returned; keep starting operations until ``seconds`` have
        passed and at least ``MIN_OPS`` have run."""
        results: list[OpResult] = []
        deadline = time.time() + seconds
        while len(results) < MIN_OPS or time.time() < deadline:
            results.append(op(len(results)))
            self.sample_workers()
        return results
