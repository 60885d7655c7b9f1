"""Session sizing, spans, memory and result assembly for the benchmark.

Everything here is benchmark-side: the package under test is only called
through its public functions, and spans are recorded around those calls.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: share of MemTotal given to the driver JVM heap (local mode runs every
#: executor inside the driver), clamped so a small host still starts and a
#: large one is not claimed wholesale
DRIVER_MEM_SHARE = 0.10
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 8192


def host_info() -> dict:
    """nproc, MemTotal, the pyspark version and the checkout's commit."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        # a checkout without git metadata records the commit as unknown
        "commit": commit or "unknown",
    }


def make_session(host: dict, trace: bool):
    """``local[nproc]`` session sized from the host; every scratch path
    (local dirs, JVM temp dir, event log) lives under the work dir."""
    from pyspark.sql import SparkSession

    nproc = host["nproc"]
    mem_mb = int(host["mem_total_mb"] * DRIVER_MEM_SHARE)
    mem_mb = max(DRIVER_MEM_MIN_MB, min(DRIVER_MEM_MAX_MB, mem_mb))
    local_dir = os.path.join(WORK, "spark-local")
    jvm_tmp = os.path.join(WORK, "jvm-tmp")
    for d in (local_dir, jvm_tmp):
        os.makedirs(d, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        # a heap fixed at its maximum from the start keeps the peak RSS from
        # depending on when the JVM decides to grow the heap.  A run lasts
        # about a minute: the optimizing JIT tier would spend it compiling
        # on the cores the tasks run on (a cold build took 20 s with it,
        # 13.5 s without), so the JVM stops at the quick tier
        .config("spark.driver.extraJavaOptions", f"-Xms{mem_mb}m -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={jvm_tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
    )
    if trace:
        ev_dir = os.path.join(WORK, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + ev_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    host["driver_memory_mb"] = mem_mb
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit; the
    JVM stops its Python worker daemon on the way out."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        proc.wait(timeout=60)


def prepare_environment() -> None:
    """Point temp files and the Spark Python workers at the checkout: the
    workers import the package from the checkout root, and nothing is
    written outside the work dir."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of this driver Python process plus its JVM child."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    """``start_ms``/``end_ms`` are epoch times, to line up with the event
    log; ``seconds`` comes from the monotonic clock."""

    name: str
    group: str
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    seconds: float = 0.0
    #: JVM garbage-collection time inside the span (traced run only)
    gc_ms: float = 0.0


class Tracer:
    """Wall-clock spans around the benchmark's calls into the package.

    Spans are always recorded (their durations are the end-to-end
    latencies).  With ``job_groups`` on (the traced run), each span also
    sets a Spark job group ``pb-<n>`` so the event log can be folded back
    onto it; the parent's group is restored when a nested span ends, and
    the span records the JVM's garbage-collection time (local mode runs
    every executor inside that JVM)."""

    def __init__(self, spark, job_groups: bool) -> None:
        self.sc = spark.sparkContext
        self.job_groups = job_groups
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"pb-{idx}", parent, time.time() * 1000.0)
        self.spans.append(sp)
        self._stack.append(idx)
        if self.job_groups:
            self.sc.setJobGroup(sp.group, name)
            gc0 = self._jvm_gc_ms()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if self.job_groups:
                sp.gc_ms = self._jvm_gc_ms() - gc0
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(p.group, p.name)

    def _jvm_gc_ms(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def named(self, name: str) -> list[Span]:
        """Spans called ``name``, leaving out those inside a ``warm`` span:
        a warm-up call never counts in a figure."""
        return [s for s in self.spans if s.name == name and not self._in_warm(s)]

    def _in_warm(self, sp: Span) -> bool:
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            if sp.name == "warm":
                return True
        return False

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.named(name)]


class Ledger:
    """Attempted / failed operation counts and the output checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception counts it failed, returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # one failed op must not end the run
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {exc!r}"[:300])
            return None

    def check(self, ok: bool, what: str) -> bool:
        """An output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}"[:300])
        return ok
