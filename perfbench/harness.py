"""Session sizing, process accounting and the per-run context.

The Spark session is sized from the machine: ``local[N]`` with N the CPUs
this process may run on, as many shuffle partitions (the workloads' tables
are small: more partitions only add tasks to every round), and a driver
heap of a quarter of the available memory clamped to 1-4 GB (rounded down
to whole GB, so small fluctuations of free memory do not change it).
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field


def machine_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def available_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_gb(avail_gb: float) -> int:
    return int(min(4, max(1, avail_gb // 4)))


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
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pid`` and every process
    it started: the driver, its JVM and the Python workers."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor took between two
    ``cpu_ticks`` readings (the eighth counter is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


@dataclass
class Ops:
    """Operations attempted and failed: crawl trials, rounds, requests and
    correctness checks. A failed check records its message."""
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


@dataclass
class Context:
    spark: object
    root: str
    work: str
    out_dir: str
    workload: str
    seed: int
    seconds: float
    cores: int
    # the traced run's span recorder, and the recorder while a traced
    # section runs (None outside it, so the untraced reference is not
    # traced)
    recorder: object | None
    event_log_dir: str | None
    session_start_s: float
    tracer: object | None = None
    ops: Ops = field(default_factory=Ops)
    # what the traced run records for the summary beside its spans
    trace_info: dict = field(default_factory=dict)
    _closed: bool = False
    _t0: float = field(default_factory=time.perf_counter)

    @classmethod
    def start(cls, *, root: str, work: str, seed: int, seconds: float,
              trace: bool, out_dir: str, workload: str,
              t_process_start: float) -> "Context":
        from chrono_scraper_spark.session import get_spark

        cores = machine_cores()
        os.environ["CSS_DRIVER_MEM"] = f"{heap_gb(available_mem_gb())}g"
        # every temporary file of the driver, the JVM and the workers goes
        # under the run's work directory
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        event_log_dir = None
        recorder = None
        if trace:
            import spans

            event_log_dir = os.path.join(work, "eventlog")
            os.makedirs(event_log_dir)
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = "file://" + event_log_dir
            extra["spark.eventLog.compress"] = "false"
            recorder = spans.Tracer(run_id=f"{workload}-{seed}")
        spark = get_spark(app_name=f"perfbench-{workload}",
                          master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return cls(spark=spark, root=root, work=work, out_dir=out_dir,
                   workload=workload, seed=seed, seconds=seconds,
                   cores=cores, recorder=recorder,
                   event_log_dir=event_log_dir,
                   session_start_s=time.perf_counter() - t_process_start)

    @contextlib.contextmanager
    def tracing(self):
        """Record spans, and wrap the program's eager layers, inside."""
        from spans import wrap_program

        self.tracer = self.recorder
        try:
            with wrap_program(self.recorder):
                yield self.recorder
        finally:
            self.tracer = None

    def log(self, what: str) -> None:
        """Progress line on stderr: seconds since the session started."""
        print(f"[perfbench {time.perf_counter() - self._t0:7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def close(self) -> None:
        """Stop Spark, then wait until the JVM and every Python worker it
        started have exited (killing what is left after a minute)."""
        if self._closed:
            return
        self._closed = True
        from pyspark import SparkContext

        started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while True:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")
                     and not _zombie(p)]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
                return
            time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
