"""Run context shared by the workloads: host set-up, the Spark session,
statistics, peak memory, and the result line.

Host hygiene: one process, ``local[N]`` with N = the CPUs this process may
run on, a driver heap well below host RAM, and every file the run writes
(Spark's local dir, the lake, logs, the event log, Python and JVM temp
files) under one work dir inside the checkout, on the checkout's
filesystem. The work dir is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def filesystem_of(path: str) -> str:
    """Mount point and type of the filesystem holding ``path``."""
    path = os.path.realpath(path)
    best = ("?", "?")
    with open("/proc/self/mounts", encoding="utf-8") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[1]} at {best[0]}"


class Context:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cpu_count()
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.session_s = None
        self.tracer = None
        self._uninstall = None
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------- set-up
    def __enter__(self) -> "Context":
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # Python temp files (driver and workers) stay inside the work dir
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # Python workers must import the program from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        return self

    def __exit__(self, *exc) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Start the session (timed as ``session_s``)."""
        from geopetl_spark import get_spark

        tmp = self.path("tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench_{self.workload}", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.range(1).count()  # the session is usable only after its first job
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = spans.Tracer(self.spark.sparkContext, f"{self.workload}-{self.seed}")
            self._uninstall = spans.install(self.tracer)
        else:
            self.tracer = spans.NullTracer()
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self._uninstall is not None:
            self._uninstall()
            self._uninstall = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # the JVM did not exit on its own
                proc.kill()
                proc.wait()

    # --------------------------------------------------------- accounting
    def op(self, ok: bool, what: str) -> None:
        """Count one operation (an epoch, a changelog read, a state check
        or a query); report a wrong one on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG {what}", file=sys.stderr)


# ---------------------------------------------------------------- stats
def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs: list[float]) -> str:
    """The highest percentile with at least ten samples above it, with the
    sample count, as text; fewer than eleven samples have no such
    percentile."""
    s = sorted(xs)
    if len(s) < 11:
        return f"no percentile has ten samples beyond it at n={len(s)}"
    i = len(s) - 11
    return f"p{100.0 * i / (len(s) - 1):.0f} of n={len(s)} is {s[i]:.3f}s"


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    process it started: the driver JVM and its Python daemon and workers.
    Peaks of different processes may fall at different times, so the sum
    is an upper bound on the simultaneous peak."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
