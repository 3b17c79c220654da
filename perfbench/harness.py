"""Process-level plumbing shared by the workloads: the SparkSession
built from the host, the per-run scratch directory, memory and GC
accounting, and summary statistics."""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics
import time
from collections import defaultdict

# Everything the benchmark writes lives under this directory of the
# checkout: ``cache/`` keeps generated inputs per (seed, size);
# ``run-<pid>/`` is one run's Spark local dir and temp space, removed
# when the run ends.
STATE_DIR = ".perfbench"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the inputs
    are a few hundred MB, and other processes share the host."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    gib = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return f"{gib}g"


class RunDir:
    """Fresh scratch directory for one run (Spark local dir, JVM and
    Python temp files); deleted on close."""

    def __init__(self, root: str) -> None:
        self.root = os.path.abspath(root)
        self.cache = os.path.join(self.root, "cache")
        self.path = os.path.join(self.root, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(run: RunDir):
    from pyspark.sql import SparkSession

    cores = host_cores()
    tmp = os.path.join(run.path, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", host_driver_memory())
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(run.path, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Memory:
    """Peak RSS of this Python process and of the Spark driver JVM."""

    def __init__(self, spark) -> None:
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()

    def peak_mb(self) -> tuple[float, float]:
        return _vm_hwm_mb("self"), _vm_hwm_mb(self.jvm_pid)


class GcClock:
    """Wall time spent in Python's cyclic garbage collector."""

    def __init__(self) -> None:
        self.total = 0.0
        self._t0 = 0.0
        gc.callbacks.append(self._cb)

    def _cb(self, phase: str, info: dict) -> None:
        if phase == "start":
            self._t0 = time.perf_counter()
        else:
            self.total += time.perf_counter() - self._t0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def room_for_another(t0: float, seconds: float, passes: list[float]) -> bool:
    """Whether a pass as long as the last one would still end within
    ``seconds`` of ``t0``: the timed phase runs whole passes, at least
    one, and stops before overrunning its time."""
    return bool(passes) and time.perf_counter() - t0 + passes[-1] <= seconds


class Outcome:
    """One run's timed operations (an HTTP request, or a pass of a job
    list) in seconds, per-part samples for the detail report, and the
    operations that failed or returned a wrong result (warm-up
    included)."""

    def __init__(self) -> None:
        self.ops: list[float] = []
        self.parts: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.wall = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_ms": median(self.ops) * 1e3,
            "ops_per_s": len(self.ops) / self.wall,
        }

    def samples(self) -> dict:
        return {
            "ops": len(self.ops),
            "timed_s": self.wall,
            "op_p99_ms": percentile(self.ops, 99) * 1e3 if self.ops else None,
            "parts": {k: {"n": len(v), "p50_s": median(v)} for k, v in self.parts.items()},
        }
