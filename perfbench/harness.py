"""Process-level plumbing for the benchmark: the Spark session, shipping
the package to Python workers, the peak-RSS sampler, the host probe and
the summary statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(Spark local dirs, the JVM temp dir, inputs, state, the event log and the
trace files), so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "deezymatch_spark"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of physical memory, clamped to [1, 4] GB: the machine is
    shared, and the largest input here needs well under 1 GB of heap."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def make_work_dir(run_id: str) -> str:
    path = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events", "data"):
        os.makedirs(os.path.join(path, sub))
    return path


def package_zip(work: str) -> str:
    """Zip the checkout's package for ``addPyFile`` — the ``--py-files``
    deployment, so Python workers import the code under test from any
    working directory."""
    out = os.path.join(work, PACKAGE + ".zip")
    src = os.path.join(ROOT, PACKAGE)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for d, dirs, files in os.walk(src):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return out


def start_spark(work: str, *, event_log: bool):
    """``local[<cores>]`` session confined to ``work``. The event log is
    on only for traced runs."""
    tmp = os.path.join(work, "tmp")
    # the JVM and the Python workers it forks inherit these
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM runs before the driver JVM's options apply
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("deezymatch-perfbench")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.default.parallelism", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    spark.sparkContext.addPyFile(package_zip(work))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it:
    its Python workers die with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------- peak RSS


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass  # the process ended between listing and reading
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples VmRSS summed over this process's tree (Python driver, the
    JVM, its Python workers) every ``interval`` seconds; ``peak_mb`` is
    the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------- host probe


def host_probe() -> float:
    """Fixed single-thread work (integer hashing and a small float loop)
    — moves with host co-tenancy only, never with the code under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc * 1_000_003 + i) & 0xFFFFFFFF
    x = 0.0
    for i in range(200_000):
        x += math.sqrt(i + acc % 7)
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings — co-tenancy, not the code under test."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return delta[7] / total if total else 0.0


# ------------------------------------------------------------ statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it → (value, percentile, sample count). With fewer than eleven
    samples no such percentile exists and the maximum is reported with
    percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n
