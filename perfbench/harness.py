"""Process set-up, the pinned Spark session, memory sampling and the
operation count shared by every workload."""

from __future__ import annotations

import gc
import os
import statistics
import time
from pathlib import Path

#: pinned driver heap: the package default (16g) exceeds a 15 GB box
DRIVER_MEMORY = "2g"
#: JIT pinned to the C1 tier: with C2 on, iteration times kept falling for
#: a dozen iterations, longer than a run can afford; with C1 alone they
#: level after the first (cold) iteration. A CLI call is a short-lived JVM
#: in which C2 rarely finishes warming up anyway. C1 alone defaults to a
#: 48 MB code cache, which fills within a run and then stops compilation,
#: so the cache gets the tiered default's size.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: Path, work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; make the package importable by the Python workers."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_ARROW_BATCH", None)


def spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData {JIT_OPTIONS}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: Path, probe_path: Path):
    """``get_spark`` plus a first query — what a CLI call pays before its
    first job. Returns (session, seconds)."""
    from cloud_data_quality_spark.sources.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]",
                      extra_conf=spark_conf(work))
    spark.read.parquet(str(probe_path)).count()
    return spark, time.perf_counter() - t0


def storage_memory_mb(spark) -> float:
    """The driver's unified (execution + storage) memory pool."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters \
        .asJava(store.executorList(True))
    return sum(e.maxMemory() for e in execs) / 2**20


def collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class PeakRss:
    """Peak resident memory of this process tree — driver Python, the JVM
    it launched and the Python workers under the JVM — as the sum of each
    process's high-water mark (VmHWM) since ``reset``. Nothing samples
    while an iteration is timed."""

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            for c in children.get(frontier.pop(), ()):
                tree.append(c)
                frontier.append(c)
        return tree

    def reset(self) -> None:
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_mb(self) -> float:
        total_kb = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024


class Ops:
    """Attempted and failed operations: CLI invocations and output checks.
    Failures are recorded by name; ``unexpected`` excludes known defects."""

    def __init__(self, is_known_defect=lambda name: False):
        self.attempted = 0
        self.failed: dict[str, int] = {}
        self._known = is_known_defect

    def record(self, attempted: int, failed_names: list[str]) -> None:
        self.attempted += attempted
        for n in failed_names:
            self.failed[n] = self.failed.get(n, 0) + 1

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def unexpected(self) -> dict[str, int]:
        return {k: v for k, v in self.failed.items() if not self._known(k)}


def median(values: list[float]) -> float:
    return statistics.median(values)


def drift(values: list[float]) -> float:
    """Median of the second half of a series over the first half, minus 1:
    a run still warming up shows as a negative drift."""
    half = len(values) // 2
    if half == 0:
        return 0.0
    return median(values[half:]) / median(values[:half]) - 1.0


def stop_session() -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit: the JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
