"""Fit the engine to the host from outside the package.

Everything the session needs is passed in through ``get_spark``'s own
parameters and environment variables: master ``local[nproc]``, nproc shuffle
partitions, a private ``spark.local.dir`` and JVM temp dir inside the
benchmark's work directory, and a JVM heap cap sized for the box instead
of the 32 GB default.  The event log is switched on only for traced runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# The default 32g cap lets the single local JVM grow past physical memory on
# a small box; 6g holds every workload here with room for Python workers.
DRIVER_MEM = "6g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str, abbrev_path: str) -> dict:
    """Environment every process of the run inherits (set before the JVM
    and its Python workers start).  Returns the pinned values."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        # a benchmark-owned path that holds no dictionary: linking uses the
        # 5-entry built-in table on every host
        "ONTOKG_ABBREV_PATH": abbrev_path,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the engine and the benchmark's generators
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pinned)
    return pinned


def start_session(work: str, event_log: bool):
    """The run's one SparkSession, sized to this host."""
    from ontologybasedkgcreation_spark.session import get_spark

    cores = nproc()
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark) -> subprocess.Popen | None:
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM (and with it every Python worker)
    has exited."""
    proc = jvm_process(spark)
    spark.stop()
    gateway = spark.sparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    try:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)


def host_settings(spark) -> dict:
    """Effective settings, recorded as run metadata."""
    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master",
        "spark.sql.shuffle.partitions",
        "spark.local.dir",
        "spark.driver.memory",
        "spark.task.cpus",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    ]
    return {k: conf.get(k) for k in keys} | {"nproc": nproc()}


def calibration_probe(spark) -> tuple:
    """The JVM-only 48M-row codegen aggregation of the repository's
    ``bench.py`` host calibration, one pass: the host's speed at that moment,
    as (wall seconds, CPU seconds of the JVM)."""
    from pyspark.sql import functions as F

    pid = jvm_process(spark).pid
    cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
    (
        spark.range(0, 48_000_000, 1, nproc())
        .select(
            F.xxhash64("id").alias("h"),
            (F.col("id") * 2654435761 % 1000003).alias("m"),
        )
        .agg(
            F.sum(F.col("h") % 1024).alias("s"),
            F.approx_count_distinct("m").alias("d"),
        )
        .collect()
    )
    return time.perf_counter() - t0, tree_cpu_s(pid) - cpu0


def _tree_pids(root_pid: int) -> list:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(children.get(pid, []))
    return pids


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root_pid`` and all its descendants: the JVM and its Python workers.
    Time the host lends to other guests is not counted, unlike wall time."""
    ticks = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssPoller:
    """Peak RSS of the JVM plus its Python workers, polled from /proc while
    the block runs.  psutil is not available, so the process tree is walked
    by hand."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid, self._page))
