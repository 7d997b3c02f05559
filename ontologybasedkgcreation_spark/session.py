"""SparkSession factory tuned for the KG-construction workload.

Single place for the physics knobs so tests, bench.py and spark-submit jobs
agree: AQE on (runtime re-plan + skew-join splitting for the head-entity
hot keys), Arrow for pandas UDFs (all extraction stages are Arrow-batched),
32 shuffle partitions by default (AQE coalesces small ones at runtime),
overridable per job.  Under spark-submit the launcher's master and driver
heap are kept.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# heap ceiling: enough for 32 concurrent tasks holding Arrow batches of
# large text rows on a big host
MAX_DRIVER_MEM_GB = 32


def driver_memory_for(mem_total_kb: int | None) -> str:
    """``spark.driver.memory`` for a host with ``mem_total_kb`` of physical
    RAM: 40 % of it, so the Python workers (one per task, each holding its
    Arrow batches), tmpfs shuffle dirs and the OS keep the rest — a heap
    cap above physical RAM never triggers GC and the kernel OOM-kills the
    JVM instead.  At least 1g, at most ``MAX_DRIVER_MEM_GB``; an unknown
    host gets the ceiling."""
    if not mem_total_kb:
        return f"{MAX_DRIVER_MEM_GB}g"
    gb = int(mem_total_kb * 0.4 / (1 << 20))
    return f"{max(1, min(MAX_DRIVER_MEM_GB, gb))}g"


def host_driver_memory() -> str:
    """The driver heap this host gets: ``SPARK_GRAFT_DRIVER_MEM``, else
    :func:`driver_memory_for` of /proc/meminfo's MemTotal."""
    pinned = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if pinned:
        return pinned
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return driver_memory_for(int(line.split()[1]))
    except (OSError, ValueError, IndexError):
        pass
    return driver_memory_for(None)


def memory_bytes(size: str) -> int:
    """A JVM memory string (``512m``, ``6g``, ``6144k``; bare digits are
    bytes) in bytes."""
    size = size.strip().lower().rstrip("b")
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if size and size[-1] in scale:
        return int(size[:-1]) * scale[size[-1]]
    return int(size)


def local_threads(master: str) -> int:
    """Worker threads of a ``local[N]`` / ``local[*]`` master, also in the
    ``local[N,F]`` / ``local[*,F]`` forms (F = task max failures); 0 for
    any other master."""
    if not (master.startswith("local[") and master.endswith("]")):
        return 0
    n = master[len("local["):-1].split(",", 1)[0].strip()
    return (os.cpu_count() or 1) if n == "*" else int(n)


def launcher_master() -> str | None:
    """The master a launcher (spark-submit, the pyspark shell) started this
    process's JVM with — its ``--master``, else its own default
    ``local[*]`` — or None when this process starts its own JVM."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def _warn_if_heap_below(spark: SparkSession, fitted: str) -> None:
    """Under a launcher the driver JVM started before this session, so its
    heap is the launcher's ``--driver-memory``, not ``fitted``."""
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    # maxMemory leaves out a survivor space under some collectors: a heap
    # within 10 % of the fitted one counts as fitted
    if heap < 0.9 * memory_bytes(fitted):
        logging.getLogger(__name__).warning(
            "driver JVM heap is %.1f GiB, below the %s fitted to this host; "
            "start the job with spark-submit --driver-memory %s",
            heap / (1 << 30), fitted, fitted,
        )


def get_spark(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The session with this module's conf.  Master: ``master``, else the
    launcher's (:func:`launcher_master`), else ``SPARK_GRAFT_MASTER``,
    else ``local[$SPARK_GRAFT_CPUS]`` (every core when unset).  The driver
    heap is :func:`host_driver_memory`, except under a launcher, which
    started the JVM with its own ``--driver-memory``: then a heap below
    the fitted one gets a warning."""
    launched = launcher_master()
    master = (
        master
        or launched
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    # A pandas-UDF task really occupies two CPUs: the JVM thread serializing
    # Arrow batches plus the Python worker process.  With local[>=16] and one
    # task per core, runnable threads reach 2x cores and Python stages
    # anti-scale (measured 3-6x slowdown at local[32] on this box).  Claiming
    # 2 cpus per task keeps the box at 1x subscription; on a real cluster the
    # equivalent is sizing executor cores to leave headroom for the Python
    # workers.
    task_cpus = "2" if local_threads(master) >= 16 else "1"
    heap = host_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE on: runtime broadcast conversion + skew splitting pay off
        # whenever per-stage data is non-trivial.  Multi-process masters
        # with SMALL per-stage data (the local-cluster scaling legs: 85
        # jobs vs 8) pay each shuffle stage's job latency instead —
        # measured 2.3x on the full pipeline at 30k pages
        # (BENCH/BASELINE.md) — and turn it off through ``extra_conf``.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE runtime broadcast threshold (NOT the static estimate-based
        # one): after a shuffle map stage runs, its MEASURED size decides
        # whether the join flips to broadcast-hash.  64m is a production-
        # sane bound (guide §3.1: a few hundred MB broadcast is fine on
        # real executors); sides that outgrow it — e.g. the node mapping
        # at 100 TB — fall back to sort-merge automatically, so the knob
        # is scale-adaptive by construction.  Biggest local beneficiary:
        # the edge build's two mapping joins (~50 MB runtime size, was
        # SortMergeJoin with a full sort of 8.9M edge endpoints per side).
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512 rows/batch: web pages are 10-100 KB of text per row, so a batch
        # stays ~5-50 MB — 32 concurrent tasks × batch must fit the heap
        # (2048-row batches of 20 KB pages GC-thrashed local[32]; r7
        # re-tested byte-capped batches — maxBytesPerBatch=8m +
        # maxRecordsPerBatch=8192 — and the fused per-page stage GC'd
        # 156 s/run, 4x task time: REVERTED, the row cap stays)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.task.cpus", task_cpus)
        # shuffle/spill on tmpfs: the sandbox disk is a virtio device with
        # variable latency under concurrency; RAM-backed local dirs remove
        # that noise (a real cluster uses NVMe-local shuffle dirs)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        .config("spark.ui.enabled", "false")
    )
    if launched is None:
        # single-JVM local mode: the "driver" heap is the whole executor
        # (Xmx is a cap, not an allocation), fitted to the host's RAM
        builder = builder.config("spark.driver.memory", heap)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if launched is not None:
        _warn_if_heap_below(spark, heap)
    return spark
