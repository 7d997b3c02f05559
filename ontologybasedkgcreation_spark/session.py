"""SparkSession factory tuned for the KG-construction workload.

Single place for the physics knobs so tests, bench.py and spark-submit jobs
agree: AQE on (runtime re-plan + skew-join splitting for the head-entity
hot keys), Arrow for pandas UDFs (all extraction stages are Arrow-batched),
shuffle partitions sized for local[k] (32) but overridable for clusters.
"""

from __future__ import annotations

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


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return driver_memory_for(int(line.split()[1]))
    except (OSError, ValueError, IndexError):
        pass
    return driver_memory_for(None)


def get_spark(
    app_name: str = "ontokg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    # A pandas-UDF task really occupies two CPUs: the JVM thread serializing
    # Arrow batches plus the Python worker process.  With local[>=16] and one
    # task per core, runnable threads reach 2x cores and Python stages
    # anti-scale (measured 3-6x slowdown at local[32] on this box).  Claiming
    # 2 cpus per task keeps the box at 1x subscription; on a real cluster the
    # equivalent is sizing executor cores to leave headroom for the Python
    # workers.
    n_threads = 0
    if master.startswith("local["):
        inner = master[6:-1]
        n_threads = os.cpu_count() if inner == "*" else int(inner)
    task_cpus = os.environ.get(
        "SPARK_GRAFT_TASK_CPUS", "2" if n_threads >= 16 else "1"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE default on (runtime broadcast conversion + skew splitting pay
        # off whenever per-stage data is non-trivial).  Overridable because
        # AQE materializes every shuffle stage as its own job, and in
        # multi-process masters with SMALL per-stage data (the local-cluster
        # scaling legs: 85 jobs vs 8) that job latency dominates — measured
        # 2.3x on the full pipeline at 30k pages (BENCH/BASELINE.md).
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
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
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AQE_BCAST", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512 rows/batch: web pages are 10-100 KB of text per row, so a batch
        # stays ~5-50 MB — 32 concurrent tasks × batch must fit the heap
        # (2048-row batches of 20 KB pages GC-thrashed local[32]; r7
        # re-tested byte-capped batches — maxBytesPerBatch=8m +
        # maxRecordsPerBatch=8192 — and the fused per-page stage GC'd
        # 156 s/run, 4x task time: REVERTED, the row cap stays)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.task.cpus", task_cpus)
        # shuffle/spill on tmpfs: the sandbox disk is a virtio device with
        # variable latency under concurrency; RAM-backed local dirs remove
        # that noise (a real cluster uses NVMe-local shuffle dirs)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # single-JVM local mode: the "driver" heap is the whole executor
        # (Xmx is a cap, not an allocation), fitted to the host's RAM
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
