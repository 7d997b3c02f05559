"""Two-cluster-size scaling evidence (BASELINE.json north rule).

Runs the identical KG-pipeline job on the identical input at two parallelism
levels and reports pages/sec at both plus scaling efficiency
(eff = speedup / 4).  Two modes:

- thread mode (default): local[N] vs local[4N] — task slots in ONE JVM,
  the cheap stand-in for executor count.
- cluster mode (--cluster): local-cluster[1,C,mem] vs local-cluster[4,C,mem]
  — SEPARATE executor JVMs (Spark's standalone-style test master), the
  honest in-sandbox analog of 1 vs 4 executors: per-executor heaps, Arrow
  Python workers, and shuffle traffic between processes.

Each level runs in a fresh interpreter (a ``spawn`` process) so the
JVM/session is cold-started identically.  Results are appended to
BENCH/scaling_runs.md.

Usage: python3 scripts/scaling_bench.py [n_pages] [N] [page_chars] [--cluster]
  (cluster mode: N = cores PER EXECUTOR; legs are 1 vs 4 executors)
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _in_fresh_interpreter(fn, *args, timeout: int):
    """``fn(*args)`` in a newly spawned interpreter (its own JVM), returning
    its result."""
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply_async(fn, args).get(timeout)


def _leg(master: str, n_pages: int, target_chars: int, semantic: str) -> dict:
    from ontologybasedkgcreation_spark import fixtures, pipeline
    from ontologybasedkgcreation_spark.session import get_spark

    # 'off': a trainer floor above the corpus size
    min_pages = n_pages + 1 if semantic == "off" else 1_000
    # partitioning is FIXED across legs: the only variable is task slots
    # (the in-sandbox analog of executor count); per-stage scheduling cost
    # then stays constant and the measurement isolates compute scaling
    extra = {}
    if master.startswith("local-cluster"):
        # executor JVMs need the repo importable inside their Arrow Python
        # workers; per-executor heap is FIXED across legs (scaling out means
        # more executors of the same size) and must hold this leg's share of
        # the cached input + Arrow batches.  In thread mode none of this
        # applies — the driver IS the executor.
        extra["spark.executorEnv.PYTHONPATH"] = REPO
        extra["spark.executor.memory"] = "24g"
        extra["spark.driver.memory"] = "8g"
        # Multi-process masters, identically on BOTH legs (see
        # BENCH/BASELINE.md "multi-JVM" section):
        # - locality wait off: on a loopback "cluster" any-locality
        #   scheduling is free; the default 3s wait serializes small stages.
        # - AQE off: AQE materializes every shuffle stage as its own job
        #   (85 jobs vs 8 on this pipeline) and in separate-JVM mode that
        #   job latency dominates at sandbox data sizes — measured 2.3x at
        #   30k pages.  At real-cluster data volumes per stage the tradeoff
        #   reverses, which is why the engine default keeps AQE on.
        extra["spark.locality.wait"] = "0s"
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark("scaling", master=master, shuffle_partitions=16,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    pages = fixtures.pages_df_distributed(spark, n_pages, partitions=32,
                                          target_chars=target_chars)
    pages = pages.cache()
    n = pages.count()
    t0 = time.time()
    out = pipeline.run_pipeline(spark, pages, with_paragraphs=True,
                                semantic_min_pages=min_pages)
    # run_pipeline returns lazily EXCEPT the eager semantic auto-train
    # (corpus count + sample checkpoint + co-occurrence collect + eigh);
    # build_sec isolates that eager prefix from the job time
    t1 = time.time()
    edges = out["edges"].count()
    nodes = out["nodes"].count()
    dt = time.time() - t0
    spark.stop()  # local-cluster: avoid noisy executor-relaunch shutdown
    return {"master": master, "pages": n, "sec": round(dt, 2),
            "pages_per_sec": round(n / dt, 2), "semantic": semantic,
            "build_sec": round(t1 - t0, 2), "nodes": nodes, "edges": edges}


def run_level(master: str, n_pages: int, target_chars: int = 20000,
              semantic: str = "auto") -> dict:
    return _in_fresh_interpreter(
        _leg, master, n_pages, target_chars, semantic, timeout=3600
    )


def _calibration_probe() -> dict:
    from pyspark.sql import functions as F

    from ontologybasedkgcreation_spark.session import get_spark

    spark = get_spark("scaling-cal", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    for _ in range(3):
        t0 = time.time()
        (spark.range(0, 48_000_000, 1, 16)
            .select(F.xxhash64("id").alias("h"),
                    (F.col("id") * 2654435761 % 1000003).alias("m"))
            .agg(F.sum(F.col("h") % 1024).alias("s"),
                 F.approx_count_distinct("m").alias("d")).collect())
        runs.append(round(time.time() - t0, 3))
    spark.stop()
    return {"cal_sec": min(runs), "cal_runs": runs}


def host_calibration() -> dict:
    """The same fixed JVM probe bench.py records (local[16], 48M-row
    codegen agg, min-of-3) run in a fresh interpreter — directly comparable
    to BENCH_r*.json host_calibration_sec, so a scaling row carries the
    host-speed evidence the round-4 verdict asked to gate on (good-host
    band ~<= 0.85)."""
    return _in_fresh_interpreter(_calibration_probe, timeout=600)


def main() -> int:
    args = [a for a in sys.argv[1:]
            if a not in ("--cluster", "--semantic=off", "--semantic=auto")]
    cluster = "--cluster" in sys.argv[1:]
    semantic = "off" if "--semantic=off" in sys.argv[1:] else "auto"
    n_pages = int(args[0]) if len(args) > 0 else 2000
    n = int(args[1]) if len(args) > 1 else (2 if cluster else 8)
    target_chars = int(args[2]) if len(args) > 2 else 20000
    if cluster:
        # the third field is the WORKER memory cap (MB) and must cover the
        # child's spark.executor.memory (24g) or executors never launch
        lo_master = f"local-cluster[1,{n},24576]"
        hi_master = f"local-cluster[4,{n},24576]"
    else:
        lo_master, hi_master = f"local[{n}]", f"local[{4 * n}]"
    cal0 = host_calibration()
    print(json.dumps({"pre_leg_calibration": cal0}))
    lo = run_level(lo_master, n_pages, target_chars, semantic)
    print(json.dumps(lo))
    hi = run_level(hi_master, n_pages, target_chars, semantic)
    print(json.dumps(hi))
    cal1 = host_calibration()
    print(json.dumps({"post_leg_calibration": cal1}))
    speedup = hi["pages_per_sec"] / lo["pages_per_sec"]
    eff = speedup / 4.0
    cal = max(cal0["cal_sec"], cal1["cal_sec"])
    summary = {
        "n_leg": lo_master, "4n_leg": hi_master,
        "pages": n_pages, "page_chars": target_chars,
        "semantic": semantic,
        "build_sec_n": lo.get("build_sec"),
        "build_sec_4n": hi.get("build_sec"),
        "throughput_n": lo["pages_per_sec"],
        "throughput_4n": hi["pages_per_sec"],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        # good-host band <= 0.85 (bench.py host_calibration docstring);
        # rows measured outside it are host evidence, not engine evidence
        "host_calibration_sec": cal,
        "host_ok": cal <= 0.85,
    }
    print(json.dumps(summary))

    # raw append-only run log (curated rows live in BASELINE.md by hand —
    # blind appends kept corrupting its section structure)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "scaling_runs.md")
    header_needed = not os.path.exists(path)
    with open(path, "a") as fh:
        if header_needed:
            fh.write(
                "# Raw scaling-bench run log (append-only; every "
                "scripts/scaling_bench.py invocation)\n\n"
                "| pages | N leg | pages/s @N | 4N leg | pages/s @4N | "
                "speedup | efficiency |\n|---|---|---|---|---|---|---|\n"
            )
        fh.write(
            f"| {n_pages} | {lo_master} | {lo['pages_per_sec']} | "
            f"{hi_master} | {hi['pages_per_sec']} | {summary['speedup']} | "
            f"{summary['scaling_efficiency']} "
            f"(cal {cal}{'' if summary['host_ok'] else ' DEGRADED'}"
            f"{', semantic OFF' if semantic == 'off' else ''}) |\n"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
