"""Driver fixed-cost profile: run the pipeline once with the Spark event
log on, then decompose wall time into per-job execution vs BETWEEN-job
driver gaps (plan/optimize/collect handling — the parallelism-fixed Amdahl
term the scaling rows fit at ~115 s).

Usage: python3 scripts/fixed_cost_profile.py [n_pages] [master] [semantic]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    master = sys.argv[2] if len(sys.argv) > 2 else "local[1]"
    semantic = sys.argv[3] if len(sys.argv) > 3 else "off"

    from ontologybasedkgcreation_spark import fixtures, pipeline
    from ontologybasedkgcreation_spark.session import get_spark

    evdir = tempfile.mkdtemp(prefix="evlog_", dir="/dev/shm")
    spark = get_spark(
        "fixed-cost-profile",
        master=master,
        shuffle_partitions=16,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            **(
                {
                    "spark.sql.adaptive.autoBroadcastJoinThreshold": os.environ[
                        "PROFILE_AQE_BCAST"
                    ]
                }
                if "PROFILE_AQE_BCAST" in os.environ
                else {}
            ),
            **(
                {
                    "spark.sql.autoBroadcastJoinThreshold": os.environ[
                        "PROFILE_BCAST"
                    ]
                }
                if "PROFILE_BCAST" in os.environ
                else {}
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = fixtures.pages_df_distributed(
        spark, n_pages, partitions=32, target_chars=20000
    ).cache()
    pages.count()

    t0 = time.time()
    # 'off': a trainer floor above the corpus size
    min_pages = n_pages + 1 if semantic == "off" else 1_000
    out = pipeline.run_pipeline(
        spark, pages, with_paragraphs=True, semantic_min_pages=min_pages
    )
    out["edges"].count()
    out["nodes"].count()
    wall = time.time() - t0
    spark.stop()

    jobs = []
    t_wall0 = None
    files = []
    for path in glob.glob(f"{evdir}/*"):
        if os.path.isdir(path):
            files.extend(
                p for p in glob.glob(f"{path}/*") if not os.path.isdir(p)
            )
        else:
            files.append(path)
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or props.get(
                        "callSite.short", ""
                    )
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "start": ev["Submission Time"],
                            "desc": desc[:90],
                        }
                    )
                elif ev.get("Event") == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["id"] == ev["Job ID"]:
                            j["end"] = ev["Completion Time"]
    stages = []
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Completion Time" not in si:
                        continue
                    stages.append(
                        {
                            "id": si["Stage ID"],
                            "n_tasks": si["Number of Tasks"],
                            "dur": (
                                si["Completion Time"]
                                - si["Submission Time"]
                            )
                            / 1000.0,
                            "name": si.get("Stage Name", "")[:100],
                        }
                    )
    stages.sort(key=lambda s: -s["dur"])
    serial = [s for s in stages if s["n_tasks"] <= 2]
    par = [s for s in stages if s["n_tasks"] > 2]
    print(
        f"stage totals: serial(<=2 tasks) n={len(serial)} "
        f"sum={sum(s['dur'] for s in serial):.1f}s | parallel n={len(par)} "
        f"sum={sum(s['dur'] for s in par):.1f}s"
    )
    print("top serial stages:")
    for s in serial[:15]:
        print(f"  {s['dur']:7.2f}s tasks={s['n_tasks']} stage {s['id']} {s['name']}")

    jobs = [j for j in jobs if "end" in j]
    jobs.sort(key=lambda j: j["start"])
    # restrict to jobs inside the timed pipeline window: everything after
    # the warm-up count (the last pre-t0 job) — approximate by dropping
    # jobs that finished before the max end of the first cache count
    print(f"wall={wall:.1f}s jobs={len(jobs)}")
    prev_end = None
    total_exec = 0.0
    total_gap = 0.0
    gaps = []
    for j in jobs:
        dur = (j["end"] - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = max(prev_end or j["end"], j["end"])
        total_exec += dur
        if gap > 0:
            total_gap += gap
            gaps.append((gap, j["id"], j["desc"]))
        print(f"  job {j['id']:>3} dur={dur:7.2f}s gap_before={gap:6.2f}s {j['desc']}")
    print(f"total_exec={total_exec:.1f}s total_gap_between_jobs={total_gap:.1f}s")
    gaps.sort(reverse=True)
    print("top gaps:")
    for g, jid, desc in gaps[:10]:
        print(f"  {g:6.2f}s before job {jid} {desc}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
