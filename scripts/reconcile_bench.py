"""Reconcile-at-scale measurement (round-3 VERDICT item 7).

The streaming maintenance design is two-stage (plans/resume.py): per-batch
pipelines merge into the graph tables incrementally, and
``reconcile_graph`` runs the periodic global reduce that consolidates
cross-batch aliases.  Correctness (batches 1..N + reconcile == single-shot
build, byte-identical) is pytest-pinned; this bench measures the COST
side: per-batch merge wall, the reconcile wall, and the single-shot
control on the same corpus — the numbers cadence guidance comes from.

Usage: python scripts/reconcile_bench.py [n_pages] [n_batches]
Threads: local[$SPARK_GRAFT_CPUS], default every core of the host.
Appends one JSON line to BENCH/reconcile_runs.md (and prints it).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    from ontologybasedkgcreation_spark import fixtures, pipeline
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
    from ontologybasedkgcreation_spark.ontology import load_ontology
    from ontologybasedkgcreation_spark.session import get_spark
    from ontologybasedkgcreation_spark.streaming import ingest

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1)))

    spark = get_spark(
        "reconcile-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    onto = load_ontology()

    pages = fixtures.pages_df_distributed(
        spark, n, partitions=cpus * 2
    ).cache()
    pages.count()

    base = tempfile.mkdtemp(prefix="reconcile_bench_")
    try:
        # --- incremental path: k batch merges ------------------------------
        writer = GraphWriter(os.path.join(base, "graph"), buckets=32)
        batch_walls = []
        for b in range(k):
            part = pages.filter(F.pmod(F.xxhash64("url"), F.lit(k)) == b)
            t0 = time.time()
            out = pipeline.run_pipeline(
                spark, part, onto=onto, with_paragraphs=False
            )
            writer.merge("nodes", out["nodes"], key="node_key")
            writer.merge("edges", out["edges"], key="url")
            batch_walls.append(round(time.time() - t0, 2))

        t0 = time.time()
        ingest.reconcile_graph(spark, writer)
        reconcile_wall = round(time.time() - t0, 2)

        n_nodes = spark.read.parquet(os.path.join(base, "graph/nodes")).count()
        n_edges = spark.read.parquet(os.path.join(base, "graph/edges")).count()

        # --- single-shot control ------------------------------------------
        writer2 = GraphWriter(os.path.join(base, "single"), buckets=32)
        t0 = time.time()
        out = pipeline.run_pipeline(
            spark, pages, onto=onto, with_paragraphs=False
        )
        pipeline.persist_graph(spark, out, writer2)
        single_wall = round(time.time() - t0, 2)
        n_nodes_single = spark.read.parquet(
            os.path.join(base, "single/nodes")
        ).count()

        res = {
            "n_pages": n,
            "n_batches": k,
            "batch_walls_sec": batch_walls,
            "batch_total_sec": round(sum(batch_walls), 2),
            "reconcile_sec": reconcile_wall,
            "incremental_total_sec": round(
                sum(batch_walls) + reconcile_wall, 2
            ),
            "single_shot_sec": single_wall,
            "nodes_after_reconcile": n_nodes,
            "nodes_single_shot": n_nodes_single,
            "edges_after_reconcile": n_edges,
            "cpus": cpus,
        }
        line = json.dumps(res)
        print(line)
        with open(
            os.path.join(
                os.path.dirname(__file__), "..", "BENCH", "reconcile_runs.md"
            ),
            "a",
            encoding="utf-8",
        ) as fh:
            fh.write(line + "\n")
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
