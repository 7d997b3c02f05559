"""Celebrity-hub stress for the degree-ordered triangle pipeline.

A circulant graph (offsets +1/+2 over n vertices) plus ONE hub vertex
adjacent to ``hub_deg`` others — the skew shape that kills a naive
wedge join (the hub alone would generate hub_deg^2 ≈ 2.5e9 wedges at
the defaults).  Degree-ordered orientation bounds the hub's oriented
out-degree, so its wedges come only through low-degree neighbors.

The exact triangle count is known from the construction, so this is a
stress test AND a correctness check at scale:

    triangles = (n - 1) circulant ({i, i+1, i+2} needs the +1 edge
    out of i+1, which exists only for i <= n-2)
              + (hub_deg - 1) hub-i-(i+1) + (hub_deg - 2) hub-i-(i+2)
    sum(per-vertex) = 3 * triangles

Usage: python scripts/graph_skew_bench.py [n] [hub_deg]
Threads: local[$SPARK_GRAFT_CPUS], default every core of the host.
Run ALONE on the box (benchmark discipline, BENCH/BASELINE.md).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ontologybasedkgcreation_spark.operators.graph_query import (
    triangle_count,
)
from ontologybasedkgcreation_spark.session import get_spark


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    hub_deg = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1)))
    spark = get_spark(
        "graph-skew-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    ids = spark.range(n)
    circ = ids.select(
        F.col("id").alias("src_key"), (F.col("id") + 1).alias("dst_key")
    ).unionByName(
        ids.select(
            F.col("id").alias("src_key"), (F.col("id") + 2).alias("dst_key")
        )
    )
    hub = spark.range(hub_deg).select(
        F.lit(-1).cast("long").alias("src_key"),
        F.col("id").alias("dst_key"),
    )
    edges = (
        circ.unionByName(hub)
        .select(
            F.col("src_key").cast("string"),
            F.col("dst_key").cast("string"),
        )
        .localCheckpoint()
    )
    t0 = time.time()
    total = (
        triangle_count(edges)
        .agg(F.sum("n_triangles").alias("s"))
        .collect()[0]["s"]
    )
    dt = time.time() - t0
    expected = 3 * ((n - 1) + (hub_deg - 1) + (hub_deg - 2))
    print(
        json.dumps(
            {
                "n": n,
                "hub_degree": hub_deg,
                "edges": 2 * n + hub_deg,
                "triangle_incidences": int(total),
                "expected": expected,
                "correct": int(total) == expected,
                "sec": round(dt, 2),
            }
        )
    )
    spark.stop()
    return 0 if int(total) == expected else 1


if __name__ == "__main__":
    sys.exit(main())
