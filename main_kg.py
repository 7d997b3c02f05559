"""spark-submit entrypoint for the KG-construction pipeline.

    spark-submit --driver-memory 6g --py-files job.zip main_kg.py \
        [--pages <parquet path>] [--n-pages N] [--out /path/to/graph]

Without --pages, generates the deterministic synthetic judgment pages at
--n-pages scale (FIXTURES.md §1) — the sandbox stand-in for the Common-Crawl
Iceberg table.  Writes nodes/edges/paragraph tables + _lineage under --out
and prints a one-line JSON summary: pages, nodes and edges (counted by the
table writes), elapsed_sec and out.  The session is ``session.get_spark``'s,
on the master spark-submit was given.  spark-submit starts the driver JVM
before the session exists, so the heap is its ``--driver-memory`` (1g when
omitted); pass 40 % of the host's RAM, the heap ``get_spark`` fits and
warns about when the JVM has less.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from ontologybasedkgcreation_spark import fixtures, pipeline
from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
from ontologybasedkgcreation_spark.session import get_spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="parquet path of pages table")
    ap.add_argument("--n-pages", type=int, default=100)
    ap.add_argument("--out", default="/tmp/ontokg_graph")
    ap.add_argument("--no-paragraphs", action="store_true")
    # serving layout (graph_query label/relationship filters become
    # partition PRUNES over these): pass 'none' for the flat bucket-only
    # layout when the table is write-heavy and never label-served
    ap.add_argument("--node-partition-col", default="head_label")
    ap.add_argument("--edge-partition-col", default="relationship")
    args = ap.parse_args(argv)

    spark = get_spark("ontokg-build")
    spark.sparkContext.setLogLevel("WARN")

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages, _ = fixtures.pages_df(spark, args.n_pages)

    t0 = time.time()
    none = lambda v: None if v in ("none", "") else v  # noqa: E731
    writer = GraphWriter(
        args.out,
        node_partition_col=none(args.node_partition_col),
        edge_partition_col=none(args.edge_partition_col),
    )
    out = pipeline.run_pipeline(
        spark, pages, with_paragraphs=not args.no_paragraphs
    )
    # node/edge counts ride the table writes; the reject audit stays in
    # out["rejected"], off the summary (counting it re-runs every page)
    counts = pipeline.persist_graph(spark, out, writer)
    summary = {
        "pages": pages.count(),
        **counts,
        "elapsed_sec": round(time.time() - t0, 2),
        "out": args.out,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
