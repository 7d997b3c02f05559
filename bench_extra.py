"""Extra benchmarks for the r7 optimization round (bench.py is FROZEN for
the driver; everything exploratory lives here — guide §1.4 noop-sink
isolation, warm-repeat timing, and the A/B harnesses whose numbers
OPTIMIZATION_r07.md cites).

    python bench_extra.py queries   # bench queries, 3 repeats each (first
                                    #   run carries codegen/JIT; warm runs
                                    #   isolate data cost)
    python bench_extra.py kgstages  # noop-sink isolation of the
                                    #   kg_pipeline's cumulative stages
    python bench_extra.py stream    # stream_dedup state-partition A/B

Run ALONE on the box (host noise is ±25% otherwise).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: the host's cores (a local[32] session on a 4-core box anti-scales)
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def _spark(name):
    from ontologybasedkgcreation_spark.session import get_spark

    spark = get_spark(name, master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def bench_queries():
    import __spark_entry__ as entry

    spark = _spark("bench-extra-queries")
    qs = entry.queries()
    names = [
        "pricing_summary", "revenue_by_nation", "chunk_chain", "dedup_exact",
        "dedup_jaccard", "dedup_jaccard_lsh", "minhash_lsh", "simhash",
        "embedding_topk", "embedding_neardup", "embedding_neardup_lsh",
        "ivf_assign", "dedup_resolve", "stream_dedup", "stream_dedup_jvm",
        "lang_id", "token_stats",
    ]
    for name in names:
        runs = []
        for _ in range(3):
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            runs.append(round(time.time() - t0, 2))
        print(f"{name:24} first={runs[0]:>7} warm={runs[1:]}")


def bench_kgstages():
    """Cumulative noop-sink isolation of the per-page pipeline chain."""
    from pyspark.sql import functions as F

    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.ontology import load_ontology
    from ontologybasedkgcreation_spark.operators import properties, validate
    from ontologybasedkgcreation_spark.operators.extract import (
        anchor_gate_condition,
        extract_triples,
    )
    from ontologybasedkgcreation_spark.operators.linking import mentions_frame
    from ontologybasedkgcreation_spark.sources.pages import extract_pages

    spark = _spark("bench-extra-kgstages")
    n = int(os.environ.get("BENCH_PAGES", "100000"))
    pages = fixtures.pages_df_distributed(
        spark, n, partitions=int(CPUS) * 2, target_chars=20000
    ).cache()
    pages.count()
    onto = load_ontology()

    stages = {}
    gated = extract_pages(pages, text_gate=anchor_gate_condition)
    raw = extract_triples(gated, pre_gated=True)
    v = validate.validate_triples(spark, raw, onto, cache=False)["validated"]
    assigned = properties.assign_and_titlecase(v)
    m = mentions_frame(assigned)

    for label, df in (
        ("decode+gate", gated),
        ("-> extract", raw),
        ("-> validate", v),
        ("-> assign", assigned),
        ("-> mentions", m),
    ):
        spark.sparkContext.setJobDescription(f"kgstage: {label}")
        runs = []
        for _ in range(2):
            t0 = time.time()
            _noop(df)
            runs.append(round(time.time() - t0, 2))
        print(f"{label:14} {runs}")
    spark.sparkContext.setJobDescription(None)


def bench_stream():
    import __spark_entry__ as entry

    spark = _spark("bench-extra-stream")
    q = entry.queries()["stream_dedup"]
    q(spark, SF_DIR).count()  # warm
    for i in range(3):
        t0 = time.time()
        q(spark, SF_DIR).count()
        print(f"stream_dedup warm run{i}: {time.time()-t0:.2f}s")


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    {"queries": bench_queries, "kgstages": bench_kgstages, "stream": bench_stream}[mode]()
