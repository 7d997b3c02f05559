"""Head-entity skew stress bench (round-3 VERDICT item 4).

Adversarial linking input, generated executor-side as a pure function of
the node index (no driver materialization):

- 30% "hot with identifier": a head entity's shared tokens (appearing in
  >50% of nodes) PLUS one unique token — the common real shape;
- 30% "hot WITHOUT identifier" (the worst case): bags whose rarest token
  is still mid-frequency, so the probe cannot fall back to a unique
  token — candidate volume is bounded only by the df cap;
- 10% planted near-alias pairs (containment holds over a df=2 token) —
  the recall canary: the cap must not cost these merges;
- 40% cold nodes with unique tokens.

Reported per run: linking+CC wall, candidate-pair count, candidates/node,
the hottest token's raw df vs what survives the cap, candidate-join
partition skew (max/mean rows), and planted-pair recall.  An uncapped
control (--uncapped) at smaller n shows the quadratic blow-up the cap
prevents.

Usage: python scripts/skew_bench.py [n_nodes] [--uncapped]
Appends one JSON line per run to BENCH/skew_runs.md (and prints it).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

HOT_FRAC_DOC = "60% of nodes carry the hot tokens (state skewland district)"


def skewed_nodes(spark, n: int, partitions: int):
    i = F.col("id")
    shape = i % 10
    # moduli scale with n so the hot tokens' df sits ABOVE the 1000 cap at
    # every run size (d-token df = 0.6n/dc = 4800, w-token df = 2000):
    # the stress must not quietly fall under the cap at small n
    dc = max(1, n // 8_000)
    zc = max(1, n // 20_000)
    hot = F.concat(
        F.lit("state of skewland district d"), (i % dc).cast("string")
    )
    identity = (
        F.when(shape <= 2, F.concat(hot, F.lit(" case r"), i.cast("string")))
        .when(shape == 3, F.concat(hot, F.lit(" zone w"), (i % zc).cast("string")))
        .when(shape <= 5, F.concat(hot, F.lit(" zone z"), (i % 400).cast("string")))
        .when(
            shape == 6,
            F.concat(
                F.lit("office of records branch b"),
                F.floor(i / 20).cast("string"),
                F.when(i % 20 == 16, F.lit(" annex")).otherwise(F.lit("")),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("entity e"), i.cast("string"),
                F.lit(" unique u"), (i * 7).cast("string"),
            )
        )
    )
    return (
        spark.range(0, n, 1, partitions)
        .select(
            F.lit("Entity").alias("labels_str"),
            F.lit("Entity").alias("head_label"),
            F.concat(F.lit("k"), F.lpad(i.cast("string"), 9, "0")).alias(
                "pre_key"
            ),
            identity.alias("identity"),
        )
        .withColumn(
            "props", F.create_map(F.lit("name"), F.col("identity"))
        )
        .withColumn("labels", F.array(F.lit("Entity")))
    )


def main() -> int:
    from ontologybasedkgcreation_spark.operators import linking
    from ontologybasedkgcreation_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 200_000
    uncapped = "--uncapped" in sys.argv
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    if uncapped:
        linking.MAX_TOKEN_DF = 10**9
    max_token_df = linking.MAX_TOKEN_DF

    spark = get_spark(
        "skew-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    nodes0 = linking.tokenized_node_frame(
        skewed_nodes(spark, n, cpus * 2), abbrevs={}
    )

    # --- skew diagnostics on the index itself -----------------------------
    tok_all = nodes0.select(
        "labels_str", "pre_key", F.explode("tokens").alias("token")
    )
    df_all = tok_all.groupBy("token").agg(F.count("*").alias("df"))
    hottest = df_all.orderBy(F.desc("df")).first()
    capped = df_all.filter(F.col("df") <= max_token_df)
    max_surviving = capped.orderBy(F.desc("df")).first()
    tok = linking.token_index(nodes0).localCheckpoint()
    cand = linking.containment_candidates(tok).localCheckpoint()
    n_cand = cand.count()
    part_rows = (
        cand.groupBy(F.spark_partition_id().alias("p")).count()
        .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"))
        .first()
    )
    skew_ratio = (
        float(part_rows["mx"]) / float(part_rows["avg"])
        if part_rows["avg"]
        else 0.0
    )

    # --- the timed run: full linking + CC + consolidation ------------------
    t0 = time.time()
    linked = linking.link_nodes(nodes0)
    n_final = linked["nodes"].count()
    wall = round(time.time() - t0, 2)

    # --- planted-pair recall (shape-6 pairs must merge despite the cap) ----
    mapping = linked["mapping"]
    planted = (
        spark.range(0, n, 1, cpus)
        .filter((F.col("id") % 20 == 6) & (F.col("id") + 10 < n))
        .select(
            F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("pa"),
            F.concat(
                F.lit("k"), F.lpad((F.col("id") + 10).cast("string"), 9, "0")
            ).alias("pb"),
        )
    )
    ma = mapping.withColumnRenamed("pre_key", "pa").withColumnRenamed(
        "node_key", "ka"
    )
    mb = mapping.withColumnRenamed("pre_key", "pb").withColumnRenamed(
        "node_key", "kb"
    )
    joined = planted.join(ma, "pa").join(mb, "pb")
    n_planted = joined.count()
    n_merged = joined.filter(F.col("ka") == F.col("kb")).count()

    out = {
        "n_nodes": n,
        "capped": not uncapped,
        "max_token_df": max_token_df if not uncapped else None,
        "wall_sec": wall,
        "final_nodes": n_final,
        "candidates": n_cand,
        "cand_per_node": round(n_cand / n, 3),
        "hottest_token": [hottest["token"], int(hottest["df"])],
        "max_df_surviving_cap": [
            max_surviving["token"], int(max_surviving["df"])
        ] if max_surviving else None,
        "cand_partition_skew_max_over_avg": round(skew_ratio, 2),
        "planted_pairs": n_planted,
        "planted_merged": n_merged,
        "cpus": cpus,
    }
    line = json.dumps(out)
    print(line)
    with open(
        os.path.join(os.path.dirname(__file__), "..", "BENCH", "skew_runs.md"),
        "a",
        encoding="utf-8",
    ) as fh:
        fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
