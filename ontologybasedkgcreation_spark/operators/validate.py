"""Ontology validation — V1-V4 of SURVEY.md §2.4, as broadcast joins.

The reference validates each triple with Cypher round-trips per triple:
- ``check_valid_relationship`` (utils.py:243-257): (label1, rel, label2) must
  be an exact object-property domain/range row;
- ``some_func_v2`` (utils.py:541-569) tries the cross product of the two
  nodes' ancestor chains and takes the first combination that validates;
- ``refine_parent_child_relation`` (utils.py:260-290) handles ``is_a``:
  keep if (child, parent) is a direct subclass edge, swap if reversed, else
  drop.  Valid or not, ``is_a`` triples never reach the graph (both branches
  of utils.py:542-549 return None) — we keep them in a lineage output.

Spark design: the ontology is tiny and static, so both decisions are
resolved once in Python by the :class:`~..ontology.Ontology` that owns them
(``resolution_table``: (type1, rel, type2) -> first valid ancestor-chain
pair; ``isa_table``: (node1_type, node2_type) -> swapped), and validation
joins each triple kind to its table with ONE broadcast left join whose
matched rows are kept and unmatched rows rejected — zero shuffle, no
candidate multiplication.  Chain order is BFS self-first, so the most
specific valid combination wins deterministically (the reference's tie
order is unspecified Cypher row order; ours is stable, a documented
divergence).

Triples whose node types are not ontology classes (the golden file has node
types like "Supreme Court of India", kg_creator/src/sample_response.json) fall
out naturally: no resolution row -> rejected, exactly like the reference's
empty Cypher MATCH.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ontology import Ontology

TRIPLE_ID_COLS = (
    "url", "span_start", "node1_type", "relationship", "node2_type",
)

RESOLUTION_SCHEMA = (
    "node1_type string, relationship string, node2_type string, "
    "label1 string, label2 string, "
    "node1_labels array<string>, node1_schema array<string>, "
    "node2_labels array<string>, node2_schema array<string>"
)
RESOLUTION_KEYS = ["node1_type", "relationship", "node2_type"]


def with_triple_id(triples: DataFrame) -> DataFrame:
    """Deterministic triple id (no uuid4 / monotonically_increasing_id — both
    break resume idempotence)."""
    return triples.withColumn(
        "triple_id",
        F.sha2(
            F.concat_ws(
                "",
                *[F.col(c).cast("string") for c in TRIPLE_ID_COLS],
                F.to_json(F.col("node1_value")),
                F.to_json(F.col("node2_value")),
            ),
            256,
        ),
    )


def validate_triples(
    spark, triples: DataFrame, onto: Ontology, cache: bool = True
) -> Dict[str, DataFrame]:
    """raw triples -> {validated, isa, rejected}.

    validated: + label1/label2 (the first valid ancestor-chain pair),
               node1_labels/schema, node2_labels/schema.
    isa:       valid is_a rows with swap applied (lineage only).
    rejected:  everything else, with a reject_reason column.

    ``cache=False`` skips the internal cache of id-stamped triples — correct
    when the caller caches downstream (the pipeline caches ``assigned``) and
    only audits isa/rejected occasionally; caching two map columns for ~2x
    the triple count is real memory + build time at scale.
    """
    t = with_triple_id(triples)
    if cache:
        t = t.cache()

    # ---- domain/range: one broadcast join, matched kept, unmatched rejected
    resolved = spark.createDataFrame(
        [key + res for key, res in onto.resolution_table.items()],
        RESOLUTION_SCHEMA,
    )
    non_isa = t.filter(F.col("relationship") != "is_a").join(
        F.broadcast(resolved), RESOLUTION_KEYS, "left"
    )
    validated = non_isa.filter(F.col("label1").isNotNull())
    rejected_non_isa = non_isa.filter(F.col("label1").isNull()).select(
        *RESOLUTION_KEYS,
        *[c for c in t.columns if c not in RESOLUTION_KEYS],
        F.lit("no_valid_domain_range").alias("reject_reason"),
    )

    # ---- is_a (kept for lineage; never merged into the graph) -------------
    isa_pairs = spark.createDataFrame(
        [key + (swapped,) for key, swapped in onto.isa_table.items()],
        "node1_type string, node2_type string, swapped boolean",
    )
    isa = t.filter(F.col("relationship") == "is_a").join(
        F.broadcast(isa_pairs), ["node1_type", "node2_type"], "left"
    )
    swapped = F.col("swapped")

    def end(own: str, other: str):
        # reversed pair -> interchange ends (utils.py:280-287)
        return F.when(swapped, F.col(other)).otherwise(F.col(own)).alias(own)

    isa_valid = (
        isa.filter(swapped.isNotNull())
        .select(
            "url",
            "span_start",
            "triple_id",
            end("node1_type", "node2_type"),
            end("node1_value", "node2_value"),
            "relationship",
            end("node2_type", "node1_type"),
            end("node2_value", "node1_value"),
            "swapped",
        )
        # identical raw triples share a triple_id: keep one
        .dropDuplicates(["triple_id"])
    )
    rejected_isa = isa.filter(swapped.isNull()).select(
        *t.columns, F.lit("invalid_subclass_pair").alias("reject_reason")
    )

    rejected = rejected_non_isa.unionByName(
        rejected_isa, allowMissingColumns=True
    )
    return {"validated": validated, "isa": isa_valid, "rejected": rejected}
