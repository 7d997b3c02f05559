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

Spark design: the ontology is tiny and static, so the whole "try the
ancestor-chain cross product, first valid (domain, rel, range) wins" walk is
pre-evaluated in Python into a (type1, rel, type2) -> resolution table
(:func:`resolution_rows`) and validation is exactly ONE broadcast hash join —
zero shuffle, no candidate multiplication.  Chain order is BFS self-first, so
the most specific valid combination wins deterministically (the reference's
tie order is unspecified Cypher row order; ours is stable, a documented
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


def _ontology_frames(spark, onto: Ontology):
    """Broadcastable helper frames derived from the parsed ontology."""
    closure_self = [
        (c, c, 0) for c in sorted(onto.classes)
    ] + onto.subclass_closure()
    closure_df = spark.createDataFrame(
        closure_self, "descendant string, ancestor string, depth int"
    )
    obj_df = spark.createDataFrame(
        [(d, r, g) for d, r, g, _ in onto.object_props],
        "domain string, rel string, range string",
    )
    sub_df = spark.createDataFrame(
        list(onto.subclass_edges), "child string, parent string"
    )
    label_info = spark.createDataFrame(
        [
            (c, onto.label_chain(c), list(onto.prop_schema(c).keys()))
            for c in sorted(onto.classes)
        ],
        "class string, labels array<string>, schema array<string>",
    )
    return closure_df, obj_df, sub_df, label_info


_RESOLUTION_CACHE: dict = {}


def resolution_rows(onto: Ontology):
    """(type1, rel, type2) -> (label1, label2, chains, schemas) for every
    combination the ontology admits — the ancestor-chain cross-product walk
    of ``some_func_v2`` (utils.py:554-560) evaluated once in Python over the
    tiny ontology instead of per triple."""
    # content-keyed: a new instance with the same tables hits the cache, and
    # a garbage-collected instance's reused memory address can never serve a
    # stale table (id()-keying bug).  class_comments is presentation-only
    # and excluded (it is also a dict, i.e. unhashable).
    key = (onto.classes, onto.subclass_edges, onto.object_props,
           onto.datatype_props)
    if key in _RESOLUTION_CACHE:
        return _RESOLUTION_CACHE[key]
    rels = sorted({r for _, r, _, _ in onto.object_props})
    rows = []
    classes = sorted(onto.classes)
    for t1 in classes:
        chain1 = onto.label_chain(t1)
        schema1 = list(onto.prop_schema(t1).keys())
        for t2 in classes:
            chain2 = onto.label_chain(t2)
            for rel in rels:
                resolved = None
                for l1 in chain1:
                    for l2 in chain2:
                        if onto.valid_relationship(l1, rel, l2):
                            resolved = (l1, l2)
                            break
                    if resolved:
                        break
                if resolved:
                    rows.append(
                        (
                            t1, rel, t2, resolved[0], resolved[1],
                            chain1, schema1,
                            onto.label_chain(t2),
                            list(onto.prop_schema(t2).keys()),
                        )
                    )
    _RESOLUTION_CACHE[key] = rows
    return rows


RESOLUTION_SCHEMA = (
    "node1_type string, relationship string, node2_type string, "
    "label1 string, label2 string, "
    "node1_labels array<string>, node1_schema array<string>, "
    "node2_labels array<string>, node2_schema array<string>"
)


def resolution_frame(spark, onto: Ontology) -> DataFrame:
    return spark.createDataFrame(resolution_rows(onto), RESOLUTION_SCHEMA)


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

    validated: + node1_labels/schema, node2_labels/schema, resolved
               (domain_label, range_label), depth-ordered first match.
    isa:       valid is_a rows with swap applied (lineage only).
    rejected:  everything else, with a reject_reason column.

    ``cache=False`` skips the internal cache of id-stamped triples — correct
    when the caller caches downstream (the pipeline caches ``assigned``) and
    only audits isa/rejected occasionally; caching two map columns for ~2x
    the triple count is real memory + build time at scale.
    """
    _, _, sub_df, _ = _ontology_frames(spark, onto)
    t = with_triple_id(triples)
    if cache:
        t = t.cache()

    non_isa = t.filter(F.col("relationship") != "is_a")

    # The ontology is tiny and static, so "try the ancestor-chain cross
    # product, first valid (domain, rel, range) wins" (utils.py:554-560) is
    # PRE-RESOLVED in Python to a (type1, rel, type2) -> best-match table and
    # validation becomes exactly one broadcast hash join — no candidate
    # explosion, no per-triple aggregation.  (An earlier design joined the
    # subclass closure twice and min_by-picked the depth-minimal candidate;
    # that multiplied every triple ~6-9x before filtering and was the single
    # most expensive stage at 10^5-page scale.)
    resolved_df = resolution_frame(spark, onto)
    validated = non_isa.join(
        F.broadcast(resolved_df),
        ["node1_type", "relationship", "node2_type"],
    )

    rejected_non_isa = non_isa.join(
        F.broadcast(
            resolved_df.select("node1_type", "relationship", "node2_type")
        ),
        ["node1_type", "relationship", "node2_type"],
        "left_anti",
    ).withColumn("reject_reason", F.lit("no_valid_domain_range"))

    # ---- is_a (kept for lineage; never merged into the graph) -------------
    isa = t.filter(F.col("relationship") == "is_a")
    ok = isa.join(
        F.broadcast(sub_df),
        (isa["node1_type"] == sub_df["child"])
        & (isa["node2_type"] == sub_df["parent"]),
        "left_semi",
    ).withColumn("swapped", F.lit(False))
    swapped = (
        isa.join(
            F.broadcast(sub_df),
            (isa["node1_type"] == sub_df["parent"])
            & (isa["node2_type"] == sub_df["child"]),
            "left_semi",
        )
        # reversed pair -> interchange ends (utils.py:280-287)
        .select(
            "url",
            "span_start",
            "triple_id",
            F.col("node2_type").alias("node1_type"),
            F.col("node2_value").alias("node1_value"),
            "relationship",
            F.col("node1_type").alias("node2_type"),
            F.col("node1_value").alias("node2_value"),
        )
        .withColumn("swapped", F.lit(True))
    )
    isa_valid = ok.select(*swapped.columns).unionByName(swapped).dropDuplicates(
        ["triple_id"]
    )
    rejected_isa = isa.join(
        isa_valid.select("triple_id"), "triple_id", "left_anti"
    ).withColumn("reject_reason", F.lit("invalid_subclass_pair"))

    rejected = rejected_non_isa.unionByName(
        rejected_isa, allowMissingColumns=True
    )
    return {"validated": validated, "isa": isa_valid, "rejected": rejected}

