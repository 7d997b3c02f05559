"""Ontology validation on Spark: truth table (FIXTURES.md §4) + the reference
golden file (kg_creator/src/sample_response.json — 13 chunks / 163 raw
triples) pushed through V1-V4, fixing which triples survive validation."""

import json
import os

import pytest

from conftest import REFERENCE_DIR
from ontologybasedkgcreation_spark.ontology import load_ontology
from ontologybasedkgcreation_spark.operators.extract import VALUE
from ontologybasedkgcreation_spark.operators import validate

GOLDEN = os.path.join(REFERENCE_DIR, "kg_creator", "src", "sample_response.json")

RAW_SCHEMA = (
    "url string, span_start long, node1_type string, "
    "node1_value map<string,string>, relationship string, "
    "node2_type string, node2_value map<string,string>"
)


def _to_map(v):
    if isinstance(v, dict):
        return {k: ("" if val is None else str(val)) for k, val in v.items()}
    return {VALUE: "" if v is None else str(v)}


def _rows(spark, triples):
    rows = [
        {
            "url": "golden",
            "span_start": i,
            "node1_type": t.get("node1_type") or "",
            "node1_value": _to_map(t.get("node1_value")),
            "relationship": t.get("relationship") or "",
            "node2_type": t.get("node2_type") or "",
            "node2_value": _to_map(t.get("node2_value")),
        }
        for i, t in enumerate(triples)
    ]
    return spark.createDataFrame(rows, RAW_SCHEMA)


@pytest.fixture(scope="module")
def onto():
    return load_ontology()


def test_truth_table(spark, onto):
    cases = [
        # (n1_type, rel, n2_type, expect_valid)
        ("CourtCase", "hasJudge", "Judge", True),
        ("CourtCase", "hasJudge", "Court", False),
        ("CourtCase", "hasParty", "Appellant", True),   # via Appellant is_a Party
        ("Judge", "worksIn", "Court", True),            # via Court_Official
        ("Argument", "appellantArgument", "Appellant", True),
        ("Appellant", "appellantArgument", "Argument", False),  # wrong direction
        ("Witness", "hasPartyType", "Individual", False),
        ("NotAClass", "hasJudge", "Judge", False),
    ]
    triples = [
        {
            "node1_type": a,
            "node1_value": "x",
            "relationship": r,
            "node2_type": b,
            "node2_value": "y",
        }
        for a, r, b, _ in cases
    ]
    res = validate.validate_triples(spark, _rows(spark, triples), onto)
    ok_spans = {r["span_start"] for r in res["validated"].collect()}
    for i, (a, r, b, expect) in enumerate(cases):
        assert (i in ok_spans) == expect, (a, r, b)


def test_is_a_swap_and_drop(spark, onto):
    triples = [
        # correct order -> kept
        {"node1_type": "Appellant", "node1_value": "x",
         "relationship": "is_a", "node2_type": "Party", "node2_value": ""},
        # reversed -> swapped (utils.py:280-287)
        {"node1_type": "Party", "node1_value": "p",
         "relationship": "is_a", "node2_type": "Respondent", "node2_value": "r"},
        # unrelated pair -> dropped
        {"node1_type": "Judge", "node1_value": "j",
         "relationship": "is_a", "node2_type": "Party", "node2_value": ""},
    ]
    res = validate.validate_triples(spark, _rows(spark, triples), onto)
    isa = {r["span_start"]: r for r in res["isa"].collect()}
    assert 0 in isa and not isa[0]["swapped"]
    assert 1 in isa and isa[1]["swapped"]
    assert isa[1]["node1_type"] == "Respondent" and isa[1]["node2_type"] == "Party"
    assert isa[1]["node1_value"][VALUE] == "r"
    assert 2 not in isa
    reasons = {r["span_start"]: r["reject_reason"] for r in res["rejected"].collect()}
    assert reasons.get(2) == "invalid_subclass_pair"


@pytest.mark.skipif(
    not os.path.exists(GOLDEN),
    reason="needs the reference repository's golden file "
    "(kg_creator/src/sample_response.json), which is not in this checkout",
)
def test_golden_file_survivors(spark, onto):
    with open(GOLDEN) as fh:
        chunks = json.load(fh)["Data"]
    triples = [t for chunk in chunks for t in chunk]
    assert len(triples) == 163
    res = validate.validate_triples(spark, _rows(spark, triples), onto)
    n_valid = res["validated"].count()
    n_isa = res["isa"].count()
    n_rej = res["rejected"].count()
    assert n_valid + n_isa + n_rej == 163
    # snapshot of reference-semantics survivorship over the golden file:
    # every (label1, rel, label2) the validator admits must be an exact
    # ontology domain/range row
    for row in res["validated"].collect():
        assert onto.valid_relationship(row["label1"], row["relationship"], row["label2"])
    # noisy rows the golden file fixes: empty relationship, 'witnessStatement'
    # used as a relationship, instance strings as types -> all rejected
    rej_rels = {r["relationship"] for r in res["rejected"].collect()}
    assert "" in rej_rels or "witnessStatement" in rej_rels
    # stable counts (guards against accidental semantic drift): of 163 raw
    # golden triples, 88 pass domain/range validation, 27 are valid is_a rows
    # (which the reference drops from the graph, utils.py:542-549), 48 reject
    # (21 no valid domain/range, 27 invalid subclass pairs)
    assert n_valid == 88, n_valid
    assert n_isa == 27, n_isa
    assert n_rej == 48, n_rej
