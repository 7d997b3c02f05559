"""Ontology parse parity with the reference's prompt tables + Cypher views
(kg_creator/src/prompts.py:36-168; utils.py:38-117,507-524)."""

import os

import pytest

from ontologybasedkgcreation_spark.ontology import load_ontology
from ontologybasedkgcreation_spark.operators.linking import DEFAULT_ABBREV_PATH

# the reference repository's full NyOn file (next to its abbreviation
# table); the packaged default ontology is a subset of it
FULL_OWL = os.path.join(os.path.dirname(DEFAULT_ABBREV_PATH), "legalOntology.owl")


@pytest.mark.skipif(
    not os.path.exists(FULL_OWL),
    reason="34/22/65 are the full NyOn file's counts; the packaged default "
    "ontology is a subset and the full file is not in this checkout",
)
def test_counts():
    o = load_ontology(FULL_OWL)
    # 34 domain/range rows exactly as frozen in the prompt table
    assert len(o.object_props) == 34
    assert len(o.datatype_props) == 22
    assert len(o.subclass_edges) == 65
    assert len(o.classes) >= 80


def test_prompt_table_rows_present():
    o = load_ontology()
    # sampled rows straight from prompts.py:103-136
    for row in [
        ("Argument", "appellantArgument", "Appellant"),
        ("Court", "hasCourtLoc", "Location"),
        ("Court", "hasDateOfJudgment", "DateOfJudgment"),
        ("CourtCase", "cited", "CourtCase"),
        ("CourtCase", "hasJudge", "Judge"),
        ("CourtCase", "hasProvision", "Provision"),
        ("Court_Official", "worksIn", "Court"),
        ("Judge", "hasOpinion", "Opinion"),
        ("Party", "hasPartyType", "Party_Type"),
    ]:
        assert o.valid_relationship(*row), row


def test_invalid_rows_rejected():
    o = load_ontology()
    assert not o.valid_relationship("CourtCase", "hasJudge", "Court")
    assert o.resolve_relationship("CourtCase", "hasJudge", "Court") is None
    assert o.resolve_relationship("NotAClass", "hasJudge", "Judge") is None


def test_label_chain_judge():
    # utils.py:550: Judge -> ['Judge', 'Court_Official'] with CO name props
    o = load_ontology()
    assert o.label_chain("Judge") == ["Judge", "Court_Official"]
    assert o.prop_schema("Judge") == {"COFirstName": "", "COLastName": ""}


def test_chain_resolution_via_ancestors():
    o = load_ontology()
    # Appellant is_a Party; hasParty range is Party -> resolves via ancestors
    assert o.resolve_relationship("CourtCase", "hasParty", "Appellant") == (
        "CourtCase",
        "Party",
    )
    # worksIn domain is Court_Official; Judge resolves through its parent
    assert o.resolve_relationship("Judge", "worksIn", "Court") == (
        "Court_Official",
        "Court",
    )


def test_is_a_direct_edges():
    o = load_ontology()
    assert o.is_direct_subclass("Appellant", "Party")
    assert not o.is_direct_subclass("Party", "Appellant")
    assert o.is_direct_subclass("SupremeCourt", "IndianCourts")


def test_subclass_closure_transitive():
    o = load_ontology()
    chain = o.label_chain("SupremeCourt")
    assert chain[0] == "SupremeCourt"
    assert "IndianCourts" in chain and "Court" in chain


def test_prop_schema_inherited_and_empty():
    o = load_ontology()
    assert o.prop_schema("Appellant") == {"firstName": "", "lastName": ""}
    assert o.prop_schema("Fact") == {}  # empty -> the {"text": v} rule
    assert set(o.prop_schema("Witness")) == {
        "wFirstName",
        "wLastName",
        "witnessStatement",
    }


def test_subclass_closure_frame_matches_python_spec(spark):
    """The engine-side iterative-join closure (subclass_closure_frame)
    equals the Python BFS spec (subclass_closure) row for row — shortest
    depths included."""
    from ontologybasedkgcreation_spark.ontology import load_ontology

    onto = load_ontology()
    got = {
        (r["descendant"], r["ancestor"], r["depth"])
        for r in onto.subclass_closure_frame(spark).collect()
    }
    assert got == set(onto.subclass_closure())
