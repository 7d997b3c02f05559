"""Parity operators: the S5 abbreviation-file parser, M5 format_triples,
and the extraction grammar's dispatch parity."""

from ontologybasedkgcreation_spark.operators.linking import load_abbreviations
from ontologybasedkgcreation_spark.operators.materialize import format_triples


def test_load_abbreviations(tmp_path):
    p = tmp_path / "abbr.txt"
    p.write_text("SC\tSupreme Court\nHC = High Court\n")
    t = load_abbreviations(str(p))
    assert t == {"SC": "Supreme Court", "HC": "High Court"}


def test_load_abbreviations_space_separated(tmp_path):
    """The reference file's plain 'KEY Expansion' rows: dotted / multi-
    uppercase / slashed key prefix; all-key-like rows back off to one key
    token; prose rows are skipped."""
    p = tmp_path / "abbr.txt"
    p.write_text(
        "dt. Date\n"
        "LS Lok Sabha\n"
        "Loc. cit. loco citato (at the place quoted)\n"
        "LS Bn. (I)/(II) Lok Sabha Bulletin Part I/II\n"
        "Nom. Nominated/Nomination\n"
        "Secretariat Rajya Sabha Secretariat\n"  # prose: no key-like prefix
    )
    t = load_abbreviations(str(p))
    assert t == {
        "dt.": "Date",
        "LS": "Lok Sabha",
        "Loc. cit.": "loco citato (at the place quoted)",
        "LS Bn. (I)/(II)": "Lok Sabha Bulletin Part I/II",
        "Nom.": "Nominated/Nomination",
    }


def test_reference_file_parse_count():
    """505 of the reference file's 616 non-empty rows parse (the remainder
    are duplicate keys within the file plus one prose glossary row), and the
    previously-dropped space-separated aliases are now present."""
    import os

    if not os.path.exists("/root/reference/Abbrevations"):
        import pytest

        pytest.skip("reference file absent")
    t = load_abbreviations("/root/reference/Abbrevations")
    assert len(t) == 505
    assert t["LS"] == "Lok Sabha" and t["MCI"] == "Medical Council of India"


def test_abbrev_path_resolved_at_call_time(tmp_path, monkeypatch):
    """ONTOKG_ABBREV_PATH repointed after import must take effect (and the
    per-path cache must not leak between paths)."""
    from ontologybasedkgcreation_spark.operators.linking import (
        default_abbreviations,
    )

    p = tmp_path / "tiny.txt"
    p.write_text("XYZQ - Xylophone Quartet\n")
    monkeypatch.setenv("ONTOKG_ABBREV_PATH", str(p))
    t = default_abbreviations()
    assert t["XYZQ"] == "Xylophone Quartet"
    monkeypatch.delenv("ONTOKG_ABBREV_PATH")
    assert "XYZQ" not in default_abbreviations()


def test_format_triples():
    s = format_triples(
        [
            {
                "subj_label": "CourtCase",
                "subj_props": {"hasCaseID": "X", "empty": ""},
                "pred": "hasJudge",
                "obj_label": "Judge",
                "obj_props": {"COLastName": "Roy"},
            }
        ]
    )
    assert "Triple 1:" in s and "hasCaseID: X" in s and "empty" not in s


def test_writ_and_slp_header_shapes():
    """Round-4 grammar widening (the prompt's own spec space, prompts.py:
    486-753, includes Petitioner and Writ_Jurisdiction): writ-petition and
    special-leave-petition case ids parse, their first party is typed
    Petitioner (not Appellant), WRIT JURISDICTION maps to Writ_Jurisdiction,
    and WITH-block citations still chain off the primary case."""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators.extract import extract_from_text

    # fixture indices: 6/23/40 writ (23 carries WITH blocks), 7 SLP
    for i, want_cid, want_juris in [
        (6, "WRIT PETITION (CIVIL) NO.1006 OF 2001", "Writ_Jurisdiction"),
        (7, "SPECIAL LEAVE PETITION (CRIMINAL) NO.1007 OF 2002",
         "Appellant_Jurisdiction"),
        (23, "WRIT PETITION (CRIMINAL) NO.1023 OF 2018", "Writ_Jurisdiction"),
    ]:
        s = fixtures._page_spec(i)
        assert s["case_id"] == want_cid
        triples = extract_from_text(fixtures._page_text(s))
        shapes = [(t[1], t[3], t[4]) for t in triples]
        assert ("CourtCase", "hasParty", "Petitioner") in shapes
        assert ("CourtCase", "hasParty", "Appellant") not in shapes
        assert ("Petitioner", "hasPartyType", "Individual") in shapes
        assert ("Court", "hasJurisdiction", want_juris) in shapes
        # the primary case carries the new-format id
        ruling = [t for t in triples if t[3] == "hasRulingOf"][0]
        assert ruling[2]["hasCaseID"] == want_cid
        # WITH blocks cite with the same id family
        n_with = len(s["with_cases"])
        assert len([1 for sh in shapes if sh[1] == "cited"]) >= n_with


def test_writ_respondent_s_suffix_and_dotted_ellipsis():
    """Real headers also write '...PETITIONER(S)' / '...RESPONDENT(S)' with
    three dots; the block regex accepts both decorations."""
    from ontologybasedkgcreation_spark.operators.extract import extract_from_text

    text = (
        "IN THE SUPREME COURT OF INDIA\n"
        "WRIT JURISDICTION\n"
        "WRIT PETITION (CIVIL) NO. 123 OF 2020\n"
        "MOHAN DAS ...PETITIONER(S)\n"
        "VERSUS\n"
        "STATE OF HARYANA ...RESPONDENT(S)\n"
        "J U D G M E N T\n"
    )
    triples = extract_from_text(text)
    shapes = {(t[1], t[3], t[4]) for t in triples}
    assert ("CourtCase", "hasParty", "Petitioner") in shapes
    assert ("CourtCase", "hasParty", "Respondent") in shapes
    ruling = [t for t in triples if t[3] == "hasRulingOf"][0]
    assert ruling[2]["hasCaseID"] == "WRIT PETITION (CIVIL) NO. 123 OF 2020"
    assert ruling[2]["hasCaseName"] == "Mohan Das Versus State Of Haryana"


def test_anchor_gate_is_conservative(spark):
    """The JVM anchor prefilter must never drop a triple-producing page:
    every fixture page (all of which produce triples) passes the gate, and
    anchor-free pages produce zero triples with or without the gate —
    extract_triples output is identical to running the raw grammar on
    every row."""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators import extract as ex

    pages, _ = fixtures.pages_df(spark, 8)
    noise = spark.createDataFrame(
        [
            (f"https://x.org/{i}", None, None,
             f"plain web text number {i} with nothing legal inside", "en")
            for i in range(5)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    both = pages.select("url", "text", "lang").unionByName(
        noise.select("url", "text", "lang")
    )
    gated = ex.extract_triples(both)
    # reference behavior: the python grammar over every english row, no gate
    expected = []
    for r in both.collect():
        if r["lang"] != "en":
            continue
        for (span, t1, v1, rel, t2, v2) in ex.extract_from_text(r["text"] or ""):
            expected.append((r["url"], span, t1, rel, t2))
    got = [
        (r["url"], r["span_start"], r["node1_type"], r["relationship"],
         r["node2_type"])
        for r in gated.collect()
    ]
    assert sorted(got) == sorted(expected)
    assert len(got) > 0
    # and the gate really removes the noise rows before Python
    kept = both.filter(ex.anchor_gate_condition()).count()
    assert kept == pages.count()


# ---------------------------------------------------------------------------
# r7 optimization parity pins
# ---------------------------------------------------------------------------


def test_extract_literal_dispatch_parity():
    """The literal-find dispatch scanners (_iter_lit/_iter_opinion) must
    reproduce re.finditer exactly — including non-overlap semantics and
    adversarial header/body variants — on a wide fixture sweep plus
    constructed overlap edge cases."""
    import re

    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators import extract as E

    body = [
        (E._DECISION_RE, "challenges the judgment", 0),
        (E._CONVICTED_RE, "convicted under ", 0),
        (E._WITNESS_RE, "examined ", 0),
        (E._EVIDENCE_RE, "weapon was recovered from ", 0),
        (E._RELIANCE_RE, "eliance was placed on ", 1),
        (E._INVESTIGATOR_RE, "investigation was conducted by ", 0),
        (E._ARGUMENT_RE, "Counsel for the ", 0),
        (E._FACT_RE, "It is the case of the prosecution that ", 0),
        (E._DOJ_RE, "judgment was delivered on ", 0),
    ]
    texts = [
        fixtures._page_text(fixtures._page_spec(i), target_chars=6000)
        for i in range(500)
    ]
    # overlap edge cases: literal recurring inside a previous match span,
    # literal at position 0, literal with failed regex context
    texts += [
        "challenges the judgment X challenges the judgment Y. tail.",
        "It is the case of the prosecution that a It is the case of the "
        "prosecution that b. c.",
        "Counsel for the appellant submitted that Counsel for the respondent "
        "submitted that yes. no.",
        "Reliance was placed on Case No.1 decided by the reliance was placed "
        "on Case No.2 decided by the High Court.",
        "McIntyre, J. observed that Roy, J. observed that fine. done.",
        "xyz, J. observed that lowercase never matches.",
        "examined Ram Singh (PW-1) examined Shyam Lal (PW-2)",
    ]
    for t in texts:
        for rx, lit, off in body:
            ref = [(m.start(), m.end(), m.groups()) for m in rx.finditer(t)]
            new = [
                (m.start(), m.end(), m.groups())
                for m in E._iter_lit(t, rx, lit, off)
            ]
            assert ref == new, (lit, t[:80])
        ref = [(m.start(), m.end(), m.groups()) for m in E._OPINION_RE.finditer(t)]
        new = [(m.start(), m.end(), m.groups()) for m in E._iter_opinion(t)]
        assert ref == new, t[:80]


def test_extract_from_text_fixture_sweep_matches_reference_loop():
    """extract_from_text (dispatch path) == a direct finditer re-derivation
    over every body family on adversarial fixture pages: same triples, same
    order, same spans."""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators import extract as E

    for i in range(0, 400, 7):
        t = fixtures._page_text(fixtures._page_spec(i), target_chars=8000)
        triples = E.extract_from_text(t)
        # spans must be sorted within each family and every span anchors its
        # evidence: the matched relationship literal is present at the span
        for (span, t1, v1, rel, t2, v2) in triples:
            assert 0 <= span < len(t)
        assert triples == E.extract_from_text(t)  # deterministic


def test_assign_cache_matches_direct():
    """_assign_title_cached == title_props(assign_props(...)) for the rule
    matrix, including repeated keys through the bounded cache."""
    from ontologybasedkgcreation_spark.operators import properties as P

    cases = [
        ({"__value": "jagan ram"}, ["firstName", "lastName"]),
        ({"__value": "deshmukh"}, ["COFirstName", "COLastName"]),
        ({"__value": "state of haryana"}, ["firstName", "lastName"]),
        ({"__value": "m.p. singh"}, []),
        ({"a": "x", "b": ""}, []),
        ({"hasCaseID": "CR 1", "hasCaseName": "a versus b"},
         ["hasCaseID", "hasCaseName"]),
        ({"__value": ""}, ["firstName", "lastName"]),
        (None, ["k"]),
        ({"__value": "solo"}, None),
        ({"__value": "one two three four"}, ["wFirstName", "wLastName"]),
    ]
    P._ASSIGN_CACHE.clear()
    for value, schema in cases * 3:  # repeat to exercise cache hits
        got = P._assign_title_cached(value, schema)
        want = P.title_props(
            P.assign_props(value, list(schema) if schema is not None else None)
        )
        assert got == want, (value, schema)
    assert len(P._ASSIGN_CACHE) == len(cases)


def test_extract_and_assign_empty_batches(spark):
    """Partitions that produce zero triples (or all-filtered batches) must
    not break the Arrow map<string,string> conversion (empty Python lists
    default to float64 Series — regression pin for the r7 columnar/pandas-
    udf rewrite)."""
    from ontologybasedkgcreation_spark import pipeline

    deg = spark.createDataFrame(
        [
            ("u1", None, b"<html><b>no pre", "", "en"),
            ("u2", None, None, None, "en"),
            ("u3", None, b"<pre>APPELLANT text</pre>", None, "hi"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = pipeline.run_pipeline(deg.sparkSession, deg, with_paragraphs=True)
    assert out["nodes"].count() == 0
    assert out["edges"].count() == 0


def test_extract_header_dispatch_parity():
    """Header literal-dispatch line scanners (_search_line_lit) == direct
    regex search on adversarial fixture headers plus constructed edge
    cases.  (_CASE_BLOCK_RE keeps plain finditer: its IGNORECASE dispatch
    needed a per-char ASCII fold that measured 5x slower — negative
    result, see OPTIMIZATION_r07.md.)"""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators import extract as E

    headers = [
        fixtures._page_text(fixtures._page_spec(i), target_chars=6000)[:6000]
        for i in range(400)
    ]
    headers += [
        # literals not at a matching line
        "the appeal no was denied\nCATCHWORDS: alpha, beta\nR. ROY, J.\nA. B, JJ.\n",
        "CATCHWORDS: x\nsecond CATCHWORDS: y\n",
        "R. BANUMATHI, A. DESHMUKH, JJ.\nK. RAO, J.\n",
    ]
    for h in headers:
        for rx, lit in (
            (E._CATCHWORDS_RE, "CATCHWORDS: "),
            (E._BENCH_LINE_RE, ", JJ."),
            (E._JUDGE_LINE_RE, ", J."),
        ):
            r = rx.search(h)
            n = E._search_line_lit(h, rx, lit)
            assert (r is None) == (n is None)
            if r is not None:
                assert r.span() == n.span() and r.groups() == n.groups()
