"""Deterministic ontology-pattern triple extraction (E1/E2/E4 replacement).

The reference extracts triples with one LLM call per chunk plus one metadata
call for chunk 0 (``kg_creator/src/utils.py:919-928``, ``agent_utils.py:
199-208``; prompts ``prompts.py:1-290`` and ``prompts.py:474-754``).  We
replace the prompt programs with a rule grammar whose behaviors are fixed by
the prompts' own few-shot examples:

- judgment header block -> CourtCase/Court/Party/Judge triples
  (``prompts.py:621-753``);
- WITH/AND follow-on case blocks -> ``cited`` edges from the primary case
  (``prompts.py:486,553``);
- body sentence patterns -> provisions, witnesses, evidence, decisions,
  citations, opinions, arguments, date-of-judgment
  (``prompts.py:200-289`` example sentence).

Extraction is per *document* (not per chunk): chunk-boundary truncation is a
failure mode of the reference's per-chunk prompting we do not inherit; the
triple-set parity metric is document-level.  Parallelism at 10^12-page scale
comes from pages, so a per-document Arrow batch UDF saturates any cluster.

Raw triple IR mirrors the reference's ``NodeTriple`` (``output_parser.py:
34-39``): node values are ``Union[dict, str]``; we normalize a bare string to
``{"__value": s}`` immediately (SURVEY.md §1.3).

Each triple carries ``span_start`` (char offset of the evidence in the
document) so the Paragraph ``part_of`` edges (``agent_utils.py:258-268``) can
be rebuilt with a range join against chunk offsets.
"""

from __future__ import annotations

import re
from typing import Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

VALUE = "__value"  # map key marking "this was a bare string mention"

RAW_TRIPLES_SCHEMA = (
    "url string, span_start long, node1_type string, "
    "node1_value map<string,string>, relationship string, "
    "node2_type string, node2_value map<string,string>"
)


def _s(v: str) -> Dict[str, str]:
    """Bare string mention -> normalized map."""
    return {VALUE: v}


# ---------------------------------------------------------------------------
# Header grammar
# ---------------------------------------------------------------------------

_COURT_RE = re.compile(r"^IN THE ([A-Z][A-Z .]+)$", re.M)
_JURIS_RE = re.compile(
    r"^(CRIMINAL|CIVIL) APPELLATE JURISDICTION$"
    r"|^(?:CIVIL |CRIMINAL )?(ORIGINAL) JURISDICTION$"
    r"|^(WRIT) JURISDICTION$",
    re.M,
)
# tolerant of the ellipsis form ("…" vs "..."), mixed-case markers
# (lowercase "versus"), plural appeal numbers ("NOS.1116-1118 OF 2010"),
# Diary-No case ids, and the writ-petition / special-leave-petition id
# shapes of the prompt's own spec space (prompts.py:486-753: Petitioner
# party role, Writ_Jurisdiction) — writ/SLP blocks mark their first party
# "…PETITIONER" (optionally "(S)"-suffixed), which also types the party
_CASE_BLOCK_RE = re.compile(
    r"^(?P<cid>(?:(?:CRIMINAL|CIVIL) APPEAL NOS?\.\s?\d+(?:-\d+)? OF \d{4})"
    r"|(?:WRIT PETITION \((?:CIVIL|CRIMINAL)\) NOS?\.\s?\d+(?:-\d+)? OF \d{4})"
    r"|(?:SPECIAL LEAVE PETITION \((?:CIVIL|CRIMINAL)\) NOS?\.\s?\d+(?:-\d+)? OF \d{4})"
    r"|(?:DIARY NO\.\s?\d+ OF \d{4}))\n"
    r"(?P<ap>.+?) (?:…|\.{3})\s?(?P<marker>APPELLANT|PETITIONER)(?:\(S\))?\n"
    r"VERSUS\n"
    r"(?P<resp>.+?) (?:…|\.{3})\s?RESPONDENT(?:\(S\))?$",
    re.M | re.I,
)
_CATCHWORDS_RE = re.compile(r"^CATCHWORDS: (.+)$", re.M)
_JUDGE_LINE_RE = re.compile(r"^([A-Z]\.(?: [A-Z]\.)*) ([A-Z]+), J\.$", re.M)
# multi-judge bench line: "R. BANUMATHI, A. DESHMUKH, JJ." — comma-separated
# all-caps names, plural JJ. marker (prompt example distribution)
_BENCH_LINE_RE = re.compile(r"^([A-Z][A-Z. ]*(?:, [A-Z][A-Z. ]*)+), JJ\.$", re.M)
_JUDGE_NAME_RE = re.compile(r"^([A-Z]\.(?: [A-Z]\.)*) ([A-Z]+)$")


def _fmt_judge(name: str) -> str:
    """'A. DESHMUKH' -> 'A. Deshmukh' (initials kept verbatim, surname
    title-cased — the single-judge line's formatting)."""
    m = _JUDGE_NAME_RE.match(name.strip())
    if m:
        return f"{m.group(1)} {m.group(2).title()}"
    return name.strip().title()

# ---------------------------------------------------------------------------
# Body grammar
# ---------------------------------------------------------------------------

_DECISION_RE = re.compile(r"(challenges the judgment[^.]*?)\.")
_CONVICTED_RE = re.compile(r"convicted under ((?:Section[^.]*?)) of the ([A-Za-z ]+?)\.")
_SECTION_RE = re.compile(r"Section (\d+[A-Z]?)")
_WITNESS_RE = re.compile(r"examined ([A-Z][a-z]+ [A-Z][a-z]+) \(PW-\d+\)")
_EVIDENCE_RE = re.compile(r"weapon was recovered from ([^.]+?)\.")
_RELIANCE_RE = re.compile(r"[Rr]eliance was placed on (.+? No\.\S+) decided by the ([^.]+?)\.")
_INVESTIGATOR_RE = re.compile(
    r"investigation was conducted by ((?:Sub-)?Inspector) "
    r"([A-Z][a-z]+ [A-Z][a-z]+)"
)
_ARGUMENT_RE = re.compile(r"Counsel for the (.+?) submitted that ([^.]+?)\.")
# the reference golden file's single most frequent VALID relationship:
# hasFact, 20 of 163 triples in kg_creator/src/sample_response.json
# (CourtCase-hasFact->Fact, legalOntology.owl:212-219; prompt example
# prompts.py:378-395 assigns the fact text to the Fact node's `text` prop)
_FACT_RE = re.compile(r"It is the case of the prosecution that ([^.]+?)\.")
_OPINION_RE = re.compile(r"([A-Z][a-z]+), J\. observed that ([^.]+?)\.")
_DOJ_RE = re.compile(r"judgment was delivered on (\d{1,2}) ([A-Z][a-z]+) (\d{4})")

_STATE_PREFIX = re.compile(r"(?i)^state of\b")


def _iter_lit(text: str, rx: "re.Pattern", lit: str, off: int = 0):
    """``rx.finditer(text)`` replacement for patterns whose every match
    carries the literal ``lit`` at fixed offset ``off`` from the match
    start: scan for the literal with ``str.find`` (memchr speed — the
    filler bulk of a web page never contains the grammar literals) and
    attempt the regex only at each literal site.  finditer semantics are
    preserved exactly (left-to-right, non-overlapping: literal sites
    inside a previous match are skipped) — parity is pinned by
    test_extract_literal_dispatch_parity.  Measured 3.2x over the
    per-pattern full-text ``finditer`` on 20 KB bench pages (guide §4.2:
    the body grammar was ~70% of extract_from_text)."""
    pos = text.find(lit)
    last_end = 0
    while pos != -1:
        s = pos - off
        if s >= last_end:
            m = rx.match(text, s) if s >= 0 else None
            if m is not None:
                yield m
                last_end = m.end()
        pos = text.find(lit, pos + 1)


def _iter_opinion(text: str):
    """Literal-dispatch ``_OPINION_RE.finditer``: the match starts a
    variable-length name ([A-Z][a-z]+) BEFORE the literal, so walk back
    over the maximal ASCII-lowercase run and require one uppercase —
    that index is the unique leftmost candidate start for this literal
    site (any later start lacks the leading [A-Z])."""
    lit = ", J. observed that "
    pos = text.find(lit)
    last_end = 0
    while pos != -1:
        i = pos
        while i > 0 and "a" <= text[i - 1] <= "z":
            i -= 1
        if i > 0 and "A" <= text[i - 1] <= "Z" and i - 1 >= last_end:
            m = _OPINION_RE.match(text, i - 1)
            if m is not None:
                yield m
                last_end = m.end()
        pos = text.find(lit, pos + 1)


def _search_line_lit(text: str, rx: "re.Pattern", lit: str):
    """``rx.search(text)`` for ^-anchored single/multi-line patterns whose
    every match's FIRST line contains ``lit`` (case-sensitively): try the
    regex only at candidate line starts, in order — the first hit is the
    leftmost match (line starts are non-decreasing in literal position)."""
    tried = -1
    pos = text.find(lit)
    while pos != -1:
        ls = text.rfind("\n", 0, pos) + 1
        if ls != tried:
            tried = ls
            m = rx.match(text, ls)
            if m is not None:
                return m
        pos = text.find(lit, pos + 1)
    return None


def _party_type(name: str) -> str:
    """Individual vs State party typing — the header examples at
    prompts.py:672-685 type persons Individual and "State of ..." State."""
    return "State" if _STATE_PREFIX.search(name.strip()) else "Individual"


Triple = Tuple[int, str, Dict[str, str], str, str, Dict[str, str]]


def extract_from_text(text: str) -> List[Triple]:
    """All raw triples for one document: (span_start, node1_type,
    node1_value, relationship, node2_type, node2_value)."""
    triples: List[Triple] = []
    if not text:
        return triples

    header = text[:6000]

    court_m = _COURT_RE.search(header)
    court_name: Optional[str] = court_m.group(1).strip() if court_m else None

    case_blocks = list(_CASE_BLOCK_RE.finditer(header))
    primary: Optional[Dict[str, str]] = None
    if case_blocks:
        cid = case_blocks[0].group("cid")
        appellant0 = case_blocks[0].group("ap").strip().title()
        respondent0 = case_blocks[0].group("resp").strip().title()
        primary = {
            "hasCaseID": cid,
            "hasCaseName": f"{appellant0} Versus {respondent0}",
        }

    if primary and court_name:
        triples.append(
            (case_blocks[0].start(), "CourtCase", dict(primary), "hasRulingOf",
             "Court", _s(court_name))
        )

    juris_m = _JURIS_RE.search(header)
    if juris_m and court_name:
        if juris_m.group(1):
            jtype = "Appellant_Jurisdiction"
        elif juris_m.group(2):
            jtype = "Original_Jurisdiction"
        else:
            jtype = "Writ_Jurisdiction"
        triples.append(
            (juris_m.start(), "Court", _s(court_name), "hasJurisdiction", jtype, _s(""))
        )

    for bi, block in enumerate(case_blocks):
        cid = block.group("cid")
        appellant = block.group("ap").strip().title()
        respondent = block.group("resp").strip().title()
        # "…PETITIONER" marks a writ/SLP first party: typed Petitioner
        # (is_a Party in the ontology) instead of Appellant
        ap_label = (
            "Petitioner"
            if block.group("marker").upper() == "PETITIONER"
            else "Appellant"
        )
        if bi == 0:
            # parties of the primary case
            triples.append(
                (block.start("ap"), "CourtCase", dict(primary), "hasParty",
                 ap_label, _s(appellant))
            )
            triples.append(
                (block.start("ap"), ap_label, _s(appellant), "hasPartyType",
                 _party_type(appellant), _s(""))
            )
            triples.append(
                (block.start("resp"), "CourtCase", dict(primary), "hasParty",
                 "Respondent", _s(respondent))
            )
            triples.append(
                (block.start("resp"), "Respondent", _s(respondent), "hasPartyType",
                 _party_type(respondent), _s(""))
            )
        elif primary:
            # WITH/AND -> cited (prompts.py:486,553)
            triples.append(
                (block.start(), "CourtCase", dict(primary), "cited",
                 "CourtCase",
                 {"hasCaseID": cid,
                  "hasCaseName": f"{appellant} Versus {respondent}"})
            )

    # header CATCHWORDS line -> one CourtCase-hasWords->CatchWord triple
    # per comma-separated term (ontology: catchwordValue; prompt spec space
    # "domain words, facts and issue related words")
    if primary:
        cw_m = _search_line_lit(header, _CATCHWORDS_RE, "CATCHWORDS: ")
        if cw_m:
            for word in cw_m.group(1).split(","):
                word = word.strip()
                if word:
                    triples.append(
                        (cw_m.start(), "CourtCase", dict(primary), "hasWords",
                         "CatchWord", _s(word))
                    )

    # judges: a multi-judge bench line ("…, JJ.") names every member; else
    # the single-judge line ("X. SURNAME, J.")
    judges: List[Tuple[int, str]] = []
    bench_m = _search_line_lit(header, _BENCH_LINE_RE, ", JJ.")
    if bench_m:
        judges = [
            (bench_m.start(), _fmt_judge(n)) for n in bench_m.group(1).split(",")
        ]
    else:
        judge_m = _search_line_lit(header, _JUDGE_LINE_RE, ", J.")
        if judge_m:
            judges = [
                (judge_m.start(),
                 f"{judge_m.group(1)} {judge_m.group(2).title()}")
            ]
    for span, judge_name in judges:
        if primary:
            triples.append(
                (span, "CourtCase", dict(primary), "hasJudge",
                 "Judge", _s(judge_name))
            )
        if court_name:
            triples.append(
                (span, "Judge", _s(judge_name), "worksIn",
                 "Court", _s(court_name))
            )

    # ---- body ----
    if primary:
        for m in _iter_lit(text, _DECISION_RE, "challenges the judgment"):
            triples.append(
                (m.start(), "CourtCase", dict(primary), "hasFinalDecision",
                 "Judgement", _s(m.group(1)))
            )
        for m in _iter_lit(text, _CONVICTED_RE, "convicted under "):
            act = m.group(2).strip()
            for sm in _SECTION_RE.finditer(m.group(1)):
                triples.append(
                    (m.start() + sm.start(), "CourtCase", dict(primary),
                     "hasProvision", "Provision",
                     _s(f"Section {sm.group(1)} of the {act}"))
                )
        for m in _iter_lit(text, _WITNESS_RE, "examined "):
            triples.append(
                (m.start(), "CourtCase", dict(primary), "hasWitness",
                 "Witness", _s(m.group(1)))
            )
        for m in _iter_lit(text, _EVIDENCE_RE, "weapon was recovered from "):
            loc = m.group(1).strip()
            triples.append(
                (m.start(), "CourtCase", dict(primary), "hasEvidence",
                 "Evidence", {"evidenceLocation": loc})
            )
            # the recovery site is also a Location node (ontology:
            # Evidence-hasEvidenceLoc->Location, Place is_a Location)
            triples.append(
                (m.start(), "Evidence", {"evidenceLocation": loc},
                 "hasEvidenceLoc", "Place", _s(loc))
            )
        # CourtCase-hasPolicePersonnel->Investigator (prompt spec space:
        # prompts.py:122; datatype props hasPolicePersonnelName +
        # hasDesignation)
        for m in _iter_lit(text, _INVESTIGATOR_RE, "investigation was conducted by "):
            triples.append(
                (m.start(), "CourtCase", dict(primary), "hasPolicePersonnel",
                 "Investigator",
                 {"hasPolicePersonnelName": m.group(2),
                  "hasDesignation": m.group(1)})
            )
        for m in _iter_lit(text, _RELIANCE_RE, "eliance was placed on ", off=1):
            prior = {"hasCaseID": m.group(1).strip()}
            triples.append(
                (m.start(), "CourtCase", dict(primary), "cited",
                 "CourtCase", dict(prior))
            )
            triples.append(
                (m.start(), "CourtCase", dict(prior), "hasRulingOf",
                 "Court", _s(m.group(2).strip()))
            )
        # facts of the case (the golden file's dominant body relationship:
        # 20/163 hasFact rows in sample_response.json)
        for m in _iter_lit(text, _FACT_RE, "It is the case of the prosecution that "):
            triples.append(
                (m.start(), "CourtCase", dict(primary), "hasFact",
                 "Fact", _s(m.group(1).strip()))
            )
    # party arguments: "Counsel for the <party> submitted that <arg>" —
    # the party phrase picks the AllDisjoint argument relationship family
    # (legalOntology.owl:112-119 appellantArgument Argument->Appellant,
    # owl:403-409 petitionerArgument Argument->Petitioner, else the
    # respondent side; prompt table prompts.py:103).  A named appellant/
    # petitioner ("Counsel for the appellant Arjun Verma ...") carries the
    # name into the party node so it links to the header party mention.
    for m in _iter_lit(text, _ARGUMENT_RE, "Counsel for the "):
        party = m.group(1).strip()
        arg = _s(m.group(2).strip())
        low = party.lower()
        for role, rel in (
            ("appellant", "appellantArgument"),
            ("petitioner", "petitionerArgument"),
        ):
            # word boundary required after the role token: "appellants" /
            # "appellant's" must NOT match and leave a junk "s" party name —
            # those fall through to the respondent branch like any other
            # unrecognized phrase.  Separator punctuation ("appellant,
            # Arjun Verma" / "appellant: X") still classifies, with the
            # residual name shedding the separator; the possessive
            # apostrophe is NOT a separator (the phrase references the
            # party's belongings, not the party).
            if low == role or (
                low.startswith(role) and low[len(role)] in " ,:;-"
            ):
                name = party[len(role):].lstrip(" ,:;-").strip()
                triples.append(
                    (m.start(), "Argument", arg, rel, role.title(), _s(name))
                )
                break
        else:
            triples.append(
                (m.start(), "Argument", arg, "respondentArgument",
                 "Respondent", _s(party))
            )
    for m in _iter_opinion(text):
        triples.append(
            (m.start(), "Judge", _s(m.group(1)), "hasOpinion",
             "Opinion", _s(m.group(2).strip()))
        )
    if court_name:
        for m in _iter_lit(text, _DOJ_RE, "judgment was delivered on "):
            triples.append(
                (m.start(), "Court", _s(court_name), "hasDateOfJudgment",
                 "DateOfJudgment",
                 {"hasDate": m.group(1), "hasMonth": m.group(2),
                  "hasYear": m.group(3)})
            )
    return triples


def anchor_gate_condition():
    """JVM-side predicate pushdown for the Python extraction stage: a page
    can produce a triple ONLY if its text contains one of these literal
    anchors (each grammar rule embeds at least one — 'APPELLANT' or
    'PETITIONER' for the header case blocks (case-insensitive there, the
    latter for writ/SLP blocks), 'JURISDICTION' for the
    jurisdiction line, ', J' for the judge/bench lines, and the body
    rules' fixed phrases; rules that additionally require a primary case
    or court name are gated by their own anchors, so OR is conservative).
    Pages failing every anchor are dropped at codegen speed and never
    cross the Arrow boundary — on a web corpus where most pages are not
    judgments, the Python stage's input shrinks to the relevant fraction.
    Completeness is pinned by the P/R gate + golden survivorship tests
    (any rule added without an anchor here would surface as lost recall)."""
    from pyspark.sql import functions as SF

    t = SF.col("text")
    lt = SF.lower(t)
    return (
        lt.contains("appellant")
        | lt.contains("petitioner")  # writ/SLP case blocks
        | t.contains("JURISDICTION")
        | t.contains(", J")
        | t.contains("submitted that")
        | t.contains("observed that")
        | t.contains("judgment was delivered")
        | t.contains("case of the prosecution")  # hasFact rule
    )


def extract_triples(
    extracted_pages: DataFrame, pre_gated: bool = False
) -> DataFrame:
    """(url, text, lang) -> raw triple rows, Arrow-batched.  Non-English pages
    produce no triples (they flow through the pages table untouched).

    Two JVM-side gates run before the Arrow stage (cheap codegen'd scans,
    semantically no-ops): the ``lang == 'en'`` filter (also applied inside
    the UDF for direct callers) and :func:`anchor_gate_condition`.

    ``pre_gated=True``: the caller already applied the anchor gate on the
    RAW text column (``extract_pages(text_gate=anchor_gate_condition)``),
    so the JVM gate here is skipped — placing it on the projected text
    column would reference the decode UDF's output and Catalyst's filter
    pushdown would evaluate the decode twice (guide §4.4).  Rows that
    reached here only via html decode are gated by extract_from_text's own
    anchors (no anchors -> no triples), so the result set is identical."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation: pd.DataFrame(list-of-dicts) re-scans
            # every dict for the column union — building the seven column
            # lists directly is ~10x cheaper at Arrow-batch volume
            urls: List[str] = []
            spans: List[int] = []
            t1s: List[str] = []
            v1s: List[dict] = []
            rels: List[str] = []
            t2s: List[str] = []
            v2s: List[dict] = []
            en = pdf[pdf["lang"] == "en"] if "lang" in pdf.columns else pdf
            for url, text in zip(en["url"], en["text"]):
                for (span, t1, v1, rel, t2, v2) in extract_from_text(text or ""):
                    urls.append(url)
                    spans.append(span)
                    t1s.append(t1)
                    v1s.append(v1)
                    rels.append(rel)
                    t2s.append(t2)
                    v2s.append(v2)
            # empty columns default to float64 Series, which Arrow cannot
            # convert to map<string,string> — pin object dtype throughout
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype=object),
                    "span_start": pd.Series(spans, dtype="int64"),
                    "node1_type": pd.Series(t1s, dtype=object),
                    "node1_value": pd.Series(v1s, dtype=object),
                    "relationship": pd.Series(rels, dtype=object),
                    "node2_type": pd.Series(t2s, dtype=object),
                    "node2_value": pd.Series(v2s, dtype=object),
                }
            )

    from pyspark.sql import functions as SF

    cols = [c for c in ("url", "text", "lang") if c in extracted_pages.columns]
    gated = extracted_pages.select(*cols)
    if not pre_gated:
        gated = gated.filter(
            anchor_gate_condition() & SF.col("text").isNotNull()
        )
    if "lang" in cols:
        gated = gated.filter(SF.col("lang") == "en")
    return gated.mapInPandas(_extract, schema=RAW_TRIPLES_SCHEMA)
