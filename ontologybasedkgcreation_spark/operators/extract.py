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

import functools
import operator
import re
from typing import Callable, Dict, Iterator, List, NamedTuple, Optional, Tuple

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


# Header context: the court line and the case blocks
_COURT_RE = re.compile(r"^IN THE ([A-Z][A-Z .]+)$", re.M)
# the words that end a case block's first party line (matched in any ASCII
# case); anchor_gate_condition keeps every page that holds one, which covers
# every rule that needs the primary case.  The match is ASCII-only because
# the gate lower-cases in the JVM, where "İ" becomes two code points: a
# Unicode case-insensitive marker would match pages the gate drops.
CASE_MARKERS = ("appellant", "petitioner")
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
    r"(?P<ap>.+?) (?:…|\.{3})\s?(?P<marker>(?a:" + "|".join(CASE_MARKERS) + r"))(?:\(S\))?\n"
    r"VERSUS\n"
    r"(?P<resp>.+?) (?:…|\.{3})\s?RESPONDENT(?:\(S\))?$",
    re.M | re.I,
)
_JUDGE_NAME_RE = re.compile(r"^([A-Z]\.(?: [A-Z]\.)*) ([A-Z]+)$")
_SECTION_RE = re.compile(r"Section (\d+[A-Z]?)")
_STATE_PREFIX = re.compile(r"(?i)^state of\b")


def _fmt_judge(name: str) -> str:
    """'A. DESHMUKH' -> 'A. Deshmukh' (initials kept verbatim, surname
    title-cased — the single-judge line's formatting)."""
    m = _JUDGE_NAME_RE.match(name.strip())
    if m:
        return f"{m.group(1)} {m.group(2).title()}"
    return name.strip().title()


def _party_type(name: str) -> str:
    """Individual vs State party typing — the header examples at
    prompts.py:672-685 type persons Individual and "State of ..." State."""
    return "State" if _STATE_PREFIX.search(name.strip()) else "Individual"


Triple = Tuple[int, str, Dict[str, str], str, str, Dict[str, str]]


class Rule(NamedTuple):
    """One literal-dispatched grammar rule: every match of ``rx`` holds
    ``lit`` (case-sensitively) ``off`` chars after the match start, or
    right after the capitalized word the match starts with when ``off`` is
    None.  ``needs`` is the header context the rule emits from ("case":
    the primary case, "court": the court name, or None), and
    ``emit(match, case, court)`` gives its triples.  A header line rule has
    no emitter (nor offset): ``extract_from_text`` emits its first header
    match (:func:`_search_line_lit`) inline."""

    rx: "re.Pattern"
    lit: str
    off: Optional[int]
    needs: Optional[str]
    emit: Optional[Callable[..., List[Triple]]]


def _of_case(rel: str, node2_type: str, value: Callable) -> Callable:
    """Emitter of CourtCase-``rel``->``node2_type`` with value ``value(m)``."""
    return lambda m, case, court: [
        (m.start(), "CourtCase", dict(case), rel, node2_type, value(m))
    ]


def _emit_provisions(m, case, court) -> List[Triple]:
    act = m.group(2).strip()
    return [
        (m.start() + sm.start(), "CourtCase", dict(case), "hasProvision",
         "Provision", _s(f"Section {sm.group(1)} of the {act}"))
        for sm in _SECTION_RE.finditer(m.group(1))
    ]


def _emit_evidence(m, case, court) -> List[Triple]:
    # the recovery site is also a Location node (ontology:
    # Evidence-hasEvidenceLoc->Location, Place is_a Location)
    loc = {"evidenceLocation": m.group(1).strip()}
    return [
        (m.start(), "CourtCase", dict(case), "hasEvidence", "Evidence", dict(loc)),
        (m.start(), "Evidence", loc, "hasEvidenceLoc", "Place",
         _s(loc["evidenceLocation"])),
    ]


def _emit_reliance(m, case, court) -> List[Triple]:
    prior = {"hasCaseID": m.group(1).strip()}
    return [
        (m.start(), "CourtCase", dict(case), "cited", "CourtCase", dict(prior)),
        (m.start(), "CourtCase", prior, "hasRulingOf", "Court",
         _s(m.group(2).strip())),
    ]


def _emit_argument(m, case, court) -> List[Triple]:
    """The party phrase picks the AllDisjoint argument relationship family
    (legalOntology.owl:112-119 appellantArgument Argument->Appellant,
    owl:403-409 petitionerArgument Argument->Petitioner, else the
    respondent side; prompt table prompts.py:103).  A named appellant/
    petitioner ("Counsel for the appellant Arjun Verma ...") carries the
    name into the party node so it links to the header party mention."""
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
        if low == role or (low.startswith(role) and low[len(role)] in " ,:;-"):
            name = party[len(role):].lstrip(" ,:;-").strip()
            return [(m.start(), "Argument", arg, rel, role.title(), _s(name))]
    return [(m.start(), "Argument", arg, "respondentArgument", "Respondent",
             _s(party))]


# The grammar: header line rules, then the body rules in emission order.
RULES: Dict[str, Rule] = {
    "jurisdiction": Rule(re.compile(
        r"^(CRIMINAL|CIVIL) APPELLATE JURISDICTION$"
        r"|^(?:CIVIL |CRIMINAL )?(ORIGINAL) JURISDICTION$"
        r"|^(WRIT) JURISDICTION$", re.M), "JURISDICTION", None, "court", None),
    # CATCHWORDS line -> one CourtCase-hasWords->CatchWord triple per term
    # (ontology: catchwordValue; prompt spec space "domain words, facts
    # and issue related words")
    "catchwords": Rule(
        re.compile(r"^CATCHWORDS: (.+)$", re.M), "CATCHWORDS: ", None, "case", None),
    # multi-judge bench line: "R. BANUMATHI, A. DESHMUKH, JJ." — comma-
    # separated all-caps names, plural JJ. marker (prompt example
    # distribution); it wins over the single-judge line "X. SURNAME, J."
    "bench": Rule(re.compile(r"^([A-Z][A-Z. ]*(?:, [A-Z][A-Z. ]*)+), JJ\.$", re.M),
                  ", JJ.", None, None, None),
    "judge": Rule(re.compile(r"^([A-Z]\.(?: [A-Z]\.)*) ([A-Z]+), J\.$", re.M),
                  ", J.", None, None, None),
    "decision": Rule(
        re.compile(r"(challenges the judgment[^.]*?)\."), "challenges the judgment",
        0, "case", _of_case("hasFinalDecision", "Judgement", lambda m: _s(m.group(1)))),
    "provisions": Rule(
        re.compile(r"convicted under ((?:Section[^.]*?)) of the ([A-Za-z ]+?)\."),
        "convicted under ", 0, "case", _emit_provisions),
    "witness": Rule(
        re.compile(r"examined ([A-Z][a-z]+ [A-Z][a-z]+) \(PW-\d+\)"), "examined ", 0,
        "case", _of_case("hasWitness", "Witness", lambda m: _s(m.group(1)))),
    "evidence": Rule(
        re.compile(r"weapon was recovered from ([^.]+?)\."),
        "weapon was recovered from ", 0, "case", _emit_evidence),
    # CourtCase-hasPolicePersonnel->Investigator (prompt spec space:
    # prompts.py:122; datatype props hasPolicePersonnelName + hasDesignation)
    "investigator": Rule(
        re.compile(r"investigation was conducted by ((?:Sub-)?Inspector) "
                   r"([A-Z][a-z]+ [A-Z][a-z]+)"),
        "investigation was conducted by ", 0, "case",
        _of_case("hasPolicePersonnel", "Investigator", lambda m: {
            "hasPolicePersonnelName": m.group(2), "hasDesignation": m.group(1)})),
    "reliance": Rule(
        re.compile(r"[Rr]eliance was placed on (.+? No\.\S+) decided by the ([^.]+?)\."),
        "eliance was placed on ", 1, "case", _emit_reliance),
    # the reference golden file's single most frequent VALID relationship:
    # hasFact, 20 of 163 triples in kg_creator/src/sample_response.json
    # (CourtCase-hasFact->Fact, legalOntology.owl:212-219; prompt example
    # prompts.py:378-395 assigns the fact text to the Fact node's `text` prop)
    "fact": Rule(
        re.compile(r"It is the case of the prosecution that ([^.]+?)\."),
        "It is the case of the prosecution that ", 0, "case",
        _of_case("hasFact", "Fact", lambda m: _s(m.group(1).strip()))),
    "argument": Rule(
        re.compile(r"Counsel for the (.+?) submitted that ([^.]+?)\."),
        "Counsel for the ", 0, None, _emit_argument),
    "opinion": Rule(
        re.compile(r"([A-Z][a-z]+), J\. observed that ([^.]+?)\."),
        ", J. observed that ", None, None, lambda m, case, court: [
            (m.start(), "Judge", _s(m.group(1)), "hasOpinion", "Opinion",
             _s(m.group(2).strip()))]),
    "date_of_judgment": Rule(
        re.compile(r"judgment was delivered on (\d{1,2}) ([A-Z][a-z]+) (\d{4})"),
        "judgment was delivered on ", 0, "court", lambda m, case, court: [
            (m.start(), "Court", _s(court), "hasDateOfJudgment", "DateOfJudgment",
             {"hasDate": m.group(1), "hasMonth": m.group(2), "hasYear": m.group(3)})]),
}


def _iter_lit(text: str, rule: Rule):
    """``rule.rx.finditer(text)`` by literal dispatch: scan for the
    rule's literal with ``str.find`` (memchr speed — the filler bulk of a
    web page never contains the grammar literals) and attempt the regex
    only at the match start each literal site implies.  With no offset
    that start is the capitalized word before the literal: walk back over
    the maximal ASCII-lowercase run and require one uppercase (any later
    start lacks the leading [A-Z]).  finditer semantics are preserved
    exactly (left-to-right, non-overlapping: literal sites inside a
    previous match are skipped) — parity is pinned by
    test_extract_literal_dispatch_parity.  Measured 3.2x over the
    per-pattern full-text ``finditer`` on 20 KB bench pages (guide §4.2:
    the body grammar was ~70% of extract_from_text)."""
    rx, lit, off = rule.rx, rule.lit, rule.off
    pos = text.find(lit)
    last_end = 0
    while pos != -1:
        if off is None:
            s = pos
            while s > 0 and "a" <= text[s - 1] <= "z":
                s -= 1
            s = s - 1 if s > 0 and "A" <= text[s - 1] <= "Z" else -1
        else:
            s = pos - off
        if s >= last_end:
            m = rx.match(text, s)
            if m is not None:
                yield m
                last_end = m.end()
        pos = text.find(lit, pos + 1)


def _search_line_lit(text: str, rule: Rule):
    """``rule.rx.search(text)`` for a header line rule: the regex is
    ^-anchored and every match's FIRST line contains the literal, so try
    it only at the start of each line holding the literal, in order — the
    first hit is the leftmost match (line starts are non-decreasing in
    literal position)."""
    tried = -1
    pos = text.find(rule.lit)
    while pos != -1:
        ls = text.rfind("\n", 0, pos) + 1
        if ls != tried:
            tried = ls
            m = rule.rx.match(text, ls)
            if m is not None:
                return m
        pos = text.find(rule.lit, pos + 1)
    return None


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

    juris_m = court_name and _search_line_lit(header, RULES["jurisdiction"])
    if juris_m:
        # the regex's three alternatives each capture one group
        jtype = ("Appellant_Jurisdiction", "Original_Jurisdiction",
                 "Writ_Jurisdiction")[juris_m.lastindex - 1]
        triples.append(
            (juris_m.start(), "Court", _s(court_name), "hasJurisdiction", jtype, _s(""))
        )

    for bi, block in enumerate(case_blocks):
        cid = block.group("cid")
        appellant = block.group("ap").strip().title()
        respondent = block.group("resp").strip().title()
        # "…PETITIONER" marks a writ/SLP first party: typed Petitioner
        # (is_a Party in the ontology) instead of Appellant
        ap_label = block.group("marker").title()
        if bi == 0:
            # parties of the primary case
            for grp, label, name in (
                ("ap", ap_label, appellant), ("resp", "Respondent", respondent)
            ):
                triples.append(
                    (block.start(grp), "CourtCase", dict(primary), "hasParty",
                     label, _s(name))
                )
                triples.append(
                    (block.start(grp), label, _s(name), "hasPartyType",
                     _party_type(name), _s(""))
                )
        elif primary:
            # WITH/AND -> cited (prompts.py:486,553)
            triples.append(
                (block.start(), "CourtCase", dict(primary), "cited",
                 "CourtCase",
                 {"hasCaseID": cid,
                  "hasCaseName": f"{appellant} Versus {respondent}"})
            )

    cw_m = primary and _search_line_lit(header, RULES["catchwords"])
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
    bench_m = _search_line_lit(header, RULES["bench"])
    if bench_m:
        judges = [
            (bench_m.start(), _fmt_judge(n)) for n in bench_m.group(1).split(",")
        ]
    else:
        judge_m = _search_line_lit(header, RULES["judge"])
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
    context = {"case": primary, "court": court_name}
    for rule in RULES.values():
        if rule.emit is None or (rule.needs and not context[rule.needs]):
            continue
        for m in _iter_lit(text, rule):
            triples.extend(rule.emit(m, primary, court_name))
    return triples


def anchor_gate_condition():
    """JVM-side predicate pushdown for the Python extraction stage, read
    from the rule table: a page can produce a triple only if its text
    holds a case-block marker (in any ASCII case) or the literal of a rule that
    does not need the primary case.  Every dispatched match sits at its
    rule's literal, and a rule that needs the case emits nothing without a
    case block, so the OR is conservative by construction.  Pages failing
    it are dropped at codegen speed and never cross the Arrow boundary —
    on a web corpus where most pages are not judgments, the Python stage's
    input shrinks to the relevant fraction."""
    from pyspark.sql import functions as SF

    t = SF.col("text")
    lt = SF.lower(t)
    return functools.reduce(
        operator.or_,
        [lt.contains(m) for m in CASE_MARKERS]
        + [t.contains(r.lit) for r in RULES.values() if r.needs != "case"],
    )


def extract_triples(
    extracted_pages: DataFrame, pre_gated: bool = False
) -> DataFrame:
    """(url, text, lang) -> raw triple rows, Arrow-batched.  Non-English pages
    produce no triples (they flow through the pages table untouched).

    Two JVM-side gates run before the Arrow stage (cheap codegen'd scans,
    semantically no-ops): the ``lang == 'en'`` filter (also applied inside
    the UDF for direct callers) and :func:`anchor_gate_condition`, which
    reads its literals from the rule table ``RULES``.

    ``pre_gated=True``: the caller already applied the anchor gate on the
    RAW text column (``extract_pages(text_gate=anchor_gate_condition)``),
    so the JVM gate here is skipped — placing it on the projected text
    column would reference the decode UDF's output and Catalyst's filter
    pushdown would evaluate the decode twice (guide §4.4).  Rows that
    reached here only via html decode need no gate: a rule matches only at
    its own literal, so a page the gate would drop yields no triples and
    the result set is identical."""

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
