"""Deterministic synthetic Common-Crawl-style judgment pages + ground truth.

Generates the ``pages`` input table mandated by BASELINE.json.input_hint —
``(url string, warc_ts timestamp, html binary, text string, lang string)`` —
together with the expected canonical triple set per page (ground truth by
construction), mirroring the text shapes of the reference's few-shot examples
(kg_creator/src/prompts.py:621-753 header grammar, prompts.py:200-289 body
sentences) and its golden file (kg_creator/src/sample_response.json).

Everything is a pure function of the page index: no wall clock, no uuid4
(the reference's uuid4 chunk ids at kg_creator/src/agent_utils.py:205 are
replaced by content hashes downstream).  Alias variants of the same entity
("A. Deshmukh" header vs "Deshmukh, J." in the body; "State of Madhya
Pradesh" vs "State of M.P.") appear on purpose to exercise entity linking
(utils.py:325-427) and canonicalization (refine_nodes.py:27-96).
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import random
from typing import Dict, List, Tuple

EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

# ---------------------------------------------------------------------------
# Vocabularies (fixed, small; deterministic picks by page index)
# ---------------------------------------------------------------------------

PERSONS: List[Tuple[str, str]] = [
    ("Arjun", "Verma"), ("Kiran", "Mehta"), ("Suresh", "Patil"),
    ("Devraj", "Nair"), ("Mohan", "Das"), ("Prakash", "Yadav"),
    ("Ramesh", "Iyer"), ("Vikram", "Chauhan"), ("Naresh", "Gupta"),
    ("Dilip", "Sahu"), ("Kailash", "Bose"), ("Raghu", "Pillai"),
]

JUDGES: List[Tuple[str, str]] = [
    ("A.", "Deshmukh"), ("V.", "Raghavan"), ("S.", "Khanna"),
    ("P.", "Bhat"), ("N.", "Chandran"),
]

WITNESSES: List[Tuple[str, str]] = [
    ("Gopal", "Sharma"), ("Dinesh", "Rawat"), ("Mahesh", "Tiwari"),
    ("Sunil", "Pandey"),
]

INVESTIGATORS: List[Tuple[str, str, str]] = [
    ("Inspector", "Raghav", "Singh"), ("Sub-Inspector", "Anand", "Kale"),
    ("Inspector", "Bhushan", "Rao"),
]

CATCHWORDS: List[str] = [
    "murder", "circumstantial evidence", "last seen theory",
    "recovery of weapon", "benefit of doubt", "dying declaration",
]

# case-fact statements (hasFact, the golden file's dominant body
# relationship — 20/163 rows in kg_creator/src/sample_response.json).
# Page i carries FACTS[i%5] and FACTS[(i+2)%5]; only template 0 varies by
# page ({place}).  Phrasing deliberately avoids every other body-rule
# anchor ("recovered from", "challenges the judgment", ...), and repeated
# cross-page instances collapse to one Fact node by content key (free-text
# nodes never fuzzy-merge: link_nodes linkable filter).
FACTS: List[str] = [
    "the deceased was last seen in the company of the accused near {place}",
    "the accused bore a grudge against the deceased over a land dispute",
    "the dead body was found in a pit at the instance of the accused",
    "the blood-stained axe was seized from the house of the accused",
    "the postmortem report attributed the death to injuries caused by a "
    "heavy blunt object",
]

# (canonical full form, abbreviated alias or None)
STATES: List[Tuple[str, str | None]] = [
    ("State of Madhya Pradesh", "State of M.P."),
    ("State of Uttar Pradesh", "State of U.P."),
    ("State of Chhattisgarh", None),
    ("State of Haryana", None),
    ("State of Tamil Nadu", "State of T.N."),
]

# The reference ships a 616-row abbreviation file (505 parseable entries,
# surfaced through the stub tool at kg_creator/src/tools.py:1-7).  This
# small built-in dictionary is the linking default on every host;
# ONTOKG_ABBREV_PATH names a file that widens it at runtime.
ABBREVIATIONS: Dict[str, str] = {
    "M.P.": "Madhya Pradesh",
    "U.P.": "Uttar Pradesh",
    "T.N.": "Tamil Nadu",
    "IPC": "Indian Penal Code",
    "CrPC": "Code of Criminal Procedure",
}

ACTS = ["IPC", "CrPC", "Indian Evidence Act", "Arms Act"]
SECTIONS = [302, 341, 34, 376, 120, 201, 307, 149]
PLACES = [
    "Village Kharsia", "Sector 12 Market", "Bilaspur Railway Station",
    "Raigarh Bus Stand",
]
PRIOR_COURTS = [
    ("Chhattisgarh High Court", "High_Court"),
    ("Madras High Court", "High_Court"),
    ("Bombay High Court", "High_Court"),
    ("Additional Sessions Judge, Raigarh", "Session_Court"),
]
MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]

FILLER_SENTENCES = [
    "The prosecution story, in brief, is that on the fateful day the "
    "deceased had gone to the weekly market to sell his produce and did not "
    "return home in the evening.",
    "The members of the family searched for him through the night and "
    "informed the village chowkidar the next morning.",
    "The trial court framed charges and the accused pleaded not guilty and "
    "claimed trial.",
    "During the course of the trial the prosecution brought on record the "
    "seizure memos, the site plan and the post-mortem report.",
    "The defence did not lead any oral testimony and rested its position on "
    "the suggestion of false implication due to a land dispute.",
    "We have heard learned counsel appearing for both sides at considerable "
    "length and perused the material placed on record.",
    "It is a settled position of law that suspicion, however grave, cannot "
    "take the place of proof beyond reasonable doubt.",
    "The chain of circumstances must be complete and must exclude every "
    "hypothesis other than the guilt of the person charged.",
]


def title_all(value):
    """Python ``str.title()`` applied recursively — byte-parity with the
    reference canonicalization ``make_title_case_all`` semantics
    (utils.py:527-537).  Note this differs from Spark ``initcap`` (``.title``
    capitalizes after any non-letter: "state of m.p." -> "State Of M.P.")."""
    if isinstance(value, dict):
        return {k: title_all(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        t = [title_all(v) for v in value]
        return type(value)(t) if isinstance(value, tuple) else t
    if isinstance(value, str):
        return value.title()
    return value


def canon_props(props: Dict[str, str]) -> Dict[str, str]:
    """Canonical property bag: title-cased values, empty values dropped
    (the comparator form of FIXTURES.md §2)."""
    return {k: v.title() for k, v in props.items() if v not in (None, "")}


# ---------------------------------------------------------------------------
# Page spec
# ---------------------------------------------------------------------------


def _page_spec(i: int) -> dict:
    rng = random.Random(0xB10C + i)
    appellant = PERSONS[i % len(PERSONS)]
    state_full, state_abbrev = STATES[i % len(STATES)]
    judge = JUDGES[i % len(JUDGES)]
    witness = WITNESSES[i % len(WITNESSES)]
    year = 1995 + (i % 28)
    case_no = 1000 + i
    n_with = i % 3
    with_cases = []
    for j in range(n_with):
        ap = PERSONS[(i + j + 1) % len(PERSONS)]
        # every 6th page's first WITH block carries a plural appeal-number
        # range ("NOS.x-y OF year") — the multi-appeal form of real benches
        if j == 0 and i % 6 == 2:
            base = case_no + 100
            cid = f"CRIMINAL APPEAL NOS.{base}-{base + 2} OF {year}"
        else:
            cid = f"CRIMINAL APPEAL NO.{case_no + 100 * (j + 1)} OF {year}"
        with_cases.append(
            {
                "case_id": cid,
                "appellant": ap,
                "respondent": state_full,
            }
        )
    # adversarial header variants drawn from the prompt's own example and
    # spec space (prompts.py:486-753): Diary-No case ids, lowercase
    # "Versus", multi-judge benches ("…, JJ."), writ petitions (Petitioner
    # party + WRIT JURISDICTION) and special-leave petitions — precedence
    # writ > slp > diary so each page has exactly one id shape
    writ = i % 17 == 6
    slp = (i % 19 == 7) and not writ
    diary = (i % 13 == 5) and not writ and not slp
    pkind = "(CRIMINAL)" if i % 2 else "(CIVIL)"
    if writ:
        case_id = f"WRIT PETITION {pkind} NO.{case_no} OF {year}"
    elif slp:
        case_id = f"SPECIAL LEAVE PETITION {pkind} NO.{case_no} OF {year}"
    elif diary:
        case_id = f"DIARY NO.{case_no} OF {year}"
    else:
        case_id = f"CRIMINAL APPEAL NO.{case_no} OF {year}"
    # writ/SLP headers mark the first party "…PETITIONER" (typed Petitioner);
    # writ petitions sit under WRIT JURISDICTION, everything else under the
    # criminal appellate line
    party_marker = "PETITIONER" if (writ or slp) else "APPELLANT"
    party_label = "Petitioner" if (writ or slp) else "Appellant"
    juris_line = (
        "WRIT JURISDICTION" if writ else "CRIMINAL APPELLATE JURISDICTION"
    )
    juris_type = "Writ_Jurisdiction" if writ else "Appellant_Jurisdiction"
    sections = sorted(rng.sample(SECTIONS, 1 + (i % 3)))
    act = ACTS[i % len(ACTS)]
    place = PLACES[i % len(PLACES)]
    prior_court, prior_court_type = PRIOR_COURTS[i % len(PRIOR_COURTS)]
    return {
        "i": i,
        "url": f"https://judgments.example.org/sc/{year}/{case_no}.html",
        "case_id": case_id,
        "case_name": f"{appellant[0]} {appellant[1]} Versus {state_full}",
        "bench_judge": JUDGES[(i + 1) % len(JUDGES)] if i % 7 == 3 else None,
        "lower_versus": i % 11 == 4,
        "party_marker": party_marker,
        "party_label": party_label,
        "juris_line": juris_line,
        "juris_type": juris_type,
        "appellant": appellant,
        "state_full": state_full,
        "state_abbrev": state_abbrev,
        "judge": judge,
        "witness": witness,
        "investigator": INVESTIGATORS[i % len(INVESTIGATORS)],
        # every 5th page (i%5==1) carries a CATCHWORDS header line with two
        # consecutive vocabulary terms
        "catchwords": (
            [CATCHWORDS[i % len(CATCHWORDS)],
             CATCHWORDS[(i + 1) % len(CATCHWORDS)]]
            if i % 5 == 1
            else []
        ),
        "pw": 1 + (i % 9),
        "facts": [
            FACTS[i % len(FACTS)].format(place=place),
            FACTS[(i + 2) % len(FACTS)].format(place=place),
        ],
        "year": year,
        "with_cases": with_cases,
        "sections": sections,
        "act": act,
        "place": place,
        "prior_case_id": f"Sessions Case No.{140 + i}/{(year - 3) % 100:02d}",
        "prior_court": prior_court,
        "hc_name": PRIOR_COURTS[i % 3][0],  # always a High Court
        "doj": (7 + (i * 3) % 21, MONTHS[i % 12], year + 2),
        "rng": rng,
    }


def _page_text(s: dict, target_chars: int = 4200) -> str:
    a_first, a_last = s["appellant"]
    j_init, j_last = s["judge"]
    w_first, w_last = s["witness"]
    versus = "Versus" if s.get("lower_versus") else "VERSUS"
    marker = s.get("party_marker", "APPELLANT")
    lines = [
        "IN THE SUPREME COURT OF INDIA",
        s.get("juris_line", "CRIMINAL APPELLATE JURISDICTION"),
        s["case_id"],
        f"{a_first.upper()} {a_last.upper()} …{marker}",
        versus,
        f"{s['state_full'].upper()} …RESPONDENT",
    ]
    if s.get("catchwords"):
        lines.append("CATCHWORDS: " + ", ".join(s["catchwords"]))
    if s["with_cases"]:
        lines.append("WITH")
        for wc in s["with_cases"]:
            wf, wl = wc["appellant"]
            lines.extend(
                [
                    wc["case_id"],
                    f"{wf.upper()} {wl.upper()} …{marker}",
                    versus,
                    f"{wc['respondent'].upper()} …RESPONDENT",
                ]
            )
    if s.get("bench_judge"):
        b_init, b_last = s["bench_judge"]
        judge_line = (
            f"{j_init.upper()} {j_last.upper()}, "
            f"{b_init.upper()} {b_last.upper()}, JJ."
        )
    else:
        judge_line = f"{j_init.upper()} {j_last.upper()}, J."
    lines.extend(
        [
            "J U D G M E N T",
            judge_line,
            "",
        ]
    )

    d, mon, yr = s["doj"]
    sec_str = ", ".join(f"Section {n}" for n in s["sections"][:-1])
    if sec_str:
        sec_str = sec_str + f" and Section {s['sections'][-1]}"
    else:
        sec_str = f"Section {s['sections'][0]}"
    state_in_body = s["state_abbrev"] or s["state_full"]

    body = [
        f"This appeal challenges the judgment and order of the {s['hc_name']}, "
        f"upholding the conviction of the appellant.",
        f"The appellant was convicted under {sec_str} of the {s['act']}.",
        FILLER_SENTENCES[0],
        f"It is the case of the prosecution that {s['facts'][0]}.",
        FILLER_SENTENCES[1],
        f"It is the case of the prosecution that {s['facts'][1]}.",
        f"The prosecution examined {w_first} {w_last} (PW-{s['pw']}) as a witness.",
        f"The investigation was conducted by {s['investigator'][0]} "
        f"{s['investigator'][1]} {s['investigator'][2]}.",
        f"The weapon was recovered from {s['place']}.",
        FILLER_SENTENCES[2],
        FILLER_SENTENCES[3],
        f"Reliance was placed on {s['prior_case_id']} decided by the "
        f"{s['prior_court']}.",
        FILLER_SENTENCES[4],
        f"Counsel for the {state_in_body} submitted that the recovery was duly "
        f"proved and the conviction deserved to be sustained.",
        f"Counsel for the {s.get('party_label', 'Appellant').lower()} "
        f"{a_first} {a_last} submitted that the identification of the accused "
        f"was doubtful and the benefit of doubt ought to be extended.",
        FILLER_SENTENCES[5],
        f"{j_last}, J. observed that the testimony of the witnesses was "
        f"consistent and inspired confidence.",
        FILLER_SENTENCES[6],
        FILLER_SENTENCES[7],
        f"The judgment was delivered on {d} {mon} {yr}.",
    ]
    # pad to guarantee multiple 1200-char chunks (chunker parity,
    # utils.py:910); target_chars > default simulates realistic 10-100 KB
    # web pages for compute-bound benchmarks (filler never matches any
    # extraction pattern, so ground truth is unchanged)
    k = 0
    total = sum(len(x) + 1 for x in body)
    while total < max(target_chars, 4200):
        s_add = FILLER_SENTENCES[k % len(FILLER_SENTENCES)]
        body.append(s_add)
        total += len(s_add) + 1
        k += 1
    return "\n".join(lines) + "\n" + " ".join(body)


HINDI_FILLER = (
    "यह एक परीक्षण पृष्ठ है। इस पृष्ठ से कोई निष्कर्षण अपेक्षित नहीं है। "
)


def expected_triples(s: dict) -> List[dict]:
    """Canonical (subj_label, subj_props, pred, obj_label, obj_props) rows the
    pipeline must emit for this page, post validation/linking/titlecase."""
    a_first, a_last = s["appellant"]
    j_init, j_last = s["judge"]
    w_first, w_last = s["witness"]
    cc = ("CourtCase", canon_props({"hasCaseID": s["case_id"], "hasCaseName": s["case_name"]}))
    court = ("Court", {"courtName": "Supreme Court Of India"})
    judge = ("Judge", canon_props({"COFirstName": j_init, "COLastName": j_last}))
    ap_label = s.get("party_label", "Appellant")
    appellant = (ap_label, canon_props({"firstName": a_first, "lastName": a_last}))
    respondent = ("Respondent", canon_props({"firstName": s["state_full"]}))
    d, mon, yr = s["doj"]

    rows: List[Tuple[Tuple[str, dict], str, Tuple[str, dict]]] = [
        (cc, "hasRulingOf", court),
        (court, "hasJurisdiction",
         (s.get("juris_type", "Appellant_Jurisdiction"), {})),
        (cc, "hasParty", appellant),
        (appellant, "hasPartyType", ("Individual", {})),
        (cc, "hasParty", respondent),
        (respondent, "hasPartyType", ("State", {})),
        (cc, "hasJudge", judge),
        (judge, "worksIn", court),
        *(
            [
                (cc, "hasJudge",
                 ("Judge", canon_props({"COFirstName": s["bench_judge"][0],
                                        "COLastName": s["bench_judge"][1]}))),
                (("Judge", canon_props({"COFirstName": s["bench_judge"][0],
                                        "COLastName": s["bench_judge"][1]})),
                 "worksIn", court),
            ]
            if s.get("bench_judge")
            else []
        ),
        (
            cc,
            "hasFinalDecision",
            (
                "Judgement",
                canon_props(
                    {
                        "text": f"challenges the judgment and order of the "
                        f"{s['hc_name']}, upholding the conviction of the appellant"
                    }
                ),
            ),
        ),
        *(
            [
                (cc, "hasWords",
                 ("CatchWord", canon_props({"catchwordValue": w})))
                for w in s.get("catchwords", [])
            ]
        ),
        (cc, "hasWitness", ("Witness", canon_props({"wFirstName": w_first, "wLastName": w_last}))),
        (
            cc,
            "hasPolicePersonnel",
            (
                "Investigator",
                canon_props(
                    {
                        "hasPolicePersonnelName":
                            f"{s['investigator'][1]} {s['investigator'][2]}",
                        "hasDesignation": s["investigator"][0],
                    }
                ),
            ),
        ),
        (cc, "hasEvidence", ("Evidence", canon_props({"evidenceLocation": s["place"]}))),
        (
            ("Evidence", canon_props({"evidenceLocation": s["place"]})),
            "hasEvidenceLoc",
            ("Place", canon_props({"locationName": s["place"]})),
        ),
        (
            cc,
            "cited",
            ("CourtCase", canon_props({"hasCaseID": s["prior_case_id"]})),
        ),
        (
            ("CourtCase", canon_props({"hasCaseID": s["prior_case_id"]})),
            "hasRulingOf",
            ("Court", canon_props({"courtName": s["prior_court"]})),
        ),
        (
            court,
            "hasDateOfJudgment",
            (
                "DateOfJudgment",
                canon_props({"hasDate": str(d), "hasMonth": mon, "hasYear": str(yr)}),
            ),
        ),
        (
            judge,
            "hasOpinion",
            (
                "Opinion",
                canon_props(
                    {
                        "text": "the testimony of the witnesses was consistent "
                        "and inspired confidence"
                    }
                ),
            ),
        ),
        (
            (
                "Argument",
                canon_props(
                    {
                        "text": "the recovery was duly proved and the conviction "
                        "deserved to be sustained"
                    }
                ),
            ),
            "respondentArgument",
            respondent,
        ),
        # the appellant/petitioner twin (appellantArgument /
        # petitionerArgument, legalOntology.owl:112-119 / :403-409) — the
        # named party links to the header party node
        (
            (
                "Argument",
                canon_props(
                    {
                        "text": "the identification of the accused was doubtful "
                        "and the benefit of doubt ought to be extended"
                    }
                ),
            ),
            "appellantArgument" if ap_label == "Appellant"
            else "petitionerArgument",
            appellant,
        ),
        # hasFact — the golden file's most frequent valid relationship
        *(
            (cc, "hasFact", ("Fact", canon_props({"text": fact})))
            for fact in s["facts"]
        ),
    ]
    for n in s["sections"]:
        rows.append(
            (
                cc,
                "hasProvision",
                ("Provision", canon_props({"text": f"Section {n} of the {s['act']}"})),
            )
        )
    for wc in s["with_cases"]:
        wf, wl = wc["appellant"]
        rows.append(
            (
                cc,
                "cited",
                (
                    "CourtCase",
                    canon_props(
                        {
                            "hasCaseID": wc["case_id"],
                            "hasCaseName": f"{wf} {wl} Versus {wc['respondent']}",
                        }
                    ),
                ),
            )
        )
    return [
        {
            "url": s["url"],
            "subj_label": subj[0],
            "subj_props": subj[1],
            "pred": pred,
            "obj_label": obj[0],
            "obj_props": obj[1],
        }
        for subj, pred, obj in rows
    ]


# every NON_EN_EVERY-th fixture page is Hindi unless a caller says otherwise
NON_EN_EVERY = 10


def generate_pages(n_pages: int, non_en_every: int) -> Tuple[List[dict], List[dict]]:
    """Build ``pages`` rows + expected canonical triples.

    Every ``non_en_every``-th page is a non-English page the pipeline must
    pass through unextracted (lang gate, FIXTURES.md §1).
    """
    pages: List[dict] = []
    expected: List[dict] = []
    for i in range(n_pages):
        s = _page_spec(i)
        if non_en_every and i % non_en_every == non_en_every - 1:
            text = HINDI_FILLER * 40
            url = f"https://judgments.example.org/hi/{i}.html"
            pages.append(_page_row(url, i, text, "hi"))
            continue
        text = _page_text(s)
        pages.append(_page_row(s["url"], i, text, "en"))
        expected.extend(expected_triples(s))
    return pages, expected


def _page_row(url: str, i: int, text: str, lang: str) -> dict:
    html_doc = f"<html><body><pre>{_html.escape(text)}</pre></body></html>"
    return {
        "url": url,
        "warc_ts": EPOCH + _dt.timedelta(minutes=i),
        "html": html_doc.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

EXPECTED_SCHEMA_DDL = (
    "url string, subj_label string, subj_props map<string,string>, "
    "pred string, obj_label string, obj_props map<string,string>"
)


def pages_df(spark, n_pages: int, non_en_every: int = NON_EN_EVERY):
    """Spark DataFrames (pages, expected) for tests and bench."""
    pages, expected = generate_pages(n_pages, non_en_every)
    return (
        spark.createDataFrame(pages, schema=PAGES_SCHEMA_DDL),
        spark.createDataFrame(expected, schema=EXPECTED_SCHEMA_DDL),
    )


def pages_df_distributed(spark, n_pages: int, partitions: int,
                         target_chars: int = 4200):
    """Executor-side page generation — the driver never materializes the
    corpus, so bench inputs scale to millions of pages (each page is a pure
    function of its index).  Returns only the pages DataFrame; ground truth
    at bench scale is unnecessary (correctness runs at test scale)."""
    import pandas as pd

    def _gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % NON_EN_EVERY == NON_EN_EVERY - 1:
                    rows.append(
                        _page_row(
                            f"https://judgments.example.org/hi/{i}.html",
                            i, HINDI_FILLER * 40, "hi",
                        )
                    )
                else:
                    s = _page_spec(i)
                    rows.append(
                        _page_row(s["url"], i, _page_text(s, target_chars), "en")
                    )
            yield pd.DataFrame(rows)

    return spark.range(n_pages).repartition(partitions).mapInPandas(
        _gen, schema=PAGES_SCHEMA_DDL
    )
