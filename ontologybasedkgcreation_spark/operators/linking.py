"""Entity linking, canonicalization and node/edge construction (M1, R1-R3).

Reference behavior being re-expressed (not ported):

- ``merge_node`` (kg_creator/src/utils.py:325-427): 3-stage linking — BM25
  over the constrained-key corpus for labels with a uniqueness constraint
  (only ``CourtCase.hasCaseID``, utils.py:176-199), exact fallback, then MERGE
  on constraint keys or on the full property bag.  Property coalescing: an
  empty incoming value adopts the stored one (utils.py:366-372,386-391).
- ``refine_nodes`` (refine_nodes.py:27-96): kNN similarity per node + LLM +
  human gate deciding merges; ``merge_by_id`` (utils.py:675-739) rewires
  edges, only when the two label sets are equal.

Spark-first design:

1. Every mention gets a deterministic content key (``pre_key`` = sha256 of
   labels + canonical props) — exact duplicates collapse in one shuffle-free
   hash (replaces MERGE-on-all-props).
2. *Identity text* per node: ``hasCaseID`` for CourtCase (the constrained
   key), the full canonical bag otherwise; normalized (lowercase, punctuation,
   abbreviation expansion — the reference's intended-but-stubbed tool,
   tools.py:1-7, over the built-in table that ``ONTOKG_ABBREV_PATH`` widens).
3. Candidate pairs via a token inverted index *within identical label sets*
   (the ``merge_by_id`` label-equality guard): two nodes pair when the smaller
   token set is fully contained in the larger — the deterministic analog of
   "BM25 top-1 score > 1 ⇒ adopt" (utils.py:363-365) and of the kNN-0.6 gate.
   A char-3gram refine pass over the same index accepts typo aliases at
   hashing-TF cosine >= ``REFINE_THRESHOLD``.  Nodes whose only property is
   free ``text`` never fuzzy-link (the human gate would reject merging prose
   nodes).
4. Skew/scale controls: tokens and grams with document frequency above
   ``MAX_TOKEN_DF`` are dropped from the index (head tokens like "state"
   would otherwise build quadratic candidate blocks — this is the salting
   discipline for the head-entity hot keys), and each node probes the index
   with its rarest token and its ``REFINE_PROBES`` rarest grams of df <=
   ``PROBE_DF_CAP``, so candidate volume is bounded per node.
5. Connected components over accepted pairs — min-key propagation on
   DataFrames co-partitioned by key, one local checkpoint per round with
   pointer doubling after each round that changed a label, no GraphFrames
   dependency.  Component count per block is tiny; convergence is O(log n).
6. Consolidation: per component per property, keep the longest non-empty value
   (deterministic stand-in for "adopt the stored value", which in a batch
   engine has no temporal order); final ``node_key`` is content-derived from
   the consolidated bag so reruns and resumes are idempotent.
"""

from __future__ import annotations

import os
import re
from typing import Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import ABBREVIATIONS

STOP_TOKENS = ("of", "the", "")

# The linking policy: one set of values, read at call time rather than
# bound as parameter defaults, so a test or a stress script sets them on
# this module instead of threading a knob through every entry point.
#
# Skew guard: tokens whose document frequency within a label block exceeds
# MAX_TOKEN_DF leave the containment index, and char-3grams above it leave
# the refine index.
MAX_TOKEN_DF = 1_000
# Lexical refine: probe each node's REFINE_PROBES rarest grams among those
# with df <= PROBE_DF_CAP; accept at hashing-TF (similarity.HASHING_DIM)
# cosine >= REFINE_THRESHOLD.
REFINE_THRESHOLD = 0.75
REFINE_PROBES = 3
PROBE_DF_CAP = 64
# Semantic refine: the reference's 0.6 gate, over an embedder trained on a
# hash-sample of at most SEMANTIC_MAX_DOCS corpus documents; candidates
# come from an SRP-LSH band join of SEMANTIC_LSH_BITS signature bits in
# bands of SEMANTIC_BAND_BITS (16 x 4, not the 8 x 8 of the high-threshold
# near-dup query: a true pair at cosine ~0.7-0.8 survives 4-bit bands with
# p > 0.997 but 8-bit bands only ~0.5-0.75).
SEMANTIC_THRESHOLD = 0.6
SEMANTIC_MAX_DOCS = 20_000
SEMANTIC_LSH_BITS = 64
SEMANTIC_BAND_BITS = 4
# BM25 adopt (the reference's rule, utils.py:352-365): Okapi k1 and b, and
# adopt the top-1 hit when its score, rounded to BM25_SCORE_DECIMALS,
# exceeds BM25_ADOPT_THRESHOLD.
BM25_K1 = 1.5
BM25_B = 0.75
BM25_ADOPT_THRESHOLD = 1.0
BM25_SCORE_DECIMALS = 9
# Connected components: pointer-doubling rounds before it gives up (a
# component diameter above 2^CC_MAX_ITER raises).
CC_MAX_ITER = 16

# The linking dictionary is the built-in table (fixtures.ABBREVIATIONS) on
# every host; ONTOKG_ABBREV_PATH names a file (the reference's 616-row
# legal-abbreviation list, say) that widens it.
_DEFAULT_ABBREV: Dict[Optional[str], Dict[str, str]] = {}


def default_abbreviations() -> Dict[str, str]:
    """The built-in dictionary, widened by the file ``ONTOKG_ABBREV_PATH``
    names when it exists.  The path is read at call time, so a deployment
    can set it after import; each path's table is cached (executors load
    the file once from local disk).  Logs which dictionary was loaded,
    since node merging differs between dictionaries."""
    path = os.environ.get("ONTOKG_ABBREV_PATH")
    if path not in _DEFAULT_ABBREV:
        import logging

        table = dict(ABBREVIATIONS)
        source = f"built-in ({len(table)} entries)"
        if path and os.path.exists(path):
            try:
                loaded = load_abbreviations(path)
                table.update(loaded)
                source = f"{path} ({len(loaded)} entries + built-ins)"
            except OSError:
                source += f" — {path} unreadable"
        logging.getLogger(__name__).info(
            "linking dictionary: %s -> %d total entries", source, len(table)
        )
        _DEFAULT_ABBREV[path] = table
    return _DEFAULT_ABBREV[path]


def _lower_table(table: Dict[str, str]) -> Dict[str, str]:
    return {k.lower(): v.lower() for k, v in table.items()}


def _abbrev_regex(lower_table: Dict[str, str]) -> str:
    """One alternation regex covering the whole dictionary — a single pass
    expands every entry (longest keys first so 'Cr.L.J.' wins over 'CJ')."""
    return (
        "(?<![a-z0-9])(?:"
        + "|".join(
            re.escape(k) for k in sorted(lower_table, key=len, reverse=True)
        )
        + ")(?![a-z0-9])"
    )


def normalize_identity(s: pd.Series, table: Dict[str, str]) -> pd.Series:
    """Vectorized: lowercase, expand abbreviations, strip commas, collapse
    whitespace.  One alternation regex covers the whole dictionary in a
    single pass, so a 508-entry file-widened table costs the same as the
    5-entry built-in."""
    lower = _lower_table(table)
    out = s.fillna("").str.lower().str.replace(",", " ", regex=False)
    if lower:
        out = out.str.replace(
            _abbrev_regex(lower), lambda m: lower[m.group(0)], regex=True
        )
    return out.str.replace(r"\s+", " ", regex=True).str.strip()


def normalize_identity_expr(col, table: Dict[str, str]):
    """JVM-side (whole-stage-codegen) equivalent of :func:`normalize_identity`
    over a lower-cased ``table`` — a chain of ``regexp_replace`` per
    abbreviation entry.  Right for SMALL dictionaries only (the expression
    tree grows per entry); :func:`normalize_identity_col` dispatches."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(F.lower(c), ",", " ")
    for k in sorted(table, key=len, reverse=True):
        out = F.regexp_replace(
            out, f"(?<![a-z0-9]){re.escape(k)}(?![a-z0-9])", table[k]
        )
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def normalize_identity_col(col, table: Dict[str, str]):
    """Best-plan dispatch for identity normalization: a JVM
    ``regexp_replace`` chain (whole-stage codegen, never leaves the JVM)
    while the dictionary is small, a single-pass Arrow-vectorized pandas UDF
    (one compiled alternation regex) once it is large — a 508-entry chain of
    JVM regexps is 508 passes over every identity string, the Arrow UDF is
    one."""
    if len(table) <= 50:
        return normalize_identity_expr(col, _lower_table(table))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return normalize_identity(s, table)

    return _norm(F.col(col) if isinstance(col, str) else col)


def _keylike_token(t: str) -> bool:
    """Abbreviation-key heuristic for space-separated rows: dotted ('dt.',
    'Bn.'), multi-uppercase ('LoB', 'MGNREGS'), or slashed ('SC/ST')."""
    return t.endswith(".") or sum(c.isupper() for c in t) >= 2 or "/" in t


def load_abbreviations(path: str) -> Dict[str, str]:
    """Load an external abbreviation table.  Accepts every shape in the
    reference's 616-row file — 'KEY - full form' / 'KEY- full form' /
    'KEY<TAB>- full form' (432 rows), tab / '=' / ':' separated lines, and
    plain space-separated 'KEY Expansion' rows (82 rows, e.g. 'dt. Date',
    'LS Lok Sabha') where the key is the longest prefix of key-like tokens
    (dotted / multi-uppercase / slashed — :func:`_keylike_token`).  Rows in
    none of these shapes (1 prose glossary row) are skipped."""
    out: Dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            flat = line.replace("\t", " ")
            m = re.match(r"^(.+?)\s+-\s+(.+)$", flat) or re.match(
                r"^(\S+)-\s+(.+)$", flat
            )
            if m:
                out[m.group(1).strip()] = m.group(2).strip()
                continue
            for sep in ("\t", "=", ":"):
                if sep in line:
                    k, v = line.split(sep, 1)
                    out[k.strip()] = v.strip()
                    break
            else:
                toks = line.split()
                i = 0
                while i < len(toks) and _keylike_token(toks[i]):
                    i += 1
                if i == len(toks) and len(toks) >= 2:
                    i = 1  # every token key-like: back off to KEY + value
                if 0 < i < len(toks):
                    out[" ".join(toks[:i])] = " ".join(toks[i:])
    return out


# ---------------------------------------------------------------------------
# column helpers
# ---------------------------------------------------------------------------


def canon_props_col(props_col):
    """Canonical bag: empty values dropped."""
    c = F.col(props_col) if isinstance(props_col, str) else props_col
    return F.map_filter(c, lambda k, v: v != F.lit(""))


def canon_str_col(canon_col):
    """Stable string form of a canonical bag (sorted k:v entries)."""
    c = F.col(canon_col) if isinstance(canon_col, str) else canon_col
    return F.concat_ws(
        "\x1f",
        F.sort_array(
            F.transform(
                F.map_entries(c),
                lambda e: F.concat(e.key, F.lit(":"), e.value),
            )
        ),
    )


def content_key(labels_str, canon):
    """THE content key: sha256 of ``labels_str || sorted canonical bag``.

    A mention's ``pre_key``, an edge endpoint's key and a consolidated
    node's ``node_key`` are all this one expression, so a stored node table
    re-enters the linker as its own mentions (reconcile_graph)."""
    return F.sha2(F.concat_ws("||", labels_str, canon_str_col(canon)), 256)


def pre_key_expr(labels_col, props_col):
    """Content key of one mention endpoint, computable as a pure expression
    on the assigned-triples row (no self-join needed to key edges)."""
    return content_key(F.concat_ws(",", labels_col), canon_props_col(props_col))


def identity_text_col(head_col: str, canon_col: str):
    """CourtCase identifies by hasCaseID (its constrained key); everything
    else by the full canonical bag values in key order."""
    case_id = F.element_at(F.col(canon_col), F.lit("hasCaseID"))
    bag = F.concat_ws(
        " ",
        F.transform(
            F.sort_array(F.map_entries(F.col(canon_col))), lambda e: e.value
        ),
    )
    return F.when(
        (F.col(head_col) == "CourtCase") & case_id.isNotNull(), case_id
    ).otherwise(bag)


# ---------------------------------------------------------------------------
# main entry
# ---------------------------------------------------------------------------


def mentions_frame(assigned: DataFrame) -> DataFrame:
    """Two mention rows per validated triple, with pre_key + identity.

    One explode over a per-row two-struct array instead of a two-branch
    union: the union compiled to TWO full scans of the checkpointed
    triple table (each branch its own 64-task pass over the cache), the
    explode to one — same row multiset (row order is immaterial; every
    consumer aggregates)."""
    m = assigned.select(
        "url",
        "triple_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(side).alias("side"),
                        F.col(f"node{side}_type").alias("head_label"),
                        F.col(f"node{side}_labels").alias("labels"),
                        F.col(f"node{side}_props").alias("props"),
                    )
                    for side in ("1", "2")
                ]
            )
        ).alias("_m"),
    ).select("url", "triple_id", "_m.side", "_m.head_label", "_m.labels", "_m.props")
    return keyed_nodes(m)


def keyed_nodes(rows: DataFrame) -> DataFrame:
    """+ canon, labels_str, pre_key (:func:`content_key`), identity over
    rows carrying (head_label, labels, props): the linker's view of a
    mention, or of a stored node (reconcile_graph)."""
    m = rows.withColumn("canon", canon_props_col("props"))
    m = m.withColumn("labels_str", F.concat_ws(",", "labels"))
    m = m.withColumn("pre_key", content_key("labels_str", "canon"))
    return m.withColumn("identity", identity_text_col("head_label", "canon"))


def cc_edges(pairs: DataFrame):
    """(sym, comp0) of :func:`connected_components`: the symmetric edge
    table (src, dst), cached and materialized hash-partitioned on ``src``
    into ``spark.sql.shuffle.partitions`` parts, and the round-0 comp
    table (pre_key, comp): each node's min over itself and its neighbours,
    an aggregate within that partitioning."""
    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    sym = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(n, "src")
        .cache()
    )
    # a cached table reports its partitioning once it is materialized: the
    # pair plan runs here, and no round plan shuffles sym again
    sym.write.format("noop").mode("overwrite").save()
    comp0 = sym.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("comp")
    ).withColumnRenamed("src", "pre_key")
    return sym, comp0


def cc_messages(sym: DataFrame, comp: DataFrame) -> DataFrame:
    """(pre_key, comp, old) messages of one round: each node's label to its
    neighbours (``old`` null) plus its own label (``old`` = it).  ``comp``
    comes hash-partitioned like ``sym`` (round 0 is an aggregate within
    sym's partitioning, a doubled table is re-keyed into it), so the join
    needs no Exchange of its own."""
    return sym.join(comp.hint("shuffle_hash"), sym["src"] == comp["pre_key"]).select(
        F.col("dst").alias("pre_key"), "comp", F.lit(None).cast("string").alias("old")
    ).unionByName(comp.select("pre_key", "comp", F.col("comp").alias("old")))


def connected_components(pairs: DataFrame) -> DataFrame:
    """(a, b) accepted pairs -> (pre_key, comp) with comp = min pre_key of
    the component, over the universe of pair endpoints, as a local
    checkpoint.  Driver-side loop over DataFrames; data never leaves the
    cluster.

    Convergence shape: min-label propagation WITH pointer doubling — every
    round after the first starts by shortcutting ``comp(k) ->
    comp(comp(k))``, so rounds are O(log diameter), not O(diameter).
    Round 0 is folded into the init step (:func:`cc_edges`).  A round whose
    propagation changes no label has reached the fixed point: labels are
    then constant on each component, and the component's min key always
    keeps its own label.

    Plan shape (the fixed-cost lever: under AQE every exchange is a Spark
    job): ``sym`` is cached hash-partitioned on the node key, and each
    round's comp table arrives hash-partitioned alike, so the message join
    (:func:`cc_messages`) adds no Exchange.  A round is the min aggregate
    and ONE action, a local checkpoint; the change flag rides the round's
    rows (``old`` vs the new comp) and an Observation counts it — no flag
    join, no count job.  Doubling costs the rounds that need it three
    exchanges.  Alias components are mostly stars around their min key,
    which round 0 already solves: one round of two jobs confirms it.
    Exiting via the iteration cap raises instead of silently returning
    inconsistent component ids."""
    from pyspark.sql import Observation

    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym, comp = cc_edges(pairs)
    try:
        for _ in range(CC_MAX_ITER):
            obs = Observation()
            labels = (
                cc_messages(sym, comp)
                .groupBy("pre_key")
                .agg(F.min("comp").alias("comp"), F.max("old").alias("old"))
                .observe(obs, F.sum((F.col("comp") != F.col("old")).cast("long")).alias("n"))
                .select("pre_key", "comp")
                .localCheckpoint()
            )
            if not obs.get["n"]:
                return labels
            # pointer doubling: comp values are themselves member pre_keys,
            # so one self-join hops each pointer to its parent's component
            parent = labels.select(
                F.col("pre_key").alias("p_key"), F.col("comp").alias("p_comp")
            )
            comp = (
                labels.join(parent, labels["comp"] == parent["p_key"], "left")
                .select("pre_key", F.coalesce("p_comp", "comp").alias("comp"))
                .repartition(n, "pre_key")
            )
    finally:
        sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ITER} doubling "
        f"rounds (component diameter > 2^{CC_MAX_ITER}) — raise CC_MAX_ITER"
    )


def bm25_adopt_pairs(tok: DataFrame) -> DataFrame:
    """R5 parity: the reference's BM25 linking stage as a DataFrame plan.

    ``merge_node`` builds a BM25 corpus of existing constrained-key strings
    and adopts the top-1 hit when its score exceeds 1 (utils.py:352-365,
    363-365: "score > 1 ⇒ adopt"; known-flaky on 1-3-doc corpora per the
    FIXME at utils.py:321-323 — tiny-N Robertson IDF goes ≤0, which this
    deterministic formula reproduces exactly, minus the library's RNG).

    Not the linker's accept rule (that is containment, :func:`link_nodes`):
    this is the reference's rule as an oracle-checked operator, so the
    divergence between the two stays measurable.

    Input ``tok``: a df-capped token index (labels_str, pre_key, token,
    df), the ``token`` rows of :func:`term_index` — candidates come from
    the rarest-token probe (:func:`probe_order`), so the plan is
    O(#nodes), never corpus×query.
    Score over shared tokens (set semantics ⇒ tf=1), with k1 =
    :data:`BM25_K1` and b = :data:`BM25_B`:

        Σ idf(t) · (k1+1) / (1 + k1·(1-b+b·|d|/avgdl)),
        idf(t) = ln(1 + (N-df+0.5)/(df+0.5))

    Returns the top-1 adopt pair per query node with score >
    :data:`BM25_ADOPT_THRESHOLD`:
    (a, b) ordered keys, symmetric-closed for CC consumption.  The adopt
    score is direction-dependent, so a pair reachable from both sides keeps
    its MAX score (deterministic).  Scores round to
    :data:`BM25_SCORE_DECIMALS` BEFORE ranking/thresholding — float sums
    are order-dependent across engines, and a ULP-level difference must
    not flip a top-1 rank between engines (the oracle rounds the same)."""
    # per-block corpus stats: N, avgdl; per-doc length |d|
    sizes = tok.groupBy("labels_str", "pre_key").agg(
        F.count("*").alias("dl")
    )
    block = sizes.groupBy("labels_str").agg(
        F.count("*").alias("N"), F.avg("dl").alias("avgdl")
    )
    idf = (
        tok.select("labels_str", "token", "df")
        .distinct()
        .join(F.broadcast(block), "labels_str")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    # candidates: the containment probe, kept directed (the score is the
    # query's)
    cand = (
        rarest_token_pairs(tok)
        .select("labels_str", "q", "d")
        .distinct()
    )
    qa = tok.select("labels_str", F.col("pre_key").alias("q"), "token")
    da = tok.select("labels_str", F.col("pre_key").alias("d"), "token")
    shared = cand.join(qa, ["labels_str", "q"]).join(
        da, ["labels_str", "d", "token"]
    )
    scored = (
        shared.join(idf.select("labels_str", "token", "idf", "avgdl"),
                    ["labels_str", "token"])
        .join(
            sizes.select(
                "labels_str", F.col("pre_key").alias("d"), "dl"
            ),
            ["labels_str", "d"],
        )
        .withColumn(
            "term",
            F.col("idf")
            * (BM25_K1 + 1.0)
            / (
                1.0
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("labels_str", "q", "d")
        .agg(F.round(F.sum("term"), BM25_SCORE_DECIMALS).alias("score"))
    )
    # top-1 by (score DESC, d ASC) == struct MIN over (-score, d): score
    # negation is exact for doubles, so ordering and ties reproduce the
    # window exactly (the bm25_adopt oracle pins both)
    top1 = (
        scored.groupBy("q")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), "d")).alias("m"))
        .select("q", F.col("m.d").alias("d"), (-F.col("m.ns")).alias("score"))
    )
    return (
        top1.filter(F.col("score") > BM25_ADOPT_THRESHOLD)
        .select(
            F.least("q", "d").alias("a"),
            F.greatest("q", "d").alias("b"),
            "score",
        )
        .groupBy("a", "b")
        .agg(F.max("score").alias("score"))
    )


# property keys that mark a node as a PERSON name.  The default-on semantic
# refine excludes these labels: distributional similarity over person names
# conflates role-mates — measured on the fixture corpus, two DIFFERENT
# judges ("A. Deshmukh" / "V. Raghavan") embed at cosine 1.000 because
# their surnames occupy byte-identical contexts, and the same holds for
# witnesses and investigators.  Person aliasing in this engine is lexical
# (abbreviation table + containment: "Deshmukh, J." ⊂ "A. Deshmukh").
PERSON_PROP_KEYS = (
    "firstName", "lastName",
    "COFirstName", "COLastName",
    "wFirstName", "wLastName",
    "hasPolicePersonnelName",
)


def fuzzy_eligible(props: str, exclude_person_props: bool = False):
    """Which nodes a fuzzy pass may merge — deterministic stand-ins for the
    reference's human gate.  A CourtCase identifies by its
    uniqueness-constrained key (hasCaseID, utils.py:176-199) and never
    fuzzy-merges; with ``exclude_person_props`` neither does a node whose
    ``props`` map carries a :data:`PERSON_PROP_KEYS` key."""
    ok = F.col("head_label") != "CourtCase"
    if exclude_person_props:
        ok = ok & ~F.arrays_overlap(
            F.map_keys(F.col(props)),
            F.array(*[F.lit(k) for k in PERSON_PROP_KEYS]),
        )
    return ok


def numeral_tokens(tokens):
    """Sorted numeral tokens of a token array: the numeral guard's key."""
    return F.sort_array(F.filter(tokens, lambda t: t.rlike("[0-9]")))


def fuzzy_nodes(linkable: DataFrame) -> DataFrame:
    """(labels_str, pre_key, norm_identity, num_toks) of the
    :func:`fuzzy_eligible` nodes, person-prop nodes excluded; ``num_toks``
    (:func:`numeral_tokens`) feeds :func:`numeral_guard`."""
    return linkable.filter(
        fuzzy_eligible("props", exclude_person_props=True)
    ).select(
        "labels_str",
        "pre_key",
        "norm_identity",
        numeral_tokens(F.col("tokens")).alias("num_toks"),
    )


def numerals_match():
    """The numeral guard over endpoint columns ``num_toks_a`` /
    ``num_toks_b``: both endpoints carry equal numeral tokens — Section 302
    != Section 304, even at cosine 0.89."""
    return F.col("num_toks_a") == F.col("num_toks_b")


def numeral_guard(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(a, b) pairs whose endpoints pass :func:`numerals_match` over
    ``nodes`` (pre_key, num_toks, ...)."""
    def side(end: str) -> DataFrame:
        return nodes.select(
            F.col("pre_key").alias(end), F.col("num_toks").alias(f"num_toks_{end}")
        )

    return pairs.join(side("a"), "a").join(side("b"), "b").filter(numerals_match())


def refine_pairs_semantic(
    linkable: DataFrame, embedder, attest: DataFrame
) -> DataFrame:
    """The reference-SHAPED refine pass with a pluggable embedding model
    (``refine_nodes.py:27-96``: real-model ANN kNN + gate): embed each
    node's normalized identity, generate candidates with the SRP-LSH band
    join (the engine's ANN primitive, :data:`SEMANTIC_LSH_BITS` bits in
    bands of :data:`SEMANTIC_BAND_BITS` — blocked by label set, exactly the
    reference's labels-equal merge guard, utils.py:681-688), accept at
    exact cosine >= :data:`SEMANTIC_THRESHOLD`, behind the gates of the
    lexical refine of :func:`lexical_pairs` (no CourtCase,
    :func:`numeral_guard`) and two more.

    ``embedder``: ``df(pre_key, norm_identity) -> df(pre_key, embedding
    array<float/double>)`` — :func:`embedding.train_corpus_embedder`
    (corpus-trained PPMI-SVD, the in-repo REAL model) or any vendored
    encoder behind :func:`embedding.dict_embedder`;
    :func:`similarity.hashing_feature_vectors` remains the deterministic
    lexical instance (used by the parity test).  This is the operator that
    closes the semantic-alias gap ("Apex Court" == "Supreme Court of
    India") — exercised end-to-end by test_embedding.

    The two more are deterministic stand-ins for the reference's LLM +
    human merge gate, justified by measurement (BENCH/BASELINE.md
    semantic-refine section):

    - person-prop exclusion (:func:`fuzzy_nodes`): distinct
      judges/witnesses embed at cosine 1.000 on templated corpora
      (role-twin conflation);
    - ``attest``: a (url, pre_key) mention table; a pair is accepted only
      if some document mentions BOTH identities (aliases are used
      interchangeably WITHIN documents — "the Apex Court ... the Supreme
      Court of India held"; sibling entities like "Madras High Court" /
      "Bombay High Court" embed at cosine 1.000 but are never attested).
      The co-mention join is per-url over candidate mentions only —
      O(docs x mentions-per-doc²) worst case, bounded like the chunk
      window join, never corpus-quadratic."""
    from .similarity import cosine_neardup_pairs_lsh

    base = fuzzy_nodes(linkable)
    emb = embedder(base.select("pre_key", "norm_identity"))
    joined = base.select("labels_str", "pre_key").join(emb, "pre_key")
    pairs = cosine_neardup_pairs_lsh(
        joined,
        threshold=SEMANTIC_THRESHOLD,
        id_col="pre_key",
        vec_col=emb.columns[-1],
        block_col="labels_str",
        bits=SEMANTIC_LSH_BITS,
        band_bits=SEMANTIC_BAND_BITS,
    )
    accepted = numeral_guard(pairs, base).select("a", "b")
    # co-mention attestation: restrict the mention table to candidate
    # endpoints first (few — LSH-banded + cosine-accepted), then build
    # per-url co-mention pairs; volume is Σ_url (candidate mentions)²,
    # tiny, never the corpus-wide mention square
    cand_keys = (
        accepted.select(F.col("a").alias("pre_key"))
        .unionByName(accepted.select(F.col("b").alias("pre_key")))
        .distinct()
    )
    m = (
        attest.select("url", "pre_key")
        .join(cand_keys, "pre_key", "left_semi")
        .distinct()
    )
    co = (
        m.select("url", F.col("pre_key").alias("a"))
        .join(m.select("url", F.col("pre_key").alias("b")), "url")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return accepted.join(co, ["a", "b"], "left_semi")


def probe_order(df, term, labels_str):
    """The rarity order every probe ranks its terms by: (df, term,
    labels_str).  A rank-1 (or top-k) selection under it is a struct MIN
    (or a sorted slice) — map-side combinable, no full-sort window over
    the token or gram table."""
    return F.struct(df.alias("df"), term.alias("term"), labels_str.alias("labels_str"))


def rarest_token_pairs(tok: DataFrame) -> DataFrame:
    """Directed (labels_str, q, d) pairs of the rarest-token probe over
    a df-capped token index (labels_str, pre_key, token, df): each node
    ``q`` probes the index with its single rarest surviving token
    (:func:`probe_order`) and meets every other node ``d`` of its label
    block holding it.  Tokens are per-node distinct (array_except is a set
    op), so no ties beyond the token ordering.  :func:`bm25_adopt_pairs`'
    candidates; the linker's containment probe is the same selection,
    taken in :func:`node_terms`."""
    probe = (
        tok.groupBy("pre_key")
        .agg(F.min(probe_order(*map(F.col, ("df", "token", "labels_str")))).alias("m"))
        .select(
            F.col("m.labels_str").alias("labels_str"),
            F.col("m.term").alias("token"),
            F.col("pre_key").alias("q"),
        )
    )
    return probe.join(
        tok.select("labels_str", "token", F.col("pre_key").alias("d")),
        ["labels_str", "token"],
    ).filter(F.col("q") != F.col("d"))


def tokenized_node_frame(
    with_identity: DataFrame, abbrevs: Optional[Dict[str, str]] = None
) -> DataFrame:
    """+ norm_identity, tokens over a node frame carrying (labels_str,
    head_label, pre_key, props, identity, labels), eagerly checkpointed —
    the input shape of :func:`link_nodes`.  ``abbrevs`` replaces the
    linking dictionary (:func:`default_abbreviations`)."""
    table = abbrevs if abbrevs is not None else default_abbreviations()
    return (
        with_identity
        # identity normalization: JVM regexp chain for small dictionaries,
        # single-pass Arrow UDF for a large file-widened one (see
        # normalize_identity_col)
        .withColumn("norm_identity", normalize_identity_col("identity", table))
        .withColumn(
            "tokens",
            F.array_except(
                F.split(F.col("norm_identity"), " "),
                F.array(*[F.lit(t) for t in STOP_TOKENS]),
            ),
        )
        # eager checkpoint: the frame has five downstream consumers; one
        # deterministic materialization job, no recomputation cascades
        .localCheckpoint()
    )


def probe_numerals(kind, num_toks):
    """The numeral part of a probe's join key: a gram (refine) probe only
    meets nodes whose numeral tokens equal its own — the numeral guard,
    applied before a candidate exists; token (containment) probes carry
    none."""
    return F.when(kind == "gram", num_toks).otherwise(F.array().cast("array<string>"))


def term_index(linkable: DataFrame) -> DataFrame:
    """(labels_str, pre_key, kind, term, num, df): the df-capped inverted
    index of both lexical passes, df counted per label block and kind;
    ``num`` is :func:`probe_numerals`.

    - kind ``token``: every linkable node's tokens with df <= MAX_TOKEN_DF.
      Frequent tokens ("criminal", "appeal", court names) leave the index
      entirely — they would otherwise build quadratic candidate blocks.
    - kind ``gram``: the distinct char-3grams of each :func:`fuzzy_eligible`
      node's normalized identity, df band [2, MAX_TOKEN_DF]: a df=1 gram
      can only ever match its own node, useless as probe and as entry.

    One explode and one df aggregate serve both kinds."""
    ident = F.col("norm_identity")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(ident) - 2, F.lit(1))),
            lambda i: ident.substr(i, F.lit(3)),
        )
    )

    def tagged(arr, kind: str):
        return F.transform(
            arr, lambda t: F.struct(F.lit(kind).alias("kind"), t.alias("term"))
        )

    fuzzy = fuzzy_eligible("props")
    terms = linkable.select(
        "labels_str",
        "pre_key",
        F.explode(
            F.concat(
                tagged(F.col("tokens"), "token"),
                F.filter(tagged(grams, "gram"), lambda _: fuzzy),
            )
        ).alias("t"),
        numeral_tokens(F.col("tokens")).alias("num_toks"),
    ).select(
        "labels_str", "pre_key", "t.kind", "t.term",
        probe_numerals(F.col("t.kind"), F.col("num_toks")).alias("num"),
    )
    df = terms.groupBy("labels_str", "kind", "term").agg(F.count("*").alias("df"))
    floor = F.when(F.col("kind") == "gram", 2).otherwise(1)
    return terms.join(
        df.filter((F.col("df") >= floor) & (F.col("df") <= MAX_TOKEN_DF)),
        ["labels_str", "kind", "term"],
    )


def node_terms(linkable: DataFrame, index: DataFrame) -> DataFrame:
    """The per-node side table of the lexical passes: (labels_str, pre_key,
    toks, probes, norm_identity, num_toks), one aggregate over the
    :func:`term_index` rows plus one row per node.

    - ``toks``: the node's df-capped tokens (containment is decided on
      these sets);
    - ``probes``: (kind, term) — the containment probe, the node's single
      rarest surviving token, then the refine probes, its REFINE_PROBES
      rarest grams among those with df <= PROBE_DF_CAP (:func:`probe_order`).

    Containment A ⊆ B implies A's rarest token is in B's set, so the token
    probe is recall-exact over df-capped token sets while candidate volume
    drops from Σ df² (symmetric self-join) to Σ df(rarest) ≈ O(#nodes).
    PROBE_DF_CAP bounds the refine volume HARD: candidates <= REFINE_PROBES
    x PROBE_DF_CAP per node no matter how pathological the corpus.  A node
    with no gram under the cap has no DISTINCTIVE substring at all — a
    typo/reorder alias of a distinctive identity always shares the rare
    grams of its distinctive region, which is what the refine exists for;
    non-distinctive near-identical bags are containment's and the semantic
    pass's job.  Measured on the 200k-node adversarial frame
    (scripts/skew_bench.py): uncapped probes generated 155M candidates
    (777/node, 394 s refine); the cap holds the same fixture recall with
    candidates bounded at 192/node.

    Everything per node is derived from one collected term list, so every
    consumer of this table prunes it to the same aggregate and shares its
    exchange."""
    none = F.lit(None)
    rows = index.select(
        "labels_str", "pre_key",
        F.struct("kind", "df", "term").alias("t"),
        none.cast("string").alias("norm_identity"),
        none.cast("array<string>").alias("num_toks"),
    ).unionByName(
        linkable.select(
            "labels_str", "pre_key",
            none.cast("struct<kind:string,df:bigint,term:string>").alias("t"),
            "norm_identity",
            numeral_tokens(F.col("tokens")).alias("num_toks"),
        )
    )
    side = rows.groupBy("labels_str", "pre_key").agg(
        F.collect_list("t").alias("terms"),
        F.max("norm_identity").alias("norm_identity"),
        F.max("num_toks").alias("num_toks"),
    )

    def ranked(pred):
        return F.transform(
            F.filter("terms", pred),
            lambda t: probe_order(t.df, t.term, F.col("labels_str")),
        )

    def probe(kind: str, term):
        return F.struct(F.lit(kind).alias("kind"), term.alias("term"))

    token = F.filter("terms", lambda t: t.kind == "token")
    rarest = F.array_min(ranked(lambda t: t.kind == "token"))
    grams = F.slice(
        F.array_sort(ranked(lambda t: (t.kind == "gram") & (t.df <= PROBE_DF_CAP))),
        1,
        REFINE_PROBES,
    )
    return side.select(
        "labels_str",
        "pre_key",
        F.transform(token, lambda t: t.term).alias("toks"),
        F.concat(
            F.filter(F.array(probe("token", rarest.term)), lambda p: p.term.isNotNull()),
            F.transform(grams, lambda g: probe("gram", g.term)),
        ).alias("probes"),
        "norm_identity",
        "num_toks",
    )


def candidate_pairs(side: DataFrame, index: DataFrame, *cols: str) -> DataFrame:
    """Directed (labels_str, a, b, kind) candidates + the probing node's
    ``cols``, suffixed ``_a``: each node ``a`` of :func:`node_terms` probes
    :func:`term_index` with its probes and meets every other node ``b`` of
    its label block holding the term — the label block is the reference's
    labels-equal merge guard (``merge_by_id``, utils.py:681-688).  A
    ``token`` candidate is verified by containment, a ``gram`` candidate
    by the refine (:func:`lexical_pairs`)."""
    probes = side.select(
        "labels_str",
        F.col("pre_key").alias("a"),
        "num_toks",
        *[F.col(c).alias(f"{c}_a") for c in cols],
        F.explode("probes").alias("p"),
    ).select(
        "*", "p.kind", "p.term",
        probe_numerals(F.col("p.kind"), F.col("num_toks")).alias("num"),
    ).drop("p", "num_toks")
    return (
        probes.join(
            index.select("labels_str", "kind", "term", "num", F.col("pre_key").alias("b")),
            ["labels_str", "kind", "term", "num"],
        )
        .filter(F.col("a") != F.col("b"))
        .drop("term", "num")
    )


def lexical_pairs(linkable: DataFrame) -> DataFrame:
    """Accepted (a, b, kind) pairs (a < b) of the two lexical passes,
    verified in ONE pass: the probing endpoint's side row rides its probes,
    the other endpoint's is one join away.  Pairs may repeat; connected
    components does not care.

    - ``token`` (containment): the smaller df-capped token set is fully
      contained in the larger — the deterministic analog of "BM25 top-1
      score > 1 ⇒ adopt" (utils.py:363-365); recall-exact under the cap.
    - ``gram`` (R2, the similarity-driven refine of refine_nodes.py:27-96:
      per-node ANN kNN + LLM + human gate): hashing-TF cosine over the
      NORMALIZED identity (word + char-3gram, so token reorders and small
      typos score high) >= REFINE_THRESHOLD between nodes with equal
      numeral tokens (:func:`probe_numerals`).
      The gram index approximates the reference's ANN index (both are
      recall-approximate by design); 0.75 plays the role of the reference's
      0.6-on-a-semantic-model + human gate: true aliases (token reorders
      ~0.84, typos ~0.94) merge while sibling entities ("Madras"/"Bombay
      High Court" ~0.67) never do.  Only fuzzy-eligible nodes hold grams,
      so a CourtCase never fuzzy-merges.  The vectors are computed in the
      verify pass, for the candidates that pass every other test: Python
      work is bounded by candidate volume, not corpus size."""
    from .similarity import hashing_cosine

    cols = ("toks", "norm_identity", "num_toks")
    index = term_index(linkable)
    side = node_terms(linkable, index)
    b_side = side.select(
        "labels_str",
        F.col("pre_key").alias("b"),
        *[F.col(c).alias(f"{c}_b") for c in cols],
    )
    pairs = candidate_pairs(side, index, *cols).join(b_side, ["labels_str", "b"])
    token = F.col("kind") == "token"
    contained = F.size(F.array_intersect("toks_a", "toks_b")) == F.least(
        F.size("toks_a"), F.size("toks_b")
    )
    # numerals_match restates the gram probe's join key (probe_numerals);
    # it also keeps every reader of the side table on the same columns,
    # so they prune it to one aggregate and share its exchange
    return (
        pairs.filter((token & contained) | (~token & numerals_match()))
        .filter(
            token
            | (
                hashing_cosine(F.col("norm_identity_a"), F.col("norm_identity_b"))
                >= REFINE_THRESHOLD
            )
        )
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), "kind")
    )


def build_graph(
    assigned: DataFrame,
    corpus: Optional[DataFrame] = None,
    semantic_auto_min_docs: int = 1_000,
) -> Dict[str, DataFrame]:
    """assigned triples -> {nodes, edges, mapping}.

    nodes  : node_key, head_label, labels array, props map (canonical)
    edges  : src_key, relationship, dst_key, url, span_start, triple_id
    mapping: pre_key -> node_key

    Linking policy (module constants): containment over the df-capped
    token index, then the lexical refine.  The linking dictionary is
    :func:`default_abbreviations` (``ONTOKG_ABBREV_PATH`` widens it).

    ``corpus``: the semantic refine (the reference ALWAYS runs its
    embedding refine, refine_nodes.py:27-96).  When a corpus (a frame with
    a ``text`` column) of at least ``semantic_auto_min_docs`` documents is
    given, a PPMI-SVD embedder is trained on a deterministic hash-sample of
    at most SEMANTIC_MAX_DOCS documents and :func:`refine_pairs_semantic`
    runs at the reference's 0.6 gate (SEMANTIC_THRESHOLD) WITH its two
    deterministic gate stand-ins (person-prop exclusion + co-mention
    attestation) — the reference backs its 0.6 gate with an LLM + human
    check; unattested distributional cosine alone conflates role-twins and
    sibling entities at cosine 1.000 (measured, BENCH/BASELINE.md).  The
    floor exists because vocab quality needs data; the cap bounds training
    cost at web scale (the model converges on a sample — training on every
    document of a 100 TB corpus buys nothing).  This is what merges
    LEXICALLY DISJOINT aliases ("Apex Court" == "Supreme Court of India").
    """
    mentions = mentions_frame(assigned)

    semantic_embedder = semantic_attest = None
    if corpus is not None:
        n_docs = corpus.count()
        if n_docs >= semantic_auto_min_docs:
            from .embedding import train_corpus_embedder

            # sample key: a source-key column (url) when the corpus has
            # one, else the text itself.  Hashing the KEY (not the text)
            # lets Catalyst push the sample filter BELOW the extraction
            # projection, so only the <=20k sampled documents ever pay
            # the html->text decode — hashing the text would force a
            # full-corpus extraction pass just to pick the sample.
            sample_key = "url" if "url" in corpus.columns else "text"
            sampled = corpus
            if n_docs > SEMANTIC_MAX_DOCS:
                k = -(-n_docs // SEMANTIC_MAX_DOCS)  # ceil
                sampled = sampled.filter(
                    F.pmod(F.xxhash64(sample_key), F.lit(k)) == 0
                )
            semantic_embedder = train_corpus_embedder(
                sampled.select("text").localCheckpoint()
            )
            # attest scan pre-filter: a mention's pre_key can match a
            # semantic candidate only if its node passed the candidate
            # gate, and a node's props ARE its mentions' canon, so the
            # gate's own predicate over the mention keeps exactly the
            # matchable rows — dropping most of the 2-per-triple mention
            # stream before the distinct exchange (the downstream join is
            # a left_semi against those candidates)
            semantic_attest = mentions.filter(
                fuzzy_eligible("canon", exclude_person_props=True)
            ).select("url", "pre_key")

    nodes0 = tokenized_node_frame(
        mentions.groupBy("labels_str", "head_label", "pre_key").agg(
            F.first("canon", ignorenulls=True).alias("props"),
            F.first("identity", ignorenulls=True).alias("identity"),
            F.first("labels", ignorenulls=True).alias("labels"),
        )
    )

    linked = link_nodes(nodes0, semantic_embedder, semantic_attest)
    nodes_final, mapping = linked["nodes"], linked["mapping"]

    # edge endpoints keyed by pure expressions on the triple row — no
    # mention self-joins on the hot path, only the two mapping joins.
    # mentions_frame emits both endpoints of every row, so every endpoint
    # is mapped and the rewire's fall-back never fires here
    edges = rewire_edges(
        assigned.select(
            "url",
            "span_start",
            "triple_id",
            "relationship",
            pre_key_expr(F.col("node1_labels"), F.col("node1_props")).alias(
                "src_key"
            ),
            pre_key_expr(F.col("node2_labels"), F.col("node2_props")).alias(
                "dst_key"
            ),
        ),
        mapping,
    )
    return {"nodes": nodes_final, "edges": edges, "mapping": mapping}


def link_nodes(
    nodes0: DataFrame,
    semantic_embedder=None,
    semantic_attest: Optional[DataFrame] = None,
) -> Dict[str, DataFrame]:
    """The linking + consolidation core over a tokenized node frame
    (:func:`tokenized_node_frame`) -> {nodes, mapping}, both narrow
    projections of ONE materialized consolidated frame
    (:func:`consolidate`): reading either, or rewiring edges through the
    mapping, never re-runs linking or consolidation.

    ``semantic_embedder`` and ``semantic_attest``: the trained model and
    the (url, pre_key) mention table of :func:`build_graph`'s semantic
    refine; without an embedder only the lexical passes run.

    Shared by :func:`build_graph` (mention-level frame) and the periodic
    cross-batch reconcile (stored node tables re-linked — node_key and
    pre_key are both :func:`content_key`, so stored nodes re-enter the
    linker as their own mentions; streaming/ingest.reconcile_graph)."""
    # fuzzy linking only for entity-like nodes (not free-text nodes)
    linkable = nodes0.filter(
        ~(
            (F.size(F.map_keys(F.col("props"))) == 1)
            & (F.element_at(F.map_keys(F.col("props")), 1) == "text")
        )
        & (F.size("tokens") > 0)
    )
    pairs = lexical_pairs(linkable).select("a", "b")

    # semantic refine (see build_graph ``corpus``): the same gates as the
    # lexical refine but over MODEL embeddings, so lexically-disjoint
    # aliases with shared contexts also pair
    if semantic_embedder is not None:
        pairs = pairs.unionByName(
            refine_pairs_semantic(linkable, semantic_embedder, semantic_attest)
        )

    # CC runs only over nodes that appear in an accepted pair (a tiny
    # fraction of the corpus); every other node is its own component.  The
    # pair plan runs once, inside CC's cached symmetric edge table.
    cons = consolidate(nodes0, connected_components(pairs))
    return {
        "nodes": cons.select("node_key", "head_label", "labels", "props"),
        "mapping": cons.select(F.explode("members").alias("pre_key"), "node_key"),
    }


def consolidate(nodes0: DataFrame, comp: DataFrame) -> DataFrame:
    """Nodes + their (pre_key, comp) components -> (node_key, head_label,
    labels, props, members), one row per node_key, locally checkpointed.

    Per component per property the longest non-empty value wins
    (deterministic stand-in for "adopt the stored value", which in a batch
    engine has no temporal order); ``node_key`` is content-derived from
    the consolidated bag, so reruns and resumes are idempotent.

    Labels come from the component's representative row, its min pre_key
    (which is ``comp``): every pair source blocks on labels_str, so a
    component never crosses label sets (test_linking::
    test_pair_sources_never_cross_label_blocks).  Two components may still
    consolidate to one node_key: nodes the linker never pairs (free-text
    and token-less nodes) with equal bags under different stored keys.
    They become one node whose ``members`` hold both components.

    Plan shape: one exchange on ``comp`` serves the property aggregates,
    the metadata aggregate and their join; one on ``node_key`` merges
    duplicate keys."""
    member = (
        nodes0.join(comp, "pre_key", "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("pre_key")))
        .repartition("comp")
    )
    entries = (
        member.select("comp", F.explode(F.map_entries("props")).alias("e"))
        .select("comp", F.col("e.key").alias("pkey"), F.col("e.value").alias("pval"))
        .filter(F.col("pval") != "")
        .groupBy("comp", "pkey")
        .agg(
            F.expr(
                "max_by(pval, struct(length(pval) as l, pval as v))"
            ).alias("pval")
        )
    )
    props = entries.groupBy("comp").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pkey", "pval")))
        ).alias("props")
    )
    meta = member.groupBy("comp").agg(
        F.min(F.struct("pre_key", "labels_str", "labels", "head_label")).alias("rep"),
        F.collect_list("pre_key").alias("members"),
    )
    nodes = (
        meta.join(props, "comp", "left")
        .select(
            "members",
            "rep.labels_str",
            "rep.head_label",
            F.coalesce("rep.labels", F.array().cast("array<string>")).alias("labels"),
            F.coalesce(F.col("props"), F.expr("map()")).alias("props"),
        )
        .withColumn("node_key", content_key("labels_str", "props"))
    )
    # equal node_keys mean equal labels_str and bags: first(props) is exact
    return (
        nodes.groupBy("node_key")
        .agg(
            F.min(F.struct("head_label", "labels")).alias("m"),
            F.first("props").alias("props"),
            F.flatten(F.collect_list("members")).alias("members"),
        )
        .select("node_key", "m.head_label", "m.labels", "props", "members")
        .localCheckpoint()
    )


def rewire_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Edges keyed by (src_key, dst_key) -> the same edges with each
    endpoint moved through ``mapping`` (pre_key -> node_key).

    LEFT joins with a fall-back to the original key: an endpoint missing
    from the mapping keeps its key instead of dropping the edge.  That is
    what makes the reconcile crash window self-heal (reconcile_graph):
    edges already on final keys pass through a later rewire unchanged."""
    def side(end: str) -> DataFrame:
        return mapping.select(
            F.col("pre_key").alias(f"{end}_key"),
            F.col("node_key").alias(f"new_{end}"),
        )

    return (
        edges.join(side("src"), "src_key", "left")
        .join(side("dst"), "dst_key", "left")
        .select(
            F.coalesce("new_src", "src_key").alias("src_key"),
            "relationship",
            F.coalesce("new_dst", "dst_key").alias("dst_key"),
            "url",
            "span_start",
            "triple_id",
        )
    )


def triple_set(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Final canonical (subj_label, subj_props, pred, obj_label, obj_props)
    view — the comparator form (FIXTURES.md §2; mirrors get_graph,
    utils.py:582-600)."""
    s = nodes.select(
        F.col("node_key").alias("src_key"),
        F.col("head_label").alias("subj_label"),
        F.col("props").alias("subj_props"),
    )
    o = nodes.select(
        F.col("node_key").alias("dst_key"),
        F.col("head_label").alias("obj_label"),
        F.col("props").alias("obj_props"),
    )
    # map columns can't feed set ops — dedupe on the content keys instead
    return (
        edges.join(s, "src_key")
        .join(o, "dst_key")
        .dropDuplicates(["src_key", "relationship", "dst_key"])
        .select(
            "subj_label",
            "subj_props",
            F.col("relationship").alias("pred"),
            "obj_label",
            "obj_props",
        )
    )
