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
   tools.py:1-7 over /root/reference/Abbrevations).
3. Candidate pairs via a token inverted index *within identical label sets*
   (the ``merge_by_id`` label-equality guard): two nodes pair when the smaller
   token set is fully contained in the larger — the deterministic analog of
   "BM25 top-1 score > 1 ⇒ adopt" (utils.py:363-365) and of the kNN-0.6 gate.
   Nodes whose only property is free ``text`` never fuzzy-link (the human gate
   would reject merging prose nodes).
4. Skew/scale controls: tokens with document frequency above ``MAX_TOKEN_DF``
   are dropped from the index (head tokens like "state" would otherwise build
   quadratic candidate blocks — this is the salting discipline for the
   head-entity hot keys), and pair generation is bounded per token.
5. Connected components over accepted pairs — iterative min-key propagation on
   DataFrames (alternating rounds with localCheckpoint), no GraphFrames
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
# with df <= PROBE_DF_CAP; accept at hashing-TF (REFINE_DIM) cosine >=
# REFINE_THRESHOLD.
REFINE_THRESHOLD = 0.75
REFINE_PROBES = 3
PROBE_DF_CAP = 64
REFINE_DIM = 256
# Semantic refine: the reference's 0.6 gate, over an embedder trained on a
# hash-sample of at most SEMANTIC_MAX_DOCS corpus documents.
SEMANTIC_THRESHOLD = 0.6
SEMANTIC_MAX_DOCS = 20_000

# The reference ships a 616-row legal-abbreviation file
# (/root/reference/Abbrevations; surfaced through the stub tool at
# kg_creator/src/tools.py:1-7).  When the file is present it becomes the
# DEFAULT linking dictionary; the 5-entry built-in remains the hermetic
# fallback (and the unit-test dictionary).
DEFAULT_ABBREV_PATH = "/root/reference/Abbrevations"

_DEFAULT_ABBREV: Dict[str, Dict[str, str]] = {}


def _abbrev_path() -> str:
    # resolved at CALL time (not import time) so tests / deployments can
    # repoint ONTOKG_ABBREV_PATH after the module is imported
    return os.environ.get("ONTOKG_ABBREV_PATH", DEFAULT_ABBREV_PATH)


def default_abbreviations() -> Dict[str, str]:
    """Built-in dictionary widened by the reference's abbreviation file when
    it exists (cached per resolved path — executors load it once from local
    disk).  Logs which dictionary was loaded, since node merging differs
    between hosts with and without the file."""
    path = _abbrev_path()
    if path not in _DEFAULT_ABBREV:
        import logging

        table = dict(ABBREVIATIONS)
        source = f"built-in ({len(table)} entries)"
        if os.path.exists(path):
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


def normalize_identity(
    s: pd.Series, table: Optional[Dict[str, str]] = None
) -> pd.Series:
    """Vectorized: lowercase, expand abbreviations, strip commas, collapse
    whitespace.  One alternation regex covers the whole dictionary in a
    single pass, so the 508-entry default costs the same as the 5-entry
    test dictionary."""
    lower = _lower_table(table if table is not None else default_abbreviations())
    out = s.fillna("").str.lower().str.replace(",", " ", regex=False)
    if lower:
        out = out.str.replace(
            _abbrev_regex(lower), lambda m: lower[m.group(0)], regex=True
        )
    return out.str.replace(r"\s+", " ", regex=True).str.strip()


def normalize_identity_expr(col, abbrevs: Dict[str, str] | None = None):
    """JVM-side (whole-stage-codegen) equivalent of :func:`normalize_identity`
    — a chain of ``regexp_replace`` per abbreviation entry.  Right for SMALL
    dictionaries only (the expression tree grows per entry); use
    :func:`normalize_identity_col` to auto-dispatch.  The default table is
    the SAME as its siblings' (:func:`default_abbreviations`) — pass the
    small test dictionary explicitly when you want the 5-entry built-in."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(F.lower(c), ",", " ")
    table = (
        abbrevs if abbrevs is not None else _lower_table(default_abbreviations())
    )
    for k in sorted(table, key=len, reverse=True):
        out = F.regexp_replace(
            out, f"(?<![a-z0-9]){re.escape(k)}(?![a-z0-9])", table[k]
        )
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def normalize_identity_col(col, table: Optional[Dict[str, str]] = None):
    """Best-plan dispatch for identity normalization: a JVM
    ``regexp_replace`` chain (whole-stage codegen, never leaves the JVM)
    while the dictionary is small, a single-pass Arrow-vectorized pandas UDF
    (one compiled alternation regex) once it is large — a 508-entry chain of
    JVM regexps is 508 passes over every identity string, the Arrow UDF is
    one."""
    table = table if table is not None else default_abbreviations()
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


def pre_key_expr(labels_col, props_col):
    """Content key of one mention endpoint, computable as a pure expression
    on the assigned-triples row (no self-join needed to key edges)."""
    labels_str = F.concat_ws(",", labels_col)
    return F.sha2(
        F.concat_ws("||", labels_str, canon_str_col(canon_props_col(props_col))),
        256,
    )


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
    m = m.withColumn("canon", canon_props_col("props"))
    m = m.withColumn("labels_str", F.concat_ws(",", "labels"))
    m = m.withColumn(
        "pre_key",
        F.sha2(F.concat_ws("||", F.col("labels_str"), canon_str_col("canon")), 256),
    )
    m = m.withColumn("identity", identity_text_col("head_label", "canon"))
    return m


def connected_components(pairs: DataFrame, max_iter: int = 16) -> DataFrame:
    """(a, b) accepted pairs -> (pre_key, comp) with comp = min pre_key of
    the component, over the universe of pair endpoints.  Driver-side loop
    over DataFrames; data never leaves the cluster.

    Convergence shape (the fixed-overhead lever at scale): min-label
    propagation WITH pointer doubling — each round also shortcuts
    ``comp(k) -> comp(comp(k))`` so rounds are O(log diameter), not
    O(diameter) — and exactly ONE Spark action per round: the new comp
    table is a lazy ``localCheckpoint`` materialized by the same aggregate
    that returns the changed-row count (no separate checkpoint job + count
    job per round).  Exiting via the iteration cap raises instead of
    silently returning inconsistent component ids."""
    sym = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    # lazy: the first round's convergence aggregate materializes it
    sym = sym.localCheckpoint(eager=False)
    universe = sym.select(F.col("src").alias("pre_key")).distinct()
    comp = universe.select(F.col("pre_key"), F.col("pre_key").alias("comp"))
    for _ in range(max_iter):
        msgs = sym.join(comp, sym["src"] == comp["pre_key"]).select(
            F.col("dst").alias("pre_key"), "comp"
        )
        agg = (
            comp.unionByName(msgs)
            .groupBy("pre_key")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp values are themselves member pre_keys, so
        # one self-join hops each pointer to its parent's component
        parent = agg.select(
            F.col("pre_key").alias("p_key"), F.col("comp").alias("p_comp")
        )
        short = agg.join(
            parent, agg["comp"] == parent["p_key"], "left"
        ).select("pre_key", F.coalesce("p_comp", "comp").alias("comp"))
        flagged = short.join(
            comp.withColumnRenamed("comp", "old"), "pre_key"
        ).select(
            "pre_key",
            "comp",
            (F.col("comp") != F.col("old")).cast("long").alias("ch"),
        ).localCheckpoint(eager=False)
        n_changed = flagged.agg(F.sum("ch")).first()[0] or 0
        comp = flagged.select("pre_key", "comp")
        if n_changed == 0:
            return comp
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} doubling "
        f"rounds (component diameter > 2^{max_iter}) — raise max_iter"
    )


def bm25_adopt_pairs(
    tok: DataFrame,
    k1: float = 1.5,
    b: float = 0.75,
    threshold: float = 1.0,
    quantize: Optional[int] = None,
) -> DataFrame:
    """R5 parity: the reference's BM25 linking stage as a DataFrame plan.

    ``merge_node`` builds a BM25 corpus of existing constrained-key strings
    and adopts the top-1 hit when its score exceeds 1 (utils.py:352-365,
    363-365: "score > 1 ⇒ adopt"; known-flaky on 1-3-doc corpora per the
    FIXME at utils.py:321-323 — tiny-N Robertson IDF goes ≤0, which this
    deterministic formula reproduces exactly, minus the library's RNG).

    Not the linker's accept rule (that is containment, :func:`link_nodes`):
    this is the reference's rule as an oracle-checked operator, so the
    divergence between the two stays measurable.

    Input ``tok``: the df-capped token index (labels_str, pre_key, token,
    df) of :func:`token_index` — candidates come from the same
    rarest-token probe, so the plan is O(#nodes), never corpus×query.
    Score over shared tokens (set semantics ⇒ tf=1):

        Σ idf(t) · (k1+1) / (1 + k1·(1-b+b·|d|/avgdl)),
        idf(t) = ln(1 + (N-df+0.5)/(df+0.5))

    Returns the top-1 adopt pair per query node with score > ``threshold``:
    (a, b) ordered keys, symmetric-closed for CC consumption.  The adopt
    score is direction-dependent, so a pair reachable from both sides keeps
    its MAX score (deterministic).  ``quantize``: round scores to this many
    decimals BEFORE ranking/thresholding — float sums are order-dependent
    across engines, so the oracle-checked query pins 9 decimals (a ULP-level
    difference must not flip a top-1 rank between engines)."""
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
    # rank-1 window == struct MIN (map-side combinable, no full sort —
    # same rewrite as the containment probe)
    probe = (
        tok.groupBy("pre_key")
        .agg(F.min(F.struct("df", "token", "labels_str")).alias("m"))
        .select(
            F.col("m.labels_str").alias("labels_str"),
            F.col("m.token").alias("token"),
            F.col("pre_key").alias("q"),
        )
    )
    cand = (
        probe.join(
            tok.select("labels_str", "token", F.col("pre_key").alias("d")),
            ["labels_str", "token"],
        )
        .filter(F.col("q") != F.col("d"))
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
            * (k1 + 1.0)
            / (
                1.0
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("labels_str", "q", "d")
        .agg(F.sum("term").alias("score"))
    )
    if quantize is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), quantize))
    # top-1 by (score DESC, d ASC) == struct MIN over (-score, d): score
    # negation is exact for doubles, so ordering and ties reproduce the
    # window exactly (the bm25_adopt oracle pins both)
    top1 = (
        scored.groupBy("q")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), "d")).alias("m"))
        .select("q", F.col("m.d").alias("d"), (-F.col("m.ns")).alias("score"))
    )
    return (
        top1.filter(F.col("score") > threshold)
        .select(
            F.least("q", "d").alias("a"),
            F.greatest("q", "d").alias("b"),
            "score",
        )
        .groupBy("a", "b")
        .agg(F.max("score").alias("score"))
    )


def gram_candidates(base: DataFrame) -> DataFrame:
    """(a, b) refine candidates: char-3gram inverted index (df band
    [2, MAX_TOKEN_DF]) probed with each node's REFINE_PROBES rarest grams.

    PROBE_DF_CAP bounds the volume HARD: only grams with df <=
    PROBE_DF_CAP may serve as probes, so candidates <= REFINE_PROBES x
    PROBE_DF_CAP per node no matter how pathological the corpus.  A node
    with no gram under the cap has no DISTINCTIVE substring at all — a
    typo/reorder alias of a distinctive identity always shares the rare
    grams of its distinctive region, which is what this pass exists for;
    non-distinctive near-identical bags are containment's and the
    semantic pass's job.  Measured on the 200k-node adversarial frame
    (scripts/skew_bench.py): uncapped probes generated 155M candidates
    (777/node, 394 s refine); the cap holds the same fixture recall with
    candidates bounded at 192/node."""
    grams_arr = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("norm_identity") - 2, F.lit(1))
            ),
            lambda i: F.col("norm_identity").substr(i, F.lit(3)),
        )
    )
    g = base.select("labels_str", "pre_key", F.explode(grams_arr).alias("gram"))
    gdf = g.groupBy("labels_str", "gram").agg(F.count("*").alias("df"))
    # df=1 grams can only ever match their own node — they are useless both
    # as probes AND as index entries, so the band is [2, MAX_TOKEN_DF]
    g = g.join(
        gdf.filter((F.col("df") >= 2) & (F.col("df") <= MAX_TOKEN_DF)),
        ["labels_str", "gram"],
    )
    # top-REFINE_PROBES by (df, gram) == sorted collect_list slice: grams are
    # per-node distinct and few (identity strings are short), so the agg
    # buffer is tiny and partial-aggregates map-side — no full-sort window
    probe = (
        g.filter(F.col("df") <= PROBE_DF_CAP)
        .groupBy("pre_key")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("df", "gram", "labels_str"))
                ),
                1,
                REFINE_PROBES,
            ).alias("top")
        )
        .select(F.col("pre_key").alias("p"), F.explode("top").alias("m"))
        .select(
            F.col("m.labels_str").alias("labels_str"),
            F.col("m.gram").alias("gram"),
            "p",
        )
    )
    return (
        probe.join(
            g.select("labels_str", "gram", F.col("pre_key").alias("q")),
            ["labels_str", "gram"],
        )
        .filter(F.col("p") != F.col("q"))
        .select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
        .distinct()
    )


def refine_pairs(linkable: DataFrame) -> DataFrame:
    """R2 parity: the similarity-driven refine pass of the reference
    (``refine_nodes.py:27-96``: per-node ANN kNN with cosine >= 0.6, then an
    LLM + human gate; ``merge_by_id`` merges only when the two label sets
    are equal, utils.py:681-688).  Deterministic Spark-first stand-in:

    - vectors: hashing-TF over the NORMALIZED identity (word + char-3gram),
      so token reorders and small typos score high;
    - candidates: a df-capped char-3gram inverted index probed with each
      node's REFINE_PROBES rarest grams — the approximate-recall analog of
      the reference's ANN index (both are recall-approximate by design),
      volume O(#nodes · REFINE_PROBES), never all-pairs;
    - label-equality guard: the index is blocked by ``labels_str``;
    - accept at cosine >= REFINE_THRESHOLD.  0.75 here plays the role of the
      reference's 0.6-on-a-semantic-model + human gate: calibrated so true
      aliases (token reorders ~0.84, typos ~0.94) merge while sibling
      entities ("Madras"/"Bombay High Court" ~0.67) never do;
    - two deterministic stand-ins for the human gate: nodes identified by a
      uniqueness-constrained key (CourtCase.hasCaseID — utils.py:176-199)
      never fuzzy-merge, and nodes whose numeral tokens differ never merge
      (Section 302 != Section 304, even at cosine 0.89).
    """
    from .similarity import _dot, hashing_feature_vectors

    base = linkable.filter(F.col("head_label") != "CourtCase").select(
        "labels_str",
        "pre_key",
        "norm_identity",
        F.sort_array(
            F.filter(F.col("tokens"), lambda t: t.rlike("[0-9]"))
        ).alias("num_toks"),
    )
    cand = gram_candidates(base)
    # feature vectors only for nodes that actually appear in a candidate
    # pair (Python work bounded by candidate volume, not corpus size)
    keys = (
        cand.select(F.col("a").alias("pre_key"))
        .unionByName(cand.select(F.col("b").alias("pre_key")))
        .distinct()
    )
    side = base.join(keys, "pre_key", "left_semi")
    # lazy checkpoint: fa and fb below are two branches over this frame —
    # without it the Arrow hashing-TF stage runs once per branch
    feats = hashing_feature_vectors(
        side, "pre_key", "norm_identity", REFINE_DIM
    ).join(side.select("pre_key", "num_toks"), "pre_key").localCheckpoint(
        eager=False
    )
    fa = feats.select(
        F.col("pre_key").alias("a"),
        F.col("features").alias("fa"),
        F.col("num_toks").alias("na_toks"),
    )
    fb = feats.select(
        F.col("pre_key").alias("b"),
        F.col("features").alias("fb"),
        F.col("num_toks").alias("nb_toks"),
    )
    return (
        cand.join(fa, "a")
        .join(fb, "b")
        .filter(F.col("na_toks") == F.col("nb_toks"))
        # vectors are L2-normalized, so the dot product IS the cosine
        .withColumn(
            "cosine",
            _dot(
                F.col("fa").cast("array<double>"),
                F.col("fb").cast("array<double>"),
            ),
        )
        .filter(F.col("cosine") >= REFINE_THRESHOLD)
        .select("a", "b")
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


def refine_pairs_semantic(
    linkable: DataFrame,
    embedder,
    threshold: float = 0.75,
    bits: int = 64,
    band_bits: int = 4,
    exclude_person_props: bool = False,
    attest: Optional[DataFrame] = None,
) -> DataFrame:
    """The reference-SHAPED refine pass with a pluggable embedding model
    (``refine_nodes.py:27-96``: real-model ANN kNN + gate): embed each
    node's normalized identity, generate candidates with the SRP-LSH band
    join (the engine's ANN primitive — blocked by label set, exactly the
    reference's labels-equal merge guard, utils.py:681-688), accept at
    exact cosine >= ``threshold``, with the same two deterministic gate
    stand-ins as :func:`refine_pairs` (CourtCase never fuzzy-merges;
    differing numeral tokens never merge).

    ``embedder``: ``df(pre_key, norm_identity) -> df(pre_key, embedding
    array<float/double>)`` — :func:`embedding.train_corpus_embedder`
    (corpus-trained PPMI-SVD, the in-repo REAL model) or any vendored
    encoder behind :func:`embedding.dict_embedder`;
    :func:`similarity.hashing_feature_vectors` remains the deterministic
    lexical instance (used by the parity test).  This is the operator that
    closes the semantic-alias gap ("Apex Court" == "Supreme Court of
    India") — exercised end-to-end by test_embedding.

    Default bands are 16 x 4 bits (not the 8 x 8 of the high-threshold
    near-dup query): at the reference's 0.6 similarity gate a true pair at
    cosine ~0.7-0.8 survives 4-bit bands with p > 0.997 but 8-bit bands
    only ~0.5-0.75 — candidate recall, the exact verify is unchanged.

    The linker's semantic refine (:func:`link_nodes`) adds two deterministic
    stand-ins for the reference's LLM + human merge gate, justified by
    measurement (BENCH/BASELINE.md semantic-refine section):

    - ``exclude_person_props``: drop nodes whose props carry a
      :data:`PERSON_PROP_KEYS` key — distinct judges/witnesses embed at
      cosine 1.000 on templated corpora (role-twin conflation);
    - ``attest``: a (url, pre_key) mention table; a pair is accepted only
      if some document mentions BOTH identities (aliases are used
      interchangeably WITHIN documents — "the Apex Court ... the Supreme
      Court of India held"; sibling entities like "Madras High Court" /
      "Bombay High Court" embed at cosine 1.000 but are never attested).
      The co-mention join is per-url over candidate mentions only —
      O(docs x mentions-per-doc²) worst case, bounded like the chunk
      window join, never corpus-quadratic."""
    from .similarity import cosine_neardup_pairs_lsh

    base = linkable.filter(F.col("head_label") != "CourtCase")
    if exclude_person_props:
        base = base.filter(
            ~F.arrays_overlap(
                F.map_keys(F.col("props")),
                F.array(*[F.lit(k) for k in PERSON_PROP_KEYS]),
            )
        )
    base = base.select(
        "labels_str",
        "pre_key",
        "norm_identity",
        F.sort_array(
            F.filter(F.col("tokens"), lambda t: t.rlike("[0-9]"))
        ).alias("num_toks"),
    )
    emb = embedder(base.select("pre_key", "norm_identity"))
    joined = base.select("labels_str", "pre_key").join(emb, "pre_key")
    pairs = cosine_neardup_pairs_lsh(
        joined,
        threshold=threshold,
        id_col="pre_key",
        vec_col=emb.columns[-1],
        block_col="labels_str",
        bits=bits,
        band_bits=band_bits,
    )
    na = base.select(F.col("pre_key").alias("a"), F.col("num_toks").alias("na"))
    nb = base.select(F.col("pre_key").alias("b"), F.col("num_toks").alias("nb"))
    accepted = (
        pairs.join(na, "a")
        .join(nb, "b")
        .filter(F.col("na") == F.col("nb"))
        .select("a", "b")
    )
    if attest is not None:
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
        accepted = accepted.join(co, ["a", "b"], "left_semi")
    return accepted


def containment_candidates(tok: DataFrame) -> DataFrame:
    """(a, b) candidate pairs from the asymmetric rarest-token probe over a
    df-capped token index (labels_str, pre_key, token, df).

    Candidate volume is Σ over nodes of df(rarest surviving token) — the
    skew bound the stress bench measures (scripts/skew_bench.py): a head
    entity's shared tokens exceed the df cap and leave the index entirely,
    so hot blocks can never go quadratic; the worst remaining case is a
    node whose RAREST token is still mid-frequency (bag with no
    distinguishing token), bounded by MAX_TOKEN_DF candidates/node.

    Rarest token per node is a rank-1-only window == struct MIN — orders by
    (df, token) exactly like the window's orderBy but aggregates with
    map-side combine (shuffle volume |nodes| per mapper, no full sort of
    the token table).  Tokens are per-node distinct (array_except is a set
    op), so no ties beyond the token ordering itself."""
    probe = (
        tok.groupBy("pre_key")
        .agg(F.min(F.struct("df", "token", "labels_str")).alias("m"))
        .select(
            F.col("m.labels_str").alias("labels_str"),
            F.col("m.token").alias("token"),
            F.col("pre_key").alias("p"),
        )
    )
    return (
        probe.join(
            tok.select("labels_str", "token", F.col("pre_key").alias("q")),
            ["labels_str", "token"],
        )
        .filter(F.col("p") != F.col("q"))
        .select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
        .distinct()
    )


def containment_pairs(tok: DataFrame) -> DataFrame:
    """Accepted containment pairs: candidates whose smaller token set is
    fully contained in the larger (recall-exact under the df cap)."""
    cand = containment_candidates(tok)
    ta = tok.select(F.col("pre_key").alias("a"), "token")
    tb = tok.select(F.col("pre_key").alias("b"), "token")
    shared = (
        cand.join(ta, "a").join(tb, ["b", "token"]).groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    sizes = tok.groupBy("pre_key").agg(F.count("*").alias("ntok"))
    return (
        shared.join(sizes.withColumnRenamed("pre_key", "a").withColumnRenamed("ntok", "na"), "a")
        .join(sizes.withColumnRenamed("pre_key", "b").withColumnRenamed("ntok", "nb"), "b")
        .filter(F.col("shared") == F.least(F.col("na"), F.col("nb")))
        .select("a", "b")
    )


def tokenized_node_frame(
    with_identity: DataFrame, abbrevs: Optional[Dict[str, str]] = None
) -> DataFrame:
    """+ norm_identity, tokens over a node frame carrying (labels_str,
    head_label, pre_key, props, identity, labels), eagerly checkpointed —
    the input shape of :func:`link_nodes`."""
    return (
        with_identity
        # identity normalization: JVM regexp chain for small dictionaries,
        # single-pass Arrow UDF for the 508-entry default (see
        # normalize_identity_col)
        .withColumn("norm_identity", normalize_identity_col("identity", abbrevs))
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


def token_index(nodes: DataFrame) -> DataFrame:
    """(labels_str, pre_key, token, df) over a tokenized node frame, df
    counted per label block.  Tokens whose df exceeds MAX_TOKEN_DF leave
    the index entirely — frequent tokens ("criminal", "appeal", court
    names) would otherwise build quadratic candidate blocks."""
    tok = nodes.select(
        "labels_str", "pre_key", F.explode("tokens").alias("token")
    )
    tok_df = tok.groupBy("labels_str", "token").agg(F.count("*").alias("df"))
    return tok.join(
        tok_df.filter(F.col("df") <= MAX_TOKEN_DF), ["labels_str", "token"]
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
            # semantic candidate only if the candidate survived the
            # CourtCase + person-prop gates, and pre_key is a hash OF
            # (labels, canon props), so the same predicates evaluated on
            # the MENTION's own columns keep exactly the matchable rows —
            # this drops the majority of the 2-per-triple mention stream
            # BEFORE the sha2/canon work and the distinct exchange
            # (semantics pinned: the downstream join is a left_semi
            # against those candidates)
            semantic_attest = mentions.filter(
                (F.col("head_label") != "CourtCase")
                & ~F.arrays_overlap(
                    F.map_keys(F.col("canon")),
                    F.array(*[F.lit(k) for k in PERSON_PROP_KEYS]),
                )
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
    (:func:`tokenized_node_frame`) -> {nodes, mapping}.

    ``semantic_embedder`` and ``semantic_attest``: the trained model and
    the (url, pre_key) mention table of :func:`build_graph`'s semantic
    refine; without an embedder only the lexical passes run.

    Shared by :func:`build_graph` (mention-level frame) and the periodic
    cross-batch reconcile (stored node tables re-linked — node_key and
    pre_key use the SAME content formula, so stored nodes re-enter the
    linker as their own mentions; streaming/ingest.reconcile_graph)."""
    # fuzzy linking only for entity-like nodes (not free-text nodes)
    linkable = nodes0.filter(
        ~(
            (F.size(F.map_keys(F.col("props"))) == 1)
            & (F.element_at(F.map_keys(F.col("props")), 1) == "text")
        )
        & (F.size("tokens") > 0)
    )

    # skew/scale discipline for the head-entity hot keys, two layers:
    # 1. df cap (token_index);
    # 2. asymmetric prefix filter: candidates are generated by probing the
    #    index with each node's SINGLE RAREST surviving token.  Containment
    #    A ⊆ B implies A's rarest token is in B's set, so recall over
    #    df-capped token sets is exact while candidate volume drops from
    #    Σ df² (symmetric self-join) to Σ df(rarest) ≈ O(#nodes).
    # eager checkpoint: probe/cand/shared/sizes all reuse the index
    tok = token_index(linkable).localCheckpoint()

    # R2: similarity-driven refine pass (reference refine_nodes.py:27-96) —
    # catches non-containment aliases (token reorders, typos).  Duplicate
    # (a, b) rows vs the containment pairs are harmless to min-label CC,
    # so no distinct shuffle here.
    pairs = containment_pairs(tok).unionByName(refine_pairs(linkable))

    # semantic refine (see build_graph ``corpus``): the same dataflow as
    # refine_pairs but over MODEL embeddings, so lexically-disjoint
    # aliases with shared contexts also pair
    if semantic_embedder is not None:
        pairs = pairs.unionByName(
            refine_pairs_semantic(
                linkable,
                semantic_embedder,
                threshold=SEMANTIC_THRESHOLD,
                exclude_person_props=True,
                attest=semantic_attest,
            )
        )

    # CC runs only over nodes that appear in an accepted pair (a tiny
    # fraction of the corpus); every other node is its own component.  The
    # pair universe is derived from CC's own checkpointed symmetric edge
    # table, so the pair join chain computes exactly once with no extra
    # eager checkpoint here.
    comp_paired = connected_components(pairs)
    member = nodes0.join(comp_paired, "pre_key", "left").withColumn(
        "comp", F.coalesce(F.col("comp"), F.col("pre_key"))
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
    props_c = entries.groupBy("comp").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pkey", "pval")))
        ).alias("props")
    )
    # component metadata WITHOUT an exchange: every pair generator
    # (containment, refine, semantic) blocks on labels_str, so a CC
    # component never crosses label sets — labels_str/labels/head_label
    # are constant within a component and the representative row
    # (pre_key == comp; comp is the min member's pre_key, so it always
    # exists) carries them.  This replaces a full shuffle + SortAggregate
    # (first() on array columns cannot hash-aggregate) of the widest node
    # columns with a narrow filter; output equality with the old
    # min/first aggregate is exactly the within-block invariant, pinned
    # by the idempotence/oracle suites and test_linking.
    comp_meta = member.filter(F.col("pre_key") == F.col("comp")).select(
        "comp",
        "labels_str",
        F.coalesce("labels", F.array().cast("array<string>")).alias("labels"),
        "head_label",
    )
    nodes = (
        comp_meta.join(props_c, "comp", "left")
        .withColumn(
            "props",
            F.coalesce(F.col("props"), F.expr("map()")),
        )
        .withColumn(
            "node_key",
            F.sha2(
                F.concat_ws("||", F.col("labels_str"), canon_str_col("props")),
                256,
            ),
        )
    )
    mapping = member.select("pre_key", "comp").join(
        nodes.select("comp", "node_key"), "comp"
    ).select("pre_key", "node_key").cache()

    nodes_final = nodes.select(
        "node_key", "head_label", "labels", "props"
    ).dropDuplicates(["node_key"]).cache()

    return {"nodes": nodes_final, "mapping": mapping}


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
