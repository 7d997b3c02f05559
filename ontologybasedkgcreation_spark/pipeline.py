"""End-to-end KG-construction pipeline (replaces the LangGraph DAG).

pages scan -> byte-identical text extraction -> triple extraction (per
document, Arrow-batched) -> ontology validation (broadcast joins) -> property
assignment + titlecase -> entity linking + connected-component
canonicalization -> node/edge tables (+ Paragraph subgraph, lineage).

The reference runs this as a sequential per-chunk LLM loop with per-triple
Neo4j transactions (kg_creator/src/tasks.py:21-44 DAG; ~6 round-trips/triple);
here the only wide operations are: one shuffle for chunk windowing (by url),
one for the linking token index, one per connected-components round, and the
final consolidation groupBys — all keyed on url/node hashes, salted/df-capped
for head entities.

Two stages, each defined once and shared by every execution mode:
:func:`assigned_triples` (per page, narrow — batch, checkpointed buckets and
streams) and :func:`graph_tables` (the global reduce — batch and
checkpointed resume).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ontology import Ontology, load_ontology
from .operators import linking, materialize, properties, validate
from .operators.chunker import chain_chunks, chunk_pages
from .operators.extract import anchor_gate_condition, extract_triples
from .sources.pages import extract_pages


def assigned_triples(
    spark: SparkSession, pages: DataFrame, onto: Ontology
) -> Dict[str, DataFrame]:
    """The per-page stage: pages -> {raw_triples, validated, isa, rejected,
    assigned}, all lazy.  Every narrow operator, so the same frames serve a
    batch run, a checkpointed bucket subset and a ``readStream``.

    The anchor gate filters the RAW stored text BEFORE the decode
    projection: one decode per row (a filter over the projected text
    column would make Catalyst evaluate the decode UDF twice — guide §4.4,
    plan-pinned).  Pages arriving text-less pass the gate and are dropped
    by extract_from_text's own anchors.  ``cache=False``: is_a and rejects
    are audit outputs that may recompute (and a stream cannot cache); the
    caller decides where ``assigned`` is materialized."""
    raw = extract_triples(
        extract_pages(pages, text_gate=anchor_gate_condition), pre_gated=True
    )
    v = validate.validate_triples(spark, raw, onto, cache=False)
    return {
        "raw_triples": raw,
        "validated": v["validated"],
        "isa": v["isa"],
        "rejected": v["rejected"],
        "assigned": properties.assign_and_titlecase(v["validated"]),
    }


def graph_tables(
    spark: SparkSession,
    assigned: DataFrame,
    extracted: DataFrame,
    with_paragraphs: bool = True,
    writer: Optional[materialize.GraphWriter] = None,
    semantic_min_pages: int = 1_000,
) -> Dict[str, DataFrame]:
    """The graph stage: assigned triples + extracted pages -> {nodes,
    edges, triple_set} (+ the paragraph subgraph), written through
    ``writer`` when given.  A deterministic function of its inputs
    (content-hashed keys, order-insensitive aggregates), so a checkpointed
    resume that feeds it the same triples yields the same tables."""
    corpus = extracted
    if "lang" in extracted.columns:
        corpus = corpus.filter(F.col("lang") == "en")
    graph = linking.build_graph(
        assigned, corpus=corpus, semantic_auto_min_docs=semantic_min_pages
    )
    nodes, edges = graph["nodes"], graph["edges"]
    out: Dict[str, DataFrame] = {
        "nodes": nodes,
        "edges": edges,
        "triple_set": linking.triple_set(nodes, edges),
    }

    if with_paragraphs:
        chunks = chain_chunks(chunk_pages(extracted))
        out["chunks"] = chunks
        # per-document bookkeeping subgraph (agent_utils.py:210-235):
        # Paragraph chain + CourtCase-hasParagraph + one CaseMetadata node
        # linked to chunk 0
        records = materialize.case_metadata_records(assigned)
        out["case_metadata"] = records
        out["paragraph_nodes"] = materialize.paragraph_nodes(chunks).unionByName(
            materialize.case_metadata_nodes(records)
        )
        case_nodes = primary_case_nodes(assigned, graph["mapping"])
        out["paragraph_edges"] = materialize.paragraph_edges(
            chunks, case_nodes
        ).unionByName(materialize.case_metadata_edges(records, chunks))
        out["part_of_edges"] = materialize.part_of_edges(edges, chunks)

    if writer is not None:
        persist_graph(spark, out, writer)
    return out


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    onto: Optional[Ontology] = None,
    with_paragraphs: bool = True,
    writer: Optional[materialize.GraphWriter] = None,
    semantic_min_pages: int = 1_000,
) -> Dict[str, DataFrame]:
    """Full run; returns all intermediate + final DataFrames (lazily built —
    nothing executes until an action, except the semantic-refine
    auto-training below).

    The reference ALWAYS runs its embedding refine (refine_nodes.py:27-96):
    from ``semantic_min_pages`` English pages up, a PPMI-SVD embedder is
    trained on the extracted text and the guarded semantic refine runs
    (see build_graph ``corpus``).  The floor exists because distributional
    vocab quality needs data; below it the lexical refine alone runs, and
    a floor above the corpus size turns the semantic refine off."""
    onto = onto or load_ontology()
    extracted = extract_pages(pages)
    out = assigned_triples(spark, pages, onto)
    # assigned feeds nodes, edges, mapping and the paragraph subgraph —
    # localCheckpoint (not cache) so extraction/validation run once AND the
    # lineage is truncated: every downstream action otherwise re-optimizes
    # the full pages->triples logical plan, a serial driver cost that shows
    # up as fixed overhead at scale
    out["assigned"] = out["assigned"].localCheckpoint(eager=False)
    out["extracted"] = extracted
    out.update(
        graph_tables(
            spark,
            out["assigned"],
            extracted,
            with_paragraphs=with_paragraphs,
            writer=writer,
            semantic_min_pages=semantic_min_pages,
        )
    )
    return out


def primary_case_nodes(assigned: DataFrame, mapping: DataFrame) -> DataFrame:
    """(url, node_key) of each document's primary CourtCase — the subject of
    the document's hasRulingOf triple (header), for hasParagraph edges.

    Three candidate tiers per url (the reference attaches the subgraph to
    the document's OWN case, agent_utils.py:210-235):

    0. fully-named hasRulingOf triples — the parsed header (cited prior
       cases also emit hasRulingOf but carry no hasCaseName);
    1. hasParty triples whose subject is a CourtCase — emitted ONLY for the
       document's own header case block, so when court-name parsing missed
       (no header hasRulingOf at all) the document's own case still wins
       over tier 2;
    2. unnamed hasRulingOf triples — body reliance citations; the last
       resort, so a grammar miss never costs a document its whole
       hasParagraph / CaseMetadata subgraph (the reference emits both
       unconditionally).  Without tier 1 this tier could elect a SHARED
       cited-precedent node and pile many documents' paragraph subgraphs
       onto it.

    Rank-1-per-url is a struct MIN (tier asc, span_start, triple_id), not a
    sort window — same rewrite as the linking probes (map-side combinable,
    no full sort of the candidate subset)."""
    unnamed = (
        F.coalesce(
            F.element_at("node1_props", F.lit("hasCaseName")), F.lit("")
        )
        == ""
    ).cast("int")
    ruling = assigned.filter(
        (F.col("relationship") == "hasRulingOf")
        & (F.col("node1_type") == "CourtCase")
    ).select("url", (unnamed * 2).alias("tier"), "span_start", "triple_id",
             "node1_labels", "node1_props")
    party = assigned.filter(
        (F.col("relationship") == "hasParty")
        & (F.col("node1_type") == "CourtCase")
    ).select("url", F.lit(1).alias("tier"), "span_start", "triple_id",
             "node1_labels", "node1_props")
    primary = (
        ruling.unionByName(party)
        .select(
            "url",
            F.struct(
                F.col("tier").alias("tier"),
                F.col("span_start").alias("span_start"),
                F.col("triple_id").alias("triple_id"),
                linking.pre_key_expr(
                    F.col("node1_labels"), F.col("node1_props")
                ).alias("pre_key"),
            ).alias("cand"),
        )
        .groupBy("url")
        .agg(F.min("cand").alias("m"))
        .select("url", F.col("m.pre_key").alias("pre_key"))
        .join(mapping, "pre_key")
        .select("url", "node_key")
    )
    return primary


def persist_graph(
    spark: SparkSession, out: Dict[str, DataFrame], writer: materialize.GraphWriter
) -> None:
    """Write node/edge (+paragraph) tables with per-stage lineage counts.

    Counts ride the WRITE action via ``df.observe`` — one job per table, no
    count()+write() double execution (edges carry two mapping joins; running
    them twice was pure fixed overhead)."""
    from pyspark.sql import Observation

    obs_nodes, obs_edges = Observation(), Observation()
    writer.write(
        "nodes",
        out["nodes"].observe(obs_nodes, F.count(F.lit(1)).alias("n")),
        key="node_key",
    )
    writer.write(
        "edges",
        out["edges"].observe(obs_edges, F.count(F.lit(1)).alias("n")),
        key="url",
    )
    metrics = {"nodes": obs_nodes.get["n"], "edges": obs_edges.get["n"]}
    if "paragraph_nodes" in out:
        writer.write("paragraph_nodes", out["paragraph_nodes"], key="node_key")
        all_aux = out["paragraph_edges"].unionByName(out["part_of_edges"])
        writer.write("paragraph_edges", all_aux, key="url")
    writer.append_lineage(spark, "persist_graph", metrics)


# ---------------------------------------------------------------------------
# comparator (the P/R gate of BASELINE.json)
# ---------------------------------------------------------------------------


def _canon_key(df: DataFrame, subj: str, sprops: str, pred: str, obj: str, oprops: str):
    def canon(col):
        return F.concat_ws(
            "\x1f",
            F.sort_array(
                F.transform(
                    F.map_entries(
                        F.map_filter(F.col(col), lambda k, v: v != F.lit(""))
                    ),
                    lambda e: F.concat(e.key, F.lit("="), e.value),
                )
            ),
        )

    return df.select(
        F.concat_ws(
            "\x00",
            F.col(subj),
            canon(sprops),
            F.col(pred),
            F.col(obj),
            canon(oprops),
        ).alias("k")
    ).distinct()


def triple_precision_recall(
    actual: DataFrame, expected: DataFrame
) -> Dict[str, float]:
    """Order-insensitive set P/R on canonical (subj, pred, obj) triples."""
    a = _canon_key(actual, "subj_label", "subj_props", "pred", "obj_label", "obj_props")
    e = _canon_key(expected, "subj_label", "subj_props", "pred", "obj_label", "obj_props")
    n_a = a.count()
    n_e = e.count()
    n_i = a.join(e, "k", "inner").count()
    return {
        "precision": n_i / n_a if n_a else 0.0,
        "recall": n_i / n_e if n_e else 0.0,
        "actual": n_a,
        "expected": n_e,
        "matched": n_i,
    }
