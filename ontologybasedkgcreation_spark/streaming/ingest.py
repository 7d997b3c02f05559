"""Structured Streaming ingestion for continuously-arriving page snapshots.

The reference has no stream processing (Celery is a job queue, not a data
stream — SURVEY.md §2.8); batch + checkpointed resume is the primary mode.
This adapter exists for deployments where Common-Crawl-style snapshots land
continuously: the batch per-page stage (``pipeline.assigned_triples``: text
extraction, triple extraction, validation, property assignment) runs
unchanged over a ``readStream`` → ``writeStream`` pipeline, because it is all
stateless map-side operators.  The stateful global stages
(linking/CC/consolidation) stay batch: either each micro-batch appends
assigned triples to a checkpoint table (``start_triples_sink``), or each
micro-batch builds and merges its own graph (``start_graph_maintenance``)
and the periodic cross-batch reduce, :func:`reconcile_graph`, re-links the
stored graph.

Also included: watermarked sliding-window page-rate metrics — the standard
late-data pattern (event-time window + watermark) over the ``warc_ts``
column.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ontology import Ontology, load_ontology

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_page_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of page snapshot parquet drops."""
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def start_triples_sink(
    assigned_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = False,
):
    """Append assigned triples — ``pipeline.assigned_triples(spark,
    read_page_stream(...), onto)["assigned"]`` — to the checkpoint table;
    exactly-once via the streaming checkpoint (resume story shared with
    plans/resume.py)."""
    w = (
        assigned_stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_graph_maintenance(
    pages_stream: DataFrame,
    writer,
    checkpoint_path: str,
    onto: Optional[Ontology] = None,
    available_now: bool = False,
):
    """Continuous KG maintenance: each micro-batch runs the full batch
    pipeline and upserts its nodes/edges into the graph tables via
    ``GraphWriter.merge`` (bucket-scoped parquet upsert / Iceberg
    delete+append) — batch N adds or replaces its urls' edge groups without
    touching earlier batches, and content-hash keys make replayed
    micro-batches byte-idempotent.

    Scope note (the two-stage design of plans/resume.py): canonicalization
    runs WITHIN each micro-batch; cross-batch entity consolidation — a new
    mention enriching an old node's property bag — is reconciled by the
    periodic cross-batch reduce over the stored graph tables
    (:func:`reconcile_graph`); these per-batch tables serve until it
    runs."""
    from .. import pipeline as pl

    onto_resolved = onto or load_ontology()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = pl.run_pipeline(
            batch_df.sparkSession,
            batch_df,
            onto=onto_resolved,
            with_paragraphs=False,
        )
        writer.merge("nodes", out["nodes"], key="node_key")
        writer.merge("edges", out["edges"], key="url")

    w = (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def reconcile_graph(spark: SparkSession, writer) -> dict:
    """The periodic CROSS-BATCH entity consolidation for streaming graph
    maintenance.

    ``start_graph_maintenance`` canonicalizes within each micro-batch, so a
    new mention of an entity first seen in an earlier batch lands as a
    second node (the content-keyed bags differ) until this reconcile runs.
    Because ``node_key`` uses the SAME content formula as a mention's
    ``pre_key`` (sha256 of labels + canonical bag), the stored node table
    re-enters the linker directly as its own mention frame: re-link, CC,
    re-consolidate, then rewire every stored edge through the old-key →
    new-key mapping.  The linking policy is ``build_graph``'s: the
    constants of ``operators.linking`` and its default dictionary.
    Consolidation (per-prop longest value) and the containment/refine pair
    rules are content-based, so reconciling batches 1..N equals the
    single-shot build over the union for alias merges — pinned by
    test_streaming.

    At scale this is the periodic global reduce of the two-stage design
    (plans/resume.py): per-batch work stays narrow/incremental; the reduce
    runs on whatever cadence staleness tolerance allows.  Reference analog:
    linking against live graph state at ``utils.py:337-380`` merges on
    arrival — this is the batch-engine equivalent."""
    import os

    from ..operators import linking
    from ..operators.linking import identity_text_col

    nodes_path = os.path.join(writer.base_path, "nodes")
    edges_path = os.path.join(writer.base_path, "edges")
    stored_nodes = spark.read.parquet(nodes_path).drop("bucket")
    stored_edges = spark.read.parquet(edges_path).drop("bucket")

    nodes0 = linking.tokenized_node_frame(
        stored_nodes.select(
            F.concat_ws(",", "labels").alias("labels_str"),
            "head_label",
            F.col("node_key").alias("pre_key"),
            "props",
            "labels",
        ).withColumn("identity", identity_text_col("head_label", "props"))
    )
    linked = linking.link_nodes(nodes0)
    mapping = linked["mapping"]
    # In a clean run every endpoint IS mapped (edges were written against
    # the same stored-node table the mapping was derived from); the
    # rewire's fall-back to the original key exists for the crash window
    # below, where the edges table is one reconcile generation AHEAD of the
    # nodes table and its keys are already final.
    rewired = linking.rewire_edges(stored_edges, mapping)
    # snapshot before the writes: rewired lazily reads the very edges path
    # write() is about to overwrite (same discipline as GraphWriter.merge)
    rewired = rewired.localCheckpoint()
    # CRASH-SAFE WRITE ORDER: edges BEFORE nodes.  The two table writes
    # cannot be atomic together, so the order is chosen to make the one
    # possible inconsistent state self-healing: a crash between the writes
    # leaves edges on NEW keys and nodes on OLD keys; the next reconcile
    # re-links the same old node table (linking is deterministic and keys
    # are content hashes, so it reproduces the identical consolidated nodes
    # and mapping), the already-rewired edge keys miss the mapping's
    # pre_keys and pass through UNCHANGED via the left-join fallback, and
    # completing both writes converges to exactly the clean-run tables.
    # (Nodes-first would strand OLD edge keys against a NEW node table —
    # the next mapping is keyed by new pre_keys, old keys never heal.)
    writer.write("edges", rewired, key="url")
    writer.write("nodes", linked["nodes"], key="node_key")
    return {"nodes": linked["nodes"], "edges": rewired, "mapping": mapping}


def page_rate_metrics(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked sliding-window ingest metrics by language (late rows beyond
    the watermark are dropped from the aggregation state)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window, slide), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.octet_length("text")).alias("n_bytes"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_bytes",
        )
    )
