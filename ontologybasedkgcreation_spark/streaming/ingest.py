"""Structured Streaming ingestion for continuously-arriving page snapshots.

The reference has no stream processing (Celery is a job queue, not a data
stream — SURVEY.md §2.8); batch + checkpointed resume is the primary mode.
This adapter exists for deployments where Common-Crawl-style snapshots land
continuously: each micro-batch runs the batch pipeline and merges its graph
into the ``GraphWriter`` tables (:func:`start_graph_maintenance`), and the
periodic cross-batch reduce, :func:`reconcile_graph`, re-links the stored
graph.  The stored tables are the one bucketed layout the batch writer and
the resume checkpoint use; the stream adds no layout of its own.

Also included: watermarked sliding-window page-rate metrics — the standard
late-data pattern (event-time window + watermark) over the ``warc_ts``
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ontology import load_ontology

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
# parquet drops one page-stream trigger reads at most
MAX_FILES_PER_TRIGGER = 1_000_000
# page_rate_metrics: event-time window length, slide and watermark delay
RATE_WINDOW = "10 minutes"
RATE_SLIDE = "10 minutes"
RATE_WATERMARK = "1 hour"


def read_page_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of page snapshot parquet drops, at most
    MAX_FILES_PER_TRIGGER per trigger."""
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_path)
    )


def start_graph_maintenance(
    pages_stream: DataFrame,
    writer,
    checkpoint_path: str,
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
    runs.  Pages are validated against the default ontology."""
    from .. import pipeline as pl

    onto = load_ontology()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = pl.run_pipeline(
            batch_df.sparkSession,
            batch_df,
            onto=onto,
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
    Because ``node_key`` and a mention's ``pre_key`` are the same
    ``linking.content_key``, the stored node table re-enters the linker
    through ``linking.keyed_nodes`` as its own mention frame: re-link, CC,
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

    nodes_path = os.path.join(writer.base_path, "nodes")
    edges_path = os.path.join(writer.base_path, "edges")
    stored_nodes = spark.read.parquet(nodes_path).drop("bucket")
    stored_edges = spark.read.parquet(edges_path).drop("bucket")

    # pre_key stays the STORED key, which the stored edges reference: for
    # a graph this engine wrote it equals the recomputed content key, and
    # a graph keyed by other means still rewires through the mapping
    nodes0 = linking.tokenized_node_frame(
        linking.keyed_nodes(stored_nodes).select(
            "labels_str",
            "head_label",
            F.col("node_key").alias("pre_key"),
            F.col("canon").alias("props"),
            "labels",
            "identity",
        )
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


def page_rate_metrics(pages_stream: DataFrame) -> DataFrame:
    """Watermarked sliding-window ingest metrics by language (late rows beyond
    the RATE_WATERMARK are dropped from the aggregation state)."""
    return (
        pages_stream.withWatermark("warc_ts", RATE_WATERMARK)
        .groupBy(F.window("warc_ts", RATE_WINDOW, RATE_SLIDE), "lang")
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
