"""The engine's program replayed one layer at a time, for traced runs.

:func:`traced_pipeline` makes the same public calls as
``pipeline.run_pipeline`` in the same order, but materializes each layer's
result once (``localCheckpoint``) inside a span named after the layer's
module, so the event log attributes every Spark job to one layer.  The
traced graph must fingerprint equal to the untraced one, which shows the
replay composes the same program.  Counts for the per-layer ratios are
taken from the materialized results, outside the spans.

Layers: ``pages`` (sources.pages.extract_pages), ``extract``
(operators.extract), ``validate`` (operators.validate), ``properties``
(operators.properties), ``embedding`` (the English-corpus count that
decides whether linking.build_graph trains its semantic embedder, and above
the floor the training), ``linking`` (operators.linking.build_graph: its
eager connected-components rounds and the materialized nodes, edges and
mapping), ``paragraphs``
(operators.chunker and the materialize paragraph builders), ``writer.write``
(materialize.GraphWriter) and ``reconcile``
(streaming.ingest.reconcile_graph).  A layer's wall time excludes the spans
nested in it, as its task time excludes their jobs: the writes of the
reconcile count as ``writer.write`` only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import pipeline
from ontologybasedkgcreation_spark.operators import linking, materialize, properties, validate
from ontologybasedkgcreation_spark.operators.chunker import chain_chunks, chunk_pages
from ontologybasedkgcreation_spark.operators.extract import anchor_gate_condition, extract_triples
from ontologybasedkgcreation_spark.sources.pages import extract_pages

from .trace import layer_stats

MB = 2**20


def _done(df):
    return df.localCheckpoint(eager=True)


class TracedWriter(materialize.GraphWriter):
    """GraphWriter whose writes each record a span and the rows they were
    handed (for write amplification)."""

    def __init__(self, base_path: str, tracer, **kw):
        super().__init__(base_path, **kw)
        self.tracer = tracer

    def write(self, name, df, key="url"):
        self.tracer.count("writer.write_rows", df.count())
        with self.tracer.span("writer.write"):
            return super().write(name, df, key)


def traced_pipeline(spark, tracer, pages, onto, writer, with_paragraphs=True,
                    semantic_min_pages=1_000):
    """``pipeline.run_pipeline`` with a span around each layer."""
    with tracer.span("pages"):
        gated = _done(extract_pages(pages, text_gate=anchor_gate_condition))
        extracted = _done(extract_pages(pages))
    with tracer.span("extract"):
        raw = _done(extract_triples(gated, pre_gated=True))
    with tracer.span("validate"):
        validated = _done(
            validate.validate_triples(spark, raw, onto, cache=False)["validated"]
        )
    with tracer.span("properties"):
        assigned = _done(properties.assign_and_titlecase(validated))
    corpus = extracted.filter(F.col("lang") == "en")
    with tracer.span("embedding"):
        # build_graph's own decision: the trainer runs from this many
        # English pages on.  Below the floor the corpus is dropped and the
        # graph is the same; above it the trainer runs eagerly inside
        # build_graph, so the span also holds build_graph's eager linking.
        n_en = corpus.count()
        if n_en < semantic_min_pages:
            corpus = None
        else:
            graph = linking.build_graph(
                assigned, corpus=corpus, semantic_auto_min_docs=semantic_min_pages
            )
    with tracer.span("linking"):
        if corpus is None:
            graph = linking.build_graph(assigned)
        mapping = _done(graph["mapping"])
        nodes = _done(graph["nodes"])
        edges = _done(graph["edges"])
    out = {"nodes": nodes, "edges": edges, "triple_set": linking.triple_set(nodes, edges)}

    n_raw = raw.count()
    tracer.count("pages", extracted.count())
    tracer.count("extract.triples", n_raw)
    tracer.count("validate.in", n_raw)
    tracer.count("validate.valid", validated.count())
    tracer.count("embedding.sample_docs", n_en if n_en >= semantic_min_pages else 0)
    tracer.count("linking.mentions", linking.mentions_frame(assigned).count())
    tracer.count("linking.nodes_out", nodes.count())

    if with_paragraphs:
        with tracer.span("paragraphs"):
            chunks = _done(chain_chunks(chunk_pages(extracted)))
            records = materialize.case_metadata_records(assigned)
            case_nodes = pipeline.primary_case_nodes(assigned, mapping)
            out["paragraph_nodes"] = _done(
                materialize.paragraph_nodes(chunks).unionByName(
                    materialize.case_metadata_nodes(records)
                )
            )
            out["paragraph_edges"] = _done(
                materialize.paragraph_edges(chunks, case_nodes).unionByName(
                    materialize.case_metadata_edges(records, chunks)
                )
            )
            out["part_of_edges"] = _done(materialize.part_of_edges(edges, chunks))
        tracer.count("paragraphs.chunks", chunks.count())

    pipeline.persist_graph(spark, out, writer)
    return out


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

# name -> unit, in print order; every traced run prints all of them.  A
# layer a workload bypasses reads 0.
PER_LAYER = {
    "session.start_s": "s", "ontology.parse_s": "s",
    "pages.wall_s": "s", "pages.task_s": "s", "pages.failed_tasks": "count",
    "pages.py_mb_sent": "MB",
    "extract.wall_s": "s", "extract.task_s": "s", "extract.failed_tasks": "count",
    "extract.gc_s": "s", "extract.py_mb_sent": "MB", "extract.py_mb_returned": "MB",
    "extract.triples_per_page": "ratio",
    "validate.wall_s": "s", "validate.task_s": "s", "validate.failed_tasks": "count",
    "validate.valid_ratio": "ratio",
    "properties.wall_s": "s", "properties.task_s": "s",
    "properties.failed_tasks": "count", "properties.gc_s": "s",
    "properties.py_mb_sent": "MB", "properties.py_mb_returned": "MB",
    "embedding.semantic_s": "s", "embedding.failed_tasks": "count",
    "embedding.sample_docs": "count",
    "linking.wall_s": "s", "linking.task_s": "s", "linking.failed_tasks": "count",
    "linking.jobs": "count", "linking.shuffle_mb": "MB",
    "linking.slot_idle_frac": "ratio", "linking.mentions": "count",
    "linking.nodes_out": "count", "linking.collapse_ratio": "ratio",
    "paragraphs.wall_s": "s", "paragraphs.task_s": "s",
    "paragraphs.failed_tasks": "count", "paragraphs.chunks": "count",
    "writer.write_s": "s", "writer.failed_tasks": "count",
    "writer.mb_written": "MB", "writer.write_amplification": "ratio",
    "reconcile.wall_s": "s", "reconcile.task_s": "s", "reconcile.failed_tasks": "count",
    "reconcile.jobs": "count", "reconcile.shuffle_mb": "MB",
    "reconcile.slot_idle_frac": "ratio",
    "trace.untraced_s": "s", "trace.traced_s": "s", "trace.overhead_frac": "ratio",
}


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer_metrics(tracer, stats: dict, session_s: float, parse_s: float,
                      cores: int, untraced_s: float, traced_s: float) -> dict:
    """Every :data:`PER_LAYER` metric from the spans, the counts and the
    event-log ``stats`` ({job group: GroupStats})."""
    v: dict = {
        "session.start_s": session_s, "ontology.parse_s": parse_s,
        "trace.untraced_s": untraced_s, "trace.traced_s": traced_s,
        # 0 when no untraced run of the seed came first: nothing to compare
        "trace.overhead_frac": _ratio(traced_s, untraced_s) - 1.0 if untraced_s else 0.0,
    }
    c = tracer.counts
    layers = ("pages", "extract", "validate", "properties", "embedding",
              "linking", "paragraphs", "reconcile")
    for layer in layers:
        g = layer_stats(stats, layer)
        wall = tracer.self_wall(layer)
        v.update({
            f"{layer}.wall_s": wall, f"{layer}.task_s": g.task_s,
            f"{layer}.failed_tasks": g.failed_tasks, f"{layer}.jobs": g.jobs,
            f"{layer}.gc_s": g.gc_s, f"{layer}.shuffle_mb": g.shuffle_bytes / MB,
            f"{layer}.py_mb_sent": g.py_sent_bytes / MB,
            f"{layer}.py_mb_returned": g.py_returned_bytes / MB,
            f"{layer}.slot_idle_frac": 1.0 - _ratio(g.task_s, wall * cores) if wall else 0.0,
        })
    v["embedding.semantic_s"] = tracer.wall("embedding")
    v["embedding.sample_docs"] = c.get("embedding.sample_docs", 0)
    v["extract.triples_per_page"] = _ratio(c.get("extract.triples", 0), c.get("pages", 0))
    v["validate.valid_ratio"] = _ratio(c.get("validate.valid", 0), c.get("validate.in", 0))
    v["linking.mentions"] = c.get("linking.mentions", 0)
    v["linking.nodes_out"] = c.get("linking.nodes_out", 0)
    v["linking.collapse_ratio"] = _ratio(v["linking.mentions"], v["linking.nodes_out"])
    v["paragraphs.chunks"] = c.get("paragraphs.chunks", 0)

    w = layer_stats(stats, "writer.write")
    v["writer.write_s"] = tracer.wall("writer.write")
    v["writer.failed_tasks"] = w.failed_tasks
    v["writer.mb_written"] = w.output_bytes / MB
    v["writer.write_amplification"] = _ratio(
        w.output_records,
        c.get("writer.write_rows", 0),
    )

    return {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER.items()}
