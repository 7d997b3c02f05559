"""Structured Streaming ingestion: graph maintenance over a page stream must
store the batch path's graph, replays must be idempotent, and the
watermarked window metrics must aggregate by event time."""

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import fixtures, pipeline
from ontologybasedkgcreation_spark.streaming import ingest

from conftest import assigned_frame


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    pages, _ = fixtures.pages_df(spark, 10, non_en_every=5)
    src = str(base / "pages_in")
    pages.write.parquet(src)
    return base, src, pages


def test_stream_matches_batch(spark, staged, tmp_path, monkeypatch):
    """Graph maintenance over a page stream stores the batch graph: its
    stored edges carry run_pipeline's triple_ids on the same pages."""
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    _, src, pages = staged
    writer = GraphWriter(str(tmp_path / "graph"), buckets=8)
    monkeypatch.setattr(ingest, "MAX_FILES_PER_TRIGGER", 2)
    q = ingest.start_graph_maintenance(
        ingest.read_page_stream(spark, src),
        writer,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(600)

    got = spark.read.parquet(str(tmp_path / "graph/edges"))
    batch = pipeline.run_pipeline(spark, pages, with_paragraphs=False)["edges"]
    g = {r["triple_id"] for r in got.select("triple_id").collect()}
    b = {r["triple_id"] for r in batch.select("triple_id").collect()}
    assert g == b and len(g) > 0


def test_page_rate_metrics_windows(spark, staged):
    base, src, pages = staged
    stream = ingest.read_page_stream(spark, src)
    metrics = ingest.page_rate_metrics(stream)
    q = (
        metrics.writeStream.format("memory")
        .queryName("page_rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from page_rates").collect()
    assert len(rows) > 0
    total = sum(r["n_pages"] for r in rows)
    assert total == pages.count()
    langs = {r["lang"] for r in rows}
    assert "en" in langs and "hi" in langs


def test_streaming_graph_maintenance_two_batches(spark, tmp_path, monkeypatch):
    """foreachBatch + GraphWriter.merge: two page drops arrive as separate
    micro-batches; the graph tables hold BOTH batches' urls, and replaying
    the stream over the same checkpoint adds nothing."""
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    src = str(tmp_path / "pages_in")
    pages, _ = fixtures.pages_df(spark, 6, non_en_every=0)
    # two physical files -> two micro-batches at maxFilesPerTrigger=1
    pages.filter(F.xxhash64("url") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    pages.filter(F.xxhash64("url") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    writer = GraphWriter(str(tmp_path / "graph"), buckets=8)
    monkeypatch.setattr(ingest, "MAX_FILES_PER_TRIGGER", 1)
    stream = ingest.read_page_stream(spark, src)
    q = ingest.start_graph_maintenance(
        stream, writer, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(600)

    edges = spark.read.parquet(str(tmp_path / "graph/edges"))
    urls = {r["url"] for r in edges.select("url").distinct().collect()}
    expected = {r["url"] for r in pages.select("url").collect()}
    assert urls == expected
    n_edges = edges.count()
    n_nodes = spark.read.parquet(str(tmp_path / "graph/nodes")).count()
    assert n_edges > 0 and n_nodes > 0

    # replay: same checkpoint, no new files -> byte-idempotent tables
    q2 = ingest.start_graph_maintenance(
        ingest.read_page_stream(spark, src),
        writer,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(600)
    assert spark.read.parquet(str(tmp_path / "graph/edges")).count() == n_edges
    assert spark.read.parquet(str(tmp_path / "graph/nodes")).count() == n_nodes


def _node_set(df):
    return {
        (
            r["node_key"],
            r["head_label"],
            tuple(r["labels"]),
            tuple(sorted(r["props"].items())),
        )
        for r in df.collect()
    }


def _edge_set(df):
    return {
        (r["src_key"], r["relationship"], r["dst_key"], r["url"],
         r["span_start"], r["triple_id"])
        for r in df.collect()
    }


def test_reconcile_merges_cross_batch_alias(spark, tmp_path, monkeypatch):
    """Cross-batch entity consolidation: batch 2 mentions batch 1's Court by
    an abbreviation alias; per-batch maintenance stores TWO Court nodes, the
    periodic reconcile merges them and rewires edges — byte-identical to the
    single-shot build over both batches."""
    from ontologybasedkgcreation_spark.operators import linking
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    case1 = {"hasCaseID": "Criminal Appeal No. 1 Of 2015",
             "hasCaseName": "A Versus B"}
    case2 = {"hasCaseID": "Criminal Appeal No. 2 Of 2016",
             "hasCaseName": "C Versus D"}
    b1 = [("u1", "CourtCase", case1, "hasRulingOf", "Court",
           {"courtName": "Delhi High Court"})]
    b2 = [("u2", "CourtCase", case2, "hasRulingOf", "Court",
           {"courtName": "DHC"})]
    # the linking dictionary comes from the deployment setting, so the
    # alias does not depend on which abbreviation file the host has
    abbrev_file = tmp_path / "abbreviations"
    abbrev_file.write_text("DHC - Delhi High Court\n")
    monkeypatch.setenv("ONTOKG_ABBREV_PATH", str(abbrev_file))

    writer = GraphWriter(str(tmp_path / "graph"), buckets=8)
    for start, rows in ((0, b1), (1, b2)):
        g = linking.build_graph(assigned_frame(spark, rows, start=start))
        writer.merge("nodes", g["nodes"], key="node_key")
        writer.merge("edges", g["edges"], key="url")

    nodes_path = str(tmp_path / "graph/nodes")
    edges_path = str(tmp_path / "graph/edges")
    # before the reconcile: the alias is a second node (documented gap)
    assert (
        spark.read.parquet(nodes_path)
        .filter(F.col("head_label") == "Court").count() == 2
    )

    ingest.reconcile_graph(spark, writer)

    single = linking.build_graph(assigned_frame(spark, b1 + b2, start=0))
    stored_nodes = spark.read.parquet(nodes_path).drop("bucket")
    stored_edges = spark.read.parquet(edges_path).drop("bucket")
    assert (
        stored_nodes.filter(F.col("head_label") == "Court").count() == 1
    )
    assert _node_set(stored_nodes) == _node_set(single["nodes"])
    assert _edge_set(stored_edges) == _edge_set(single["edges"])

    # reconcile is idempotent: a second run changes nothing
    ingest.reconcile_graph(spark, writer)
    assert _node_set(spark.read.parquet(nodes_path).drop("bucket")) == _node_set(
        single["nodes"]
    )


def test_stream_sessions_match_batch_sessionize(spark, monkeypatch):
    """Native streaming session_window and the batch sessionize operator
    derive the SAME sessions on the same events (start = first event,
    end = last event + gap, same membership) — the two gap semantics
    agree whenever no delta equals the gap exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ontologybasedkgcreation_spark.operators import temporal
    from ontologybasedkgcreation_spark.operators.temporal import sessionize

    ev = spark.range(0, 300).select(
        (F.col("id") % 10).alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(
                secs=F.col("id") * 60 + F.floor(F.col("id") / 100) * 7200
            )
        ).alias("ts"),
    )
    monkeypatch.setattr(temporal, "SESSION_GAP_US", 30 * 60 * 1_000_000)
    batch = (
        sessionize(ev, ["user_id"])
        .groupBy("user_id", "session_index")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    base = tempfile.mkdtemp(prefix="sess_xval_", dir="/dev/shm")
    try:
        src = f"{base}/src"
        ev.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp"
        ).parquet(src)
        agg = (
            stream.withWatermark("ts", "4 hours")
            .groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("sw")
            )
            .agg(F.count("*").cast("long").alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sess_xval_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"])
            for r in spark.sql("select * from sess_xval_sink").collect()
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got == expected and got
