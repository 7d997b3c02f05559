"""Regression tests for the round-3 ADVICE findings.

- reconcile_graph must be crash-safe across its two table writes: edges are
  written FIRST and the rewire falls back to the original key, so a crash
  between the writes (edges new / nodes old) heals on the next reconcile.
- primary_case_nodes / case_metadata_records must prefer the document's OWN
  header case (hasParty subject) over a cited precedent's unnamed
  hasRulingOf triple when court-name parsing missed.
- GraphWriter.merge must back-fill the _buckets.json sidecar on legacy /
  corrupt tables so a later bucket-count mismatch is caught.
- cosine_neardup_pairs_lsh with dim=None must return an empty pair frame on
  an empty input, not crash on first()==None.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import assigned_frame


# ---------------------------------------------------------------------------
# reconcile crash-safety
# ---------------------------------------------------------------------------


class _CrashAfterEdges:
    """GraphWriter proxy that dies after the edges write — simulating a
    crash in reconcile_graph's window between its two table writes."""

    def __init__(self, inner):
        self.inner = inner
        self.base_path = inner.base_path

    def write(self, name, df, key="url"):
        out = self.inner.write(name, df, key=key)
        if name == "edges":
            raise RuntimeError("simulated crash after edges write")
        return out


def test_reconcile_crash_between_writes_heals(spark, tmp_path):
    """Crash after the edges write leaves edges one generation ahead of
    nodes; the NEXT reconcile converges to exactly the clean two-write
    result (left-join fallback keeps already-rewired keys, deterministic
    re-linking reproduces the same node table)."""
    from ontologybasedkgcreation_spark.operators import linking
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
    from ontologybasedkgcreation_spark.streaming import ingest

    case1 = {"hasCaseID": "Criminal Appeal No. 1 Of 2015",
             "hasCaseName": "A Versus B"}
    case2 = {"hasCaseID": "Criminal Appeal No. 2 Of 2016",
             "hasCaseName": "C Versus D"}
    # the two Court mentions consolidate into a bag combining BOTH members'
    # props -> the merged node_key is NOVEL (differs from both stored keys),
    # so the healing run's edge pass-through exercises the left-join
    # fallback, not just identity mapping
    b1 = [("u1", 0, "CourtCase", case1, "hasRulingOf", "Court",
           {"courtName": "Delhi High Court"})]
    b2 = [("u2", 0, "CourtCase", case2, "hasRulingOf", "Court",
           {"courtName": "DHC", "courtLocation": "Delhi"})]

    def build_two_batch(writer):
        for start, rows in ((0, b1), (10, b2)):
            g = linking.build_graph(assigned_frame(spark, rows, start=start))
            writer.merge("nodes", g["nodes"], key="node_key")
            writer.merge("edges", g["edges"], key="url")

    # clean control: same batches, uninterrupted reconcile
    control = GraphWriter(str(tmp_path / "control"), buckets=8)
    build_two_batch(control)
    ingest.reconcile_graph(spark, control)

    # crashed run: edges written, nodes write never happens
    writer = GraphWriter(str(tmp_path / "graph"), buckets=8)
    build_two_batch(writer)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ingest.reconcile_graph(spark, _CrashAfterEdges(writer))
    # inconsistent on-disk state: edges rewired, nodes still pre-reconcile
    assert (
        spark.read.parquet(str(tmp_path / "graph/nodes"))
        .filter(F.col("head_label") == "Court").count() == 2
    )

    ingest.reconcile_graph(spark, writer)  # the healing run

    def node_set(base):
        df = spark.read.parquet(str(tmp_path / base / "nodes")).drop("bucket")
        return {
            (r["node_key"], r["head_label"], tuple(r["labels"]),
             tuple(sorted(r["props"].items())))
            for r in df.collect()
        }

    def edge_set(base):
        df = spark.read.parquet(str(tmp_path / base / "edges")).drop("bucket")
        return {
            (r["src_key"], r["relationship"], r["dst_key"], r["url"],
             r["span_start"], r["triple_id"])
            for r in df.collect()
        }

    assert node_set("graph") == node_set("control")
    assert edge_set("graph") == edge_set("control")
    # every edge endpoint resolves against the node table (no orphans)
    nodes = spark.read.parquet(str(tmp_path / "graph/nodes"))
    edges = spark.read.parquet(str(tmp_path / "graph/edges"))
    keys = {r["node_key"] for r in nodes.select("node_key").collect()}
    for r in edges.select("src_key", "dst_key").collect():
        assert r["src_key"] in keys and r["dst_key"] in keys


# ---------------------------------------------------------------------------
# primary-case election: own header beats cited precedent
# ---------------------------------------------------------------------------

_PRIOR = {"hasCaseID": "Appeal No.1 of 1990"}


def _own_case(url):
    return {"hasCaseID": f"Criminal Appeal No. 7{url[-1]} Of 2019",
            "hasCaseName": f"P{url} Versus Q{url}"}


def _court_missed_rows(url):
    """A document whose court line failed to parse: NO named header
    hasRulingOf, but the header case block (hasParty) parsed, and a body
    reliance sentence emitted the cited prior's unnamed hasRulingOf at an
    EARLIER span.  All documents cite the SAME prior."""
    own = _own_case(url)
    return [
        (url, 50, "CourtCase", dict(_PRIOR), "hasRulingOf", "Court",
         {"__value": "Old Court"}),
        (url, 120, "CourtCase", dict(own), "hasParty", "Appellant",
         {"__value": "P"}),
        (url, 140, "CourtCase", dict(own), "hasParty", "Respondent",
         {"__value": "Q"}),
    ]


def test_primary_case_prefers_own_header_over_cited(spark):
    from ontologybasedkgcreation_spark import pipeline
    from ontologybasedkgcreation_spark.operators import linking

    # two documents citing the SAME precedent: without the hasParty tier
    # both would attach their subgraphs to the shared prior-case node
    assigned = assigned_frame(
        spark, _court_missed_rows("u1") + _court_missed_rows("u2"), start=0
    )
    g = linking.build_graph(assigned)
    primary = pipeline.primary_case_nodes(assigned, g["mapping"])
    by_url = {r["url"]: r["node_key"] for r in primary.collect()}
    assert set(by_url) == {"u1", "u2"}
    props = {
        r["node_key"]: r["props"]
        for r in g["nodes"].select("node_key", "props").collect()
    }
    for url, key in by_url.items():
        assert props[key].get("hasCaseID") == _own_case(url)["hasCaseID"], url
    # distinct documents must elect DISTINCT primary nodes (the bug piled
    # every citing document onto the one shared precedent node)
    assert by_url["u1"] != by_url["u2"]


def test_case_metadata_prefers_own_header_over_cited(spark):
    from ontologybasedkgcreation_spark.operators import materialize

    assigned = assigned_frame(spark, _court_missed_rows("u1"), start=0)
    recs = materialize.case_metadata_records(assigned).collect()
    assert len(recs) == 1
    r = recs[0]
    # own case id + name, court empty (the parse genuinely missed it)
    assert r["hasCaseID"] == _own_case("u1")["hasCaseID"]
    assert r["hasCaseName"] == _own_case("u1")["hasCaseName"]
    assert r["hasCourtName"] == ""


def test_case_metadata_named_header_still_wins(spark):
    """Tier 0 regression guard: with a fully-named header present, the
    hasParty tier must NOT change the elected record."""
    from ontologybasedkgcreation_spark.operators import materialize

    rows = [
        ("u1", 5, "CourtCase", dict(_own_case("u1")), "hasRulingOf", "Court",
         {"courtName": "Y Court"}),
    ] + _court_missed_rows("u1")
    recs = materialize.case_metadata_records(
        assigned_frame(spark, rows, start=0)
    ).collect()
    assert len(recs) == 1
    assert recs[0]["hasCourtName"] == "Y Court"
    assert recs[0]["hasCaseID"] == _own_case("u1")["hasCaseID"]


# ---------------------------------------------------------------------------
# GraphWriter sidecar back-fill
# ---------------------------------------------------------------------------


def test_merge_backfills_missing_sidecar(spark, tmp_path):
    import json
    import os

    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    df = spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int")
    w = GraphWriter(str(tmp_path / "t"), buckets=8)
    w.write("edges", df, key="url")
    sidecar = str(tmp_path / "t/edges/_buckets.json")
    os.remove(sidecar)  # legacy pre-sidecar table

    w.merge("edges", spark.createDataFrame([("u3", 3)], "url string, v int"),
            key="url")
    with open(sidecar, encoding="utf-8") as fh:
        assert json.load(fh)["buckets"] == 8
    # the back-filled sidecar now catches a mismatched merge
    w2 = GraphWriter(str(tmp_path / "t"), buckets=16)
    with pytest.raises(ValueError, match="buckets"):
        w2.merge("edges", df, key="url")


def test_merge_tolerates_corrupt_sidecar(spark, tmp_path):
    import json

    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    df = spark.createDataFrame([("u1", 1)], "url string, v int")
    w = GraphWriter(str(tmp_path / "t"), buckets=8)
    w.write("edges", df, key="url")
    sidecar = str(tmp_path / "t/edges/_buckets.json")
    with open(sidecar, "w", encoding="utf-8") as fh:
        fh.write('{"buck')  # truncated JSON
    w.merge("edges", df, key="url")  # no JSONDecodeError escape
    with open(sidecar, encoding="utf-8") as fh:
        assert json.load(fh)["buckets"] == 8


# ---------------------------------------------------------------------------
# empty-frame SRP-LSH
# ---------------------------------------------------------------------------


def test_lsh_neardup_empty_frame(spark):
    from ontologybasedkgcreation_spark.operators.similarity import (
        cosine_neardup_pairs_lsh,
    )

    empty = spark.createDataFrame(
        [], "vec_id string, embedding array<double>, label string"
    )
    out = cosine_neardup_pairs_lsh(empty, threshold=0.9)
    assert out.columns == ["a", "b", "cosine"]
    assert out.count() == 0


def test_refine_semantic_empty_block(spark):
    """refine_pairs_semantic over a frame whose only nodes are CourtCase
    (all filtered out) returns an empty pair frame instead of raising."""
    from ontologybasedkgcreation_spark.operators.linking import (
        refine_pairs_semantic,
    )
    from ontologybasedkgcreation_spark.operators.similarity import (
        hashing_feature_vectors,
    )

    linkable = spark.createDataFrame(
        [("CourtCase", "CourtCase", "k1", {"hasCaseID": "case 1"}, "case 1",
          ["case", "1"])],
        "labels_str string, head_label string, pre_key string, "
        "props map<string,string>, norm_identity string, tokens array<string>",
    )
    attest = spark.createDataFrame([("u1", "k1")], "url string, pre_key string")
    out = refine_pairs_semantic(
        linkable,
        lambda df: hashing_feature_vectors(df, "pre_key", "norm_identity"),
        attest,
    )
    assert out.count() == 0
