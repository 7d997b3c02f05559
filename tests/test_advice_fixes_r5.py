"""Regression tests for the round-5 ADVICE findings.

- pagerank with an explicit ``vertices`` frame that omits edge endpoints
  must not leak rank mass: endpoints are unioned in, sum(rank) == 1.
- GraphWriter.assert_buckets on a pre-sidecar directory must back-fill
  node_partition_col as None (the only layout legacy writers produced)
  and RAISE for a partition-col writer instead of blessing a mixed
  head_label=/bucket= layout.
- Argument-party classification requires a word boundary after the role
  token: "appellants" / "appellant's" fall through to the respondent
  branch instead of minting a junk Appellant node named "s".
- strip_boilerplate passes NULL-text docs through as ('', 0) instead of
  dropping them from the output contract.
- TRACKING_PARAM_RE strips valueless tracking params (bare '?fbclid' /
  'utm_source') — pinned alongside the PSL registrable-domain upgrade in
  test_training_ops.test_canonicalize_urls.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark.operators import text_analysis
from ontologybasedkgcreation_spark.operators.extract import extract_from_text
from ontologybasedkgcreation_spark.operators.graph_query import pagerank
from ontologybasedkgcreation_spark.operators.materialize import GraphWriter


def test_pagerank_explicit_vertices_missing_endpoints(spark):
    """A vertices frame that omits edge endpoints used to silently leak
    rank mass (contributions joined to absent nodes dropped); endpoints
    are now unioned in and sum(rank) stays 1."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src_key string, dst_key string",
    )
    # 'c' and 'd' are deliberately missing; 'x' is an extra isolated node
    verts = spark.createDataFrame([("a",), ("b",), ("x",)], "node_key string")
    ranks = pagerank(edges, verts)
    got = {r["node_key"]: r["rank"] for r in ranks.collect()}
    assert set(got) == {"a", "b", "c", "d", "x"}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # and matches the implicit-vertex run on the shared nodes' structure:
    # the extra isolated 'x' only receives teleport mass
    assert got["x"] < got["a"]


def test_assert_meta_backfills_none_partition_col(spark, tmp_path):
    """Pre-sidecar directory + partition-col writer: back-fill must record
    node_partition_col=None and the merge must RAISE (mixed layouts would
    strand stale rows), while a bucket-only writer still back-fills and
    proceeds."""
    df = spark.createDataFrame(
        [("k1", "A"), ("k2", "B")], "node_key string, head_label string"
    )
    base = str(tmp_path / "graph")
    # legacy layout: bucket-only writer, then strip the sidecar
    legacy = GraphWriter(base, buckets=4)
    path = legacy.write("nodes", df, key="node_key")
    sidecar = os.path.join(base, "nodes", "_buckets.json")
    os.remove(sidecar)

    part_writer = GraphWriter(base, buckets=4, node_partition_col="head_label")
    with pytest.raises(ValueError, match="node_partition_col"):
        part_writer.merge("nodes", df, key="node_key")
    # the REFUSED merge must not have back-filled anything (a poisoned
    # sidecar would carry the refusing writer's config; the rightful
    # legacy writer back-fills on its own successful merge below)
    assert not os.path.exists(sidecar)

    # a bucket-only writer back-fills the legacy layout and merges fine
    legacy2 = GraphWriter(base, buckets=4)
    legacy2.merge("nodes", df, key="node_key")
    assert spark.read.parquet(path).count() == 2
    with open(sidecar, encoding="utf-8") as fh:
        meta = json.load(fh)
    assert meta == {
        "buckets": 4,
        "node_partition_col": None,
        "edge_partition_col": None,
    }


def test_argument_party_word_boundary():
    """'appellants' / "appellant's" must not strip to a junk residual
    name; exact role and role+space still classify."""
    triples = extract_from_text(
        "Counsel for the appellants submitted that the order is void. "
        "Counsel for the appellant's firm submitted that costs apply. "
        "Counsel for the appellant Arjun Verma submitted that bail is due. "
        "Counsel for the appellant, Ravi Iyer submitted that leave follows. "
        "Counsel for the petitioner submitted that the writ lies."
    )
    V = "__value"
    args = [t for t in triples if t[3].endswith("Argument")]
    by_arg = {t[2][V]: (t[3], t[4], t[5][V]) for t in args}
    assert by_arg["the order is void"][0] == "respondentArgument"
    assert by_arg["the order is void"][2] == "appellants"
    assert by_arg["costs apply"][0] == "respondentArgument"
    assert by_arg["bail is due"] == (
        "appellantArgument", "Appellant", "Arjun Verma"
    )
    # separator punctuation still classifies, name sheds the separator
    assert by_arg["leave follows"] == (
        "appellantArgument", "Appellant", "Ravi Iyer"
    )
    assert by_arg["the writ lies"][0] == "petitionerArgument"
    # no residual junk names like 's' anywhere
    assert all(len(v[2]) != 1 for v in by_arg.values())


def test_strip_boilerplate_null_text_passthrough(spark):
    """NULL-text docs must appear in the output with ('', 0) — the
    redact_pii/unigram_logprob passthrough contract."""
    rows = [
        (1, "a.com", "Home\nreal one"),
        (2, "a.com", "Home\nreal two"),
        (3, "a.com", "Home\nreal three"),
        (4, "a.com", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r
        for r in text_analysis.strip_boilerplate(
            df, "doc_id", "text", "source"
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[4]["clean_text"] == ""
    assert got[4]["n_boilerplate_lines"] == 0
    assert got[1]["clean_text"] == "real one"
