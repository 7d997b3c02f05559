"""Graph pattern queries (operators/graph_query.py) over the engine's own
KG output — the Cypher-shaped serving primitives (reference: MATCH
patterns + get_label_connections, utils.py:30-36)."""

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import fixtures, pipeline
from ontologybasedkgcreation_spark.operators.graph_query import (
    k_hop,
    label_connections,
    match_chain,
    pagerank,
    triangle_count,
)


def _bound(nodes, bindings, n):
    """``match_chain`` rows with each binding's head label and props
    joined back from the node table (as ``n{i}_label`` / ``n{i}_props``)."""
    for i in range(n):
        bindings = bindings.join(
            nodes.select(
                F.col("node_key").alias(f"n{i}_key"),
                F.col("head_label").alias(f"n{i}_label"),
                F.col("props").alias(f"n{i}_props"),
            ),
            f"n{i}_key",
        )
    return bindings


@pytest.fixture(scope="module")
def graph(spark):
    pages, _ = fixtures.pages_df(spark, 8, non_en_every=0)
    out = pipeline.run_pipeline(spark, pages, with_paragraphs=False)
    return out["nodes"].cache(), out["edges"].cache()


def test_match_two_hop_chain(spark, graph):
    """MATCH (c:CourtCase)-[:hasJudge]->(j:Judge)-[:worksIn]->(ct:Court):
    every binding's endpoints really carry those labels, and every case
    with a judge appears."""
    nodes, edges = graph
    got = _bound(
        nodes,
        match_chain(
            nodes,
            edges,
            [("CourtCase", "hasJudge", "Judge"), ("Judge", "worksIn", "Court")],
        ),
        3,
    ).collect()
    assert len(got) > 0
    for r in got:
        assert r["n0_label"] == "CourtCase"
        assert r["n1_label"] == "Judge"
        assert r["n2_label"] == "Court"
        assert r["n2_props"]["courtName"]  # the court binding is concrete
    # completeness: distinct (case, judge) pairs == the hasJudge edges
    # whose judge has a worksIn edge
    hj = edges.filter(F.col("relationship") == "hasJudge")
    wi = edges.filter(F.col("relationship") == "worksIn").select(
        F.col("src_key").alias("dst_key")
    )
    expected = hj.join(wi, "dst_key", "left_semi").count()
    assert len({(r["n0_key"], r["n1_key"]) for r in got}) == (
        hj.join(wi, "dst_key", "left_semi")
        .select("src_key", "dst_key")
        .distinct()
        .count()
    )
    assert expected > 0


def test_match_variable_length_hop(spark):
    """-[*min..max]-> semantics on a hand graph with a cycle: walk
    reachability per length band, DISTINCT endpoint pairs, min>1 keeps a
    short-path pair when a longer in-band path also exists, rel-filtered
    specs only follow that relationship, and malformed specs raise."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        _parse_rel_spec,
    )

    # a->b->c->a cycle, a->d (dead end), a-x->e via another relationship
    nodes = spark.createDataFrame(
        [(k, "N", ["N"], {}) for k in "abcde"],
        "node_key string, head_label string, labels array<string>, "
        "props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a"),
         ("a", "r", "d"), ("a", "x", "e")],
        "src_key string, relationship string, dst_key string",
    )

    def pairs(spec, where=None):
        return {
            (r["n0_key"], r["n1_key"])
            for r in match_chain(
                nodes, edges, [(None, spec, None)], where=where
            ).collect()
        }

    got = pairs("r*1..2")
    # from a: 1 hop {b,d}, 2 hops {c}; from b: {c},{a}; from c: {a},{b,d}
    assert {(s, t) for s, t in got if s == "a"} == {
        ("a", "b"), ("a", "d"), ("a", "c")
    }
    assert {(s, t) for s, t in got if s == "b"} == {("b", "c"), ("b", "a")}
    # min>1: only the 2..3-hop band; a reaches a itself via the 3-cycle
    got23 = pairs("r*2..3")
    assert ("a", "c") in got23 and ("a", "a") in got23
    assert ("a", "b") not in got23  # b is only 1 (or 4+) hops from a
    assert ("a", "d") not in got23  # d only at hop 1
    # rel filter: the x edge is invisible to r-specs
    assert ("a", "e") not in got
    assert pairs("x*1..2") == {("a", "e")}
    # exact count spec 'r*2'
    got2 = pairs("r*2")
    assert {(s, t) for s, t in got2 if s == "a"} == {("a", "c")}
    # spec parsing corner cases
    assert _parse_rel_spec("rel") == ("rel", 1, 1)
    assert _parse_rel_spec("rel*..3") == ("rel", 1, 3)
    assert _parse_rel_spec("*2..4") == (None, 2, 4)
    for bad in ("rel*", "*", "rel*0..2", "rel*3..2", "rel*a..b"):
        with pytest.raises(ValueError):
            _parse_rel_spec(bad)


def test_match_var_hop_composes_with_fixed_hops(spark, graph):
    """A var-length hop inside a longer chain: CourtCase -[cited*1..2]->
    CourtCase -[:hasRulingOf]-> Court equals the union of the 1- and
    2-hop cited expansions joined to hasRulingOf (cited precedents carry
    hasRulingOf edges in the fixture grammar)."""
    nodes, edges = graph
    got = {
        (r["n0_key"], r["n1_key"], r["n2_key"])
        for r in match_chain(
            nodes,
            edges,
            [("CourtCase", "cited*1..2", "CourtCase"),
             ("CourtCase", "hasRulingOf", "Court")],
        ).collect()
    }
    cited = edges.filter(F.col("relationship") == "cited").select(
        F.col("src_key").alias("a"), F.col("dst_key").alias("b")
    )
    two = cited.alias("e1").join(
        cited.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(F.col("e1.a").alias("a"), F.col("e2.b").alias("b"))
    reach = cited.unionByName(two).distinct()
    hr = edges.filter(F.col("relationship") == "hasRulingOf").select(
        F.col("src_key").alias("b"), F.col("dst_key").alias("j")
    )
    expected = {
        (r["a"], r["b"], r["j"]) for r in reach.join(hr, "b").collect()
    }
    assert got == expected and got


def test_match_property_filter(spark, graph):
    """The {prop: value} equality map restricts bindings to one case."""
    nodes, edges = graph
    # pick a case that actually HAS party edges (cited-precedent nodes also
    # carry hasCaseName but no hasParty)
    party_src = edges.filter(F.col("relationship") == "hasParty").select(
        F.col("src_key").alias("node_key")
    )
    some_case = (
        nodes.join(party_src, "node_key", "left_semi")
        .select(F.element_at("props", F.lit("hasCaseID")).alias("cid"))
        .first()["cid"]
    )
    got = _bound(
        nodes,
        match_chain(
            nodes,
            edges,
            [("CourtCase", "hasParty", None)],
            where={0: {"hasCaseID": some_case}},
        ),
        2,
    ).collect()
    assert len(got) > 0
    assert all(r["n0_props"]["hasCaseID"] == some_case for r in got)
    assert {r["n1_label"] for r in got} <= {"Appellant", "Respondent",
                                           "Petitioner"}


def test_k_hop_neighborhood(spark, graph):
    """2-hop in-neighborhood of one Court: hop 1 is exactly the sources of
    its incoming edges; hops are shortest distances (never > K_HOPS, start
    at 0), and a hand-built chain reaches hop 2."""
    nodes, edges = graph
    start = (
        nodes.filter(F.col("head_label") == "Court").select("node_key").limit(1)
    )
    start_key = start.first()["node_key"]
    got = {r["node_key"]: r["hops"] for r in k_hop(edges, start).collect()}
    assert got[start_key] == 0
    direct = {
        r["src_key"]
        for r in edges.filter(F.col("dst_key") == start_key).collect()
        if r["src_key"] != start_key
    }
    assert direct and {k for k, h in got.items() if h == 1} == direct
    assert all(0 <= h <= 2 for h in got.values())
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "b"), ("a", "c"), ("c", "e")],
        "src_key string, dst_key string",
    )
    got2 = {
        r["node_key"]: r["hops"]
        for r in k_hop(
            chain, spark.createDataFrame([("c",)], "node_key string")
        ).collect()
    }
    assert got2 == {"c": 0, "b": 1, "a": 1, "d": 2}


def test_label_connections_schema_summary(spark, graph):
    """get_label_connections parity: the distinct label-pair summary covers
    exactly the relationship types present in the edge table."""
    nodes, edges = graph
    summary = label_connections(nodes, edges).collect()
    rels = {r["rel_type"] for r in summary}
    assert rels == {
        r["relationship"]
        for r in edges.select("relationship").distinct().collect()
    }
    assert ("CourtCase", "hasRulingOf", "Court") in {
        (r["from_label"], r["rel_type"], r["to_label"]) for r in summary
    }


def test_pagerank_matches_reference_iteration(spark, monkeypatch):
    """pagerank == an independent pure-Python power iteration on a small
    graph with a sink (dangling mass must be redistributed, so ranks sum
    to 1 every round), and more-cited nodes outrank less-cited ones."""
    es = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c")]  # c is a sink
    edges = spark.createDataFrame(es, "src_key string, dst_key string")

    def ref(iters, d=0.85):
        verts = sorted({x for e in es for x in e})
        n = len(verts)
        out = {}
        for s, _ in es:
            out[s] = out.get(s, 0) + 1
        r = {v: 1.0 / n for v in verts}
        for _ in range(iters):
            dangling = sum(r[v] for v in verts if v not in out)
            contrib = {v: 0.0 for v in verts}
            for s, t in es:
                contrib[t] += r[s] / out[s]
            r = {
                v: (1.0 - d) / n + d * (contrib[v] + dangling / n)
                for v in verts
            }
        return r

    from ontologybasedkgcreation_spark.operators import graph_query

    endpoints_only = spark.createDataFrame([], "node_key string")
    for iters in (1, 3):
        monkeypatch.setattr(graph_query, "PAGERANK_ITERATIONS", iters)
        got = {
            row["node_key"]: row["rank"]
            for row in pagerank(edges, endpoints_only).collect()
        }
        want = ref(iters)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the sink collects every path: it must rank highest
    final = {
        r["node_key"]: r["rank"] for r in pagerank(edges, endpoints_only).collect()
    }
    assert max(final, key=final.get) == "c"
    # explicit vertex frame: isolated nodes get teleport-only mass
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("lonely",)], "node_key string"
    )
    monkeypatch.setattr(graph_query, "PAGERANK_ITERATIONS", 2)
    with_iso = {r["node_key"]: r["rank"] for r in pagerank(edges, verts).collect()}
    assert "lonely" in with_iso and with_iso["lonely"] > 0
    assert sum(with_iso.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_over_engine_graph(spark, graph):
    """Centrality over the engine's own KG matches an independent
    pure-Python power iteration on the collected edge list exactly
    (multigraph edges counted individually), and is a probability
    distribution (sum 1, all positive)."""
    _, edges = graph
    es = [
        (r["src_key"], r["dst_key"])
        for r in edges.select("src_key", "dst_key").collect()
    ]
    pr = pagerank(edges.select("src_key", "dst_key"), edges.select("src_key"))
    got = {r["node_key"]: r["rank"] for r in pr.collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(v > 0 for v in got.values())

    verts = sorted({x for e in es for x in e})
    n = len(verts)
    out = {}
    for s, _ in es:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in verts}
    for _ in range(3):
        dangling = sum(r[v] for v in verts if v not in out)
        contrib = {v: 0.0 for v in verts}
        for s, t in es:
            contrib[t] += r[s] / out[s]
        r = {
            v: 0.15 / n + 0.85 * (contrib[v] + dangling / n) for v in verts
        }
    assert set(got) == set(r)
    for v in verts:
        assert got[v] == pytest.approx(r[v], abs=1e-12)


def test_triangle_count_hand_verified(spark):
    """triangle_count on a hand-enumerable graph: K4 on a-d (every vertex
    in C(3,2)=3 triangles) plus a pendant edge (e in 0), with direction
    flips, parallel duplicates and a self-loop that the simple-graph
    collapse must neutralize."""
    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    noise = [
        ("b", "a"),  # reversed duplicate
        ("a", "b"),  # parallel duplicate
        ("c", "c"),  # self-loop
        ("d", "e"),  # pendant: e closes no triangle
    ]
    edges = spark.createDataFrame(
        k4 + noise, "src_key string, dst_key string"
    )
    got = {
        r["node_key"]: r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangle_count_triangle_free(spark):
    """A path graph (triangle-free) yields all-zero counts but still one
    row per endpoint."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")],
        "src_key string, dst_key string",
    )
    rows = triangle_count(edges).collect()
    assert {r["node_key"] for r in rows} == {"a", "b", "c", "d"}
    assert all(r["n_triangles"] == 0 for r in rows)


def test_clustering_coefficient(spark):
    """C(v) = 2T/(d(d-1)) on K4 + pendant: K4 vertices a-c are fully
    clustered (1.0), d has degree 4 (K4 edges + pendant) with 3 of its
    C(4,2)=6 neighbor pairs connected (0.5), the pendant e floors at
    0.0."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        clustering_coefficient,
    )

    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
    ]
    edges = spark.createDataFrame(k4, "src_key string, dst_key string")
    got = {
        r["node_key"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in clustering_coefficient(edges).collect()
    }
    assert got["a"] == (3, 3, 1.0)
    assert got["b"] == (3, 3, 1.0)
    assert got["c"] == (3, 3, 1.0)
    assert got["d"] == (4, 3, 0.5)
    assert got["e"] == (1, 0, 0.0)


def test_label_propagation_two_communities(spark):
    """Two triangles joined by one bridge resolve to two communities
    labeled by their min member; hand-traced through 3 synchronous
    rounds (self-message + min-label ties)."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("a", "c"),
            ("x", "y"), ("y", "z"), ("x", "z"),
            ("c", "x"),
        ],
        "src_key string, dst_key string",
    )
    got = {
        r["node_key"]: r["community"]
        for r in label_propagation(edges).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x", "z": "x",
    }
