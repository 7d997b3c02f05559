"""Physical-plan audits: the optimizations the engine claims must be
visible in the executed plan — predicate pushdown to the parquet scan,
column pruning, broadcast joins for dimension/ontology tables, and no
Python evaluation nodes in JVM-only operators."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_ivf_label_filter_pushed_to_scan(spark):
    """IVF's cluster-label probe must reach the parquet reader as a pushed
    filter — at 100 TB with label-partitioned tables this is the partition
    prune."""
    import __spark_entry__ as entry

    plan = _plan(entry.q_embedding_ivf(spark, SF))
    assert "PushedFilters" in plan
    assert "label" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_token_stats(spark):
    """A 2-column projection must not read the other document columns."""
    import __spark_entry__ as entry

    plan = _plan(entry.q_token_stats(spark, SF))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_dimension_join_is_broadcast(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.q_revenue_by_nation(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan


def test_validation_join_is_broadcast(spark):
    """Ontology validation must be a broadcast join — never a shuffle of
    the triple table against a 100-row ontology frame — for the kept rows,
    the is_a lineage and the rejects alike."""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.ontology import load_ontology
    from ontologybasedkgcreation_spark.operators import validate
    from ontologybasedkgcreation_spark.operators.extract import extract_triples
    from ontologybasedkgcreation_spark.sources.pages import extract_pages

    pages, _ = fixtures.pages_df(spark, 4)
    v = validate.validate_triples(
        spark,
        extract_triples(extract_pages(pages)),
        load_ontology(),
        cache=False,
    )
    for name in ("validated", "isa", "rejected"):
        plan = _plan(v[name], "simple")
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_jvm_operators_have_no_python_nodes(spark):
    """Text-analysis and chunking operators claim pure built-ins: their
    plans must contain no ArrowEvalPython / BatchEvalPython stages."""
    import __spark_entry__ as entry

    for q in ("lang_id", "quality", "token_stats", "fingerprint",
              "chunk_chain", "dedup_exact", "minhash_lsh", "ivf_assign"):
        plan = _plan(entry.queries()[q](spark, SF), "simple")
        assert "EvalPython" not in plan, q


def test_exact_cosine_stays_in_codegen(spark):
    """embedding_topk's scoring must be JVM expressions (TakeOrdered over a
    projected cosine), not a Python stage."""
    import __spark_entry__ as entry

    plan = _plan(entry.q_embedding_topk(spark, SF), "simple")
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_neardup_lsh_plan_shape(spark):
    """The SRP-LSH near-dup: the ONLY Python in the plan is the Arrow-batched
    signature stage (the HOF 'pure JVM' formulation is CodegenFallback —
    measured 20x slower — so the signature is deliberately mapInPandas; the
    candidate join + exact verify must stay JVM).  The signature feeds the
    band self-join through a checkpoint, so no ArrowEvalPython appears in
    the final plan at all — and certainly no row-at-a-time BatchEvalPython
    anywhere."""
    import __spark_entry__ as entry

    plan = _plan(entry.q_embedding_neardup_lsh(spark, SF), "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # truncated at the checkpoint


def test_merge_read_prunes_to_affected_buckets(spark, tmp_path):
    """GraphWriter.merge's read side must carry the affected buckets as a
    STATIC PartitionFilters on the parquet scan — only those partition
    directories are read, regardless of dynamic-partition-pruning firing."""
    from ontologybasedkgcreation_spark.operators.materialize import (
        GraphWriter,
        pruned_stored_rows,
    )

    w = GraphWriter(str(tmp_path), buckets=8)
    rows = [(f"u{i}", f"s{i}") for i in range(64)]
    p = w.write(
        "edges", spark.createDataFrame(rows, "url string, src_key string")
    )
    import re

    plan = _plan(pruned_stored_rows(spark, p, [2, 5]))
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    m = re.search(r"IN \(([^)]*)\)", pf)
    assert m, f"no static IN filter in PartitionFilters: {pf}"
    assert {int(x) for x in m.group(1).split(",")} == {2, 5}


def test_partitioned_nodes_label_filter_is_partition_prune(spark, tmp_path):
    """Round-4 verdict item 5: GraphWriter(node_partition_col='head_label')
    lays the node table out by label above the key buckets, and
    match_chain(label_scope='head') turns every label restriction into a
    partition PRUNE — the scan's PartitionFilters name the label, so
    untouched label directories are never read."""
    from ontologybasedkgcreation_spark.operators.graph_query import match_chain
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    nodes = spark.createDataFrame(
        [("k1", "CourtCase", ["CourtCase"], {"hasCaseID": "c1"}),
         ("k2", "Judge", ["Judge"], {"name": "J"}),
         ("k3", "Court", ["Court"], {"courtName": "C"})],
        "node_key string, head_label string, labels array<string>, "
        "props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("k1", "hasJudge", "k2"), ("k1", "hasRulingOf", "k3")],
        "src_key string, relationship string, dst_key string",
    )
    w = GraphWriter(str(tmp_path), buckets=4,
                    node_partition_col="head_label")
    np_ = w.write("nodes", nodes, key="node_key")
    ep = w.write("edges", edges, key="src_key")

    got = match_chain(
        spark.read.parquet(np_),
        spark.read.parquet(ep),
        [("CourtCase", "hasJudge", "Judge")],
        label_scope="head",
    )
    plan = _plan(got)
    pfs = [seg.splitlines()[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("CourtCase" in p and "head_label" in p for p in pfs), pfs
    assert any("Judge" in p and "head_label" in p for p in pfs), pfs
    assert got.count() == 1


def test_partitioned_nodes_merge_roundtrip(spark, tmp_path):
    """merge() on the head_label-partitioned layout: upsert replaces the
    colliding key in place, untouched labels/buckets survive, and a writer
    with a DIFFERENT node_partition_col is refused (sidecar assert) — a
    layout mismatch would strand stale rows."""
    import pytest

    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    ddl = ("node_key string, head_label string, labels array<string>, "
           "props map<string,string>")
    w = GraphWriter(str(tmp_path), buckets=4,
                    node_partition_col="head_label")
    first = spark.createDataFrame(
        [("k1", "Court", ["Court"], {"courtName": "Old"}),
         ("k2", "Judge", ["Judge"], {"name": "J"})], ddl)
    p = w.write("nodes", first, key="node_key")
    batch = spark.createDataFrame(
        [("k1", "Court", ["Court"], {"courtName": "New"}),
         ("k9", "Witness", ["Witness"], {"wFirstName": "W"})], ddl)
    w.merge("nodes", batch, key="node_key")
    got = {
        r["node_key"]: (r["head_label"], dict(r["props"]))
        for r in spark.read.parquet(p).collect()
    }
    assert got == {
        "k1": ("Court", {"courtName": "New"}),
        "k2": ("Judge", {"name": "J"}),
        "k9": ("Witness", {"wFirstName": "W"}),
    }
    flat = GraphWriter(str(tmp_path), buckets=4)
    with pytest.raises(ValueError, match="node_partition_col"):
        flat.merge("nodes", batch, key="node_key")


def test_partitioned_edges_relationship_filter_is_partition_prune(
    spark, tmp_path
):
    """Round-5 verdict item 8: GraphWriter(edge_partition_col=
    'relationship') lays the edge table out by relationship above the key
    buckets, so match_chain's per-hop relationship filter becomes a
    partition PRUNE (the scan's PartitionFilters name the relationship)
    instead of relying on row-group pushdown alone — including inside a
    variable-length hop."""
    from ontologybasedkgcreation_spark.operators.graph_query import match_chain
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    nodes = spark.createDataFrame(
        [("k1", "CourtCase", ["CourtCase"], {"hasCaseID": "c1"}),
         ("k2", "Judge", ["Judge"], {"name": "J"}),
         ("k3", "CourtCase", ["CourtCase"], {"hasCaseID": "c3"})],
        "node_key string, head_label string, labels array<string>, "
        "props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("k1", "hasJudge", "k2"), ("k1", "cited", "k3"),
         ("k3", "hasJudge", "k2")],
        "src_key string, relationship string, dst_key string",
    )
    w = GraphWriter(str(tmp_path), buckets=4,
                    edge_partition_col="relationship")
    ep = w.write("edges", edges, key="src_key")

    got = match_chain(
        nodes, spark.read.parquet(ep), [(None, "hasJudge", None)]
    )
    plan = _plan(got)
    pfs = [seg.splitlines()[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("hasJudge" in p and "relationship" in p for p in pfs), pfs
    assert got.count() == 2
    # var-length hop: its per-level frontier jobs checkpoint eagerly (the
    # k_hop discipline), so the RETURNED plan reads checkpoint blocks and
    # cannot show the inner scans — pin the prune on the exact scan-side
    # filter shape _var_length_pairs applies, then the behavior on top
    e_filtered = spark.read.parquet(ep).filter(
        F.col("relationship") == "cited"
    )
    eplan = _plan(e_filtered)
    epfs = [
        seg.splitlines()[0] for seg in eplan.split("PartitionFilters:")[1:]
    ]
    assert any("cited" in p and "relationship" in p for p in epfs), epfs
    var = match_chain(
        nodes, spark.read.parquet(ep), [(None, "cited*1..2", None)]
    )
    assert {(r["n0_key"], r["n1_key"]) for r in var.collect()} == {
        ("k1", "k3")
    }


def test_partitioned_edges_merge_vacuum(spark, tmp_path):
    """merge() on the relationship-partitioned layout: relationship is NOT
    a function of the url merge key, so when a re-merged url stops
    emitting a relationship, the now-empty (relationship, bucket)
    partition must be VACUUMED — dynamic overwrite alone would leave the
    stale directory behind.  Unaffected relationships and layout
    mismatches keep the node-table discipline."""
    import pytest

    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    ddl = "src_key string, relationship string, dst_key string, url string"
    w = GraphWriter(str(tmp_path), buckets=2,
                    edge_partition_col="relationship")
    first = spark.createDataFrame(
        [("k1", "hasJudge", "k2", "u1"), ("k1", "cited", "k3", "u1"),
         ("k4", "hasParty", "k5", "u2")], ddl)
    p = w.write("edges", first, key="url")
    # u1's re-crawl no longer cites anything: the cited partition's only
    # row must disappear from reads after the merge
    batch = spark.createDataFrame(
        [("k1", "hasJudge", "k9", "u1")], ddl)
    w.merge("edges", batch, key="url")
    got = {
        (r["src_key"], r["relationship"], r["dst_key"])
        for r in spark.read.parquet(p).collect()
    }
    assert got == {("k1", "hasJudge", "k9"), ("k4", "hasParty", "k5")}
    # re-merging the same batch is a no-op
    w.merge("edges", batch, key="url")
    assert {
        (r["src_key"], r["relationship"], r["dst_key"])
        for r in spark.read.parquet(p).collect()
    } == got
    # layout mismatch refused (sidecar assert, both directions)
    flat = GraphWriter(str(tmp_path), buckets=2)
    with pytest.raises(ValueError, match="edge_partition_col"):
        flat.merge("edges", batch, key="url")


def test_partitioned_edges_vacuum_escaped_and_null_values(spark, tmp_path):
    """The vacuum must target directories the way Spark WROTE them:
    partition values with special characters are %XX-escaped and NULL
    becomes __HIVE_DEFAULT_PARTITION__ — raw-value paths would rmtree
    nothing and stale rows would survive."""
    from ontologybasedkgcreation_spark.operators.materialize import (
        GraphWriter,
        escape_partition_value,
    )

    assert escape_partition_value("has:x/y") == "has%3Ax%2Fy"
    assert escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"

    ddl = "src_key string, relationship string, dst_key string, url string"
    w = GraphWriter(str(tmp_path), buckets=2,
                    edge_partition_col="relationship")
    first = spark.createDataFrame(
        [("k1", "has:judge", "k2", "u1"), ("k6", None, "k7", "u1"),
         ("k4", "hasParty", "k5", "u2")], ddl)
    p = w.write("edges", first, key="url")
    # u1 re-merges with neither the escaped-char nor the NULL relationship:
    # both of their partitions' only rows must disappear
    batch = spark.createDataFrame([("k1", "cited", "k9", "u1")], ddl)
    w.merge("edges", batch, key="url")
    got = {
        (r["src_key"], r["relationship"], r["dst_key"])
        for r in spark.read.parquet(p).collect()
    }
    assert got == {("k1", "cited", "k9"), ("k4", "hasParty", "k5")}


def test_refused_merge_does_not_poison_sidecar(spark, tmp_path):
    """A REFUSED merge on a pre-sidecar directory must not back-fill the
    sidecar with the refusing writer's bucket count: the rightful legacy
    writer must still be accepted afterwards (a poisoned count would let
    a wrong-bucket writer in and strand duplicate keys)."""
    import os

    import pytest

    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    ddl = "node_key string, head_label string, labels array<string>, " \
          "props map<string,string>"
    df = spark.createDataFrame(
        [("k1", "A", ["A"], {"p": "1"}), ("k2", "B", ["B"], {"p": "2"})], ddl)
    legacy = GraphWriter(str(tmp_path), buckets=8)
    p = legacy.write("nodes", df, key="node_key")
    sidecar = os.path.join(str(tmp_path), "nodes", "_buckets.json")
    os.remove(sidecar)
    # a partition-col writer (wrong bucket count too) is refused...
    with pytest.raises(ValueError, match="node_partition_col"):
        GraphWriter(str(tmp_path), buckets=4,
                    node_partition_col="head_label").merge(
            "nodes", df, key="node_key")
    # ...and must NOT have written a sidecar claiming buckets=4
    assert not os.path.exists(sidecar)
    # the rightful buckets=8 legacy writer back-fills and merges fine
    legacy2 = GraphWriter(str(tmp_path), buckets=8)
    legacy2.merge("nodes", df, key="node_key")
    assert spark.read.parquet(p).count() == 2
    import json

    with open(sidecar, encoding="utf-8") as fh:
        assert json.load(fh)["buckets"] == 8


def test_linking_pair_plan_has_no_sort_windows(spark):
    """The containment probe, bm25 probe/top-1, and refine gram probe are
    all rank-1/top-k selections rewritten as map-side-combinable
    aggregations (struct MIN / sorted collect_list slice): the pair
    generators' plans must contain NO Window operator — a full-sort window
    over the token/gram tables was the dominant linking cost in
    multi-process mode (97s -> 51s at 30k pages when removed)."""
    from ontologybasedkgcreation_spark.operators import linking

    rows = [
        ("Court", "Court", f"k{i}", {"courtName": f"Court {i} Of State"},
         f"Court {i} Of State", ["Court"])
        for i in range(6)
    ]
    nodes = linking.tokenized_node_frame(
        spark.createDataFrame(
            rows,
            "labels_str string, head_label string, pre_key string, "
            "props map<string,string>, identity string, labels array<string>",
        ),
        abbrevs={},
    )
    tok = (
        linking.term_index(nodes)
        .filter(F.col("kind") == "token")
        .withColumnRenamed("term", "token")
    )
    for name, frame in (
        ("lexical_pairs", linking.lexical_pairs(nodes)),
        ("bm25_adopt_pairs", linking.bm25_adopt_pairs(tok)),
    ):
        assert "Window" not in _plan(frame, "simple"), name


def test_shingles_dedupe_within_rows(spark):
    """shingles() dedupes each document's shingles inside its row
    (array_distinct), never with a corpus-wide .distinct(): the plan has
    no exchange and no aggregate."""
    from ontologybasedkgcreation_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c")], "doc_id long, text string"
    )
    plan = _plan(dedup.shingles(df, "doc_id", "text"), "simple")
    assert "Exchange" not in plan and "Aggregate" not in plan, plan


def _planned_exchanges(df):
    """The exchanges the planner added to ``df``'s physical plan to meet a
    distribution requirement (origin ENSURE_REQUIREMENTS), not counting
    the plans inside cached relations or explicit repartitions."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange" and (
            node.shuffleOrigin().toString() == "ENSURE_REQUIREMENTS"
        ):
            found.append(node.toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def test_cc_message_join_plans_no_exchange(spark):
    """connected_components' message join reads sym and the comp table
    hash-partitioned alike on the node key: the planner adds no Exchange,
    in the first round (comp0, derived from sym) and in later ones (a
    doubled comp table, re-keyed the way a round re-keys it)."""
    from ontologybasedkgcreation_spark.operators import linking

    pairs = spark.createDataFrame(
        [(f"k{i}", f"k{i + 1}") for i in range(6)], "a string, b string"
    )
    sym, comp0 = linking.cc_edges(pairs)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        assert _planned_exchanges(linking.cc_messages(sym, comp0)) == []
        later = comp0.localCheckpoint().repartition(n, "pre_key")
        assert _planned_exchanges(linking.cc_messages(sym, later)) == []
    finally:
        sym.unpersist()


def test_link_nodes_consolidates_once(spark):
    """build_graph's mapping, nodes and rewired edges all read ONE
    consolidated checkpoint that link_nodes materialized: none of their
    plans aggregates, and materializing all three runs a pinned handful of
    jobs (it ran about thirty when each re-ran the consolidation)."""
    from conftest import assigned_frame

    from ontologybasedkgcreation_spark.operators import linking

    case = {"hasCaseID": "Criminal Appeal No. 1 Of 2015", "hasCaseName": "A Versus B"}
    rows = [
        ("u1", "CourtCase", case, "hasRulingOf", "Court",
         {"courtName": "Madras High Court"}),
        ("u2", "CourtCase", case, "hasRulingOf", "Court",
         {"courtName": "Madras High Court Chennai"}),
        ("u2", "CourtCase", case, "hasJudge", "Judge", {"name": "A. Deshmukh"}),
    ]
    g = linking.build_graph(assigned_frame(spark, rows))
    for name in ("mapping", "nodes", "edges"):
        assert "Aggregate" not in _plan(g[name], "simple"), name
    sc = spark.sparkContext
    sc.setJobGroup("materialize-linked", "materialize-linked")
    try:
        for name in ("mapping", "nodes", "edges"):
            g[name].write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("materialize-linked")) <= 6


def test_graph_match_label_filter_pushed_to_scan(spark, tmp_path):
    """match_chain's pushable predicates must reach the parquet reader:
    the relationship equality lands in PushedFilters, and the node label
    test (an OR over the labels array — not parquet-pushable; the 100 TB
    answer is head_label partitioning) still evaluates scan-side, directly
    above the node scan and BEFORE any join."""
    from ontologybasedkgcreation_spark.operators.graph_query import match_chain

    nodes = spark.createDataFrame(
        [("k1", "CourtCase", ["CourtCase"], {"hasCaseID": "c1"}),
         ("k2", "Judge", ["Judge"], {"name": "J"})],
        "node_key string, head_label string, labels array<string>, "
        "props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("k1", "hasJudge", "k2")],
        "src_key string, relationship string, dst_key string",
    )
    np_, ep = str(tmp_path / "nodes"), str(tmp_path / "edges")
    nodes.write.parquet(np_)
    edges.write.parquet(ep)
    got = match_chain(
        spark.read.parquet(np_),
        spark.read.parquet(ep),
        [("CourtCase", "hasJudge", "Judge")],
    )
    plan = _plan(got)
    pushed = [
        seg.splitlines()[0] for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("EqualTo(relationship,hasJudge)" in p for p in pushed), pushed
    # label predicate evaluates pre-join: a Filter naming head_label occurs,
    # and no join operator appears between it and its scan (formatted plans
    # list Filter(n) holds for the subtree right above Scan(n-1))
    assert "head_label" in plan
    filt_sections = [
        seg for seg in plan.split("Filter ")[1:] if "head_label" in
        seg.splitlines()[0]
    ] or [
        seg for seg in plan.split("+- Filter")[1:] if "head_label" in seg[:300]
    ]
    assert filt_sections, plan
    assert got.count() == 1


def test_semantic_sample_filter_pushes_below_extraction(spark):
    """The auto-train hash sample keys on url, so Catalyst pushes the
    sample filter BELOW the html->text ArrowEvalPython projection: only
    the sampled documents pay the decode (a text-keyed sample would
    force a full-corpus extraction pass just to pick the sample)."""
    from pyspark.sql import functions as F

    from ontologybasedkgcreation_spark.sources.pages import extract_pages

    pages = spark.range(0, 1000).select(
        F.concat(F.lit("http://x/"), F.col("id")).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<pre>doc "), F.col("id"), F.lit("</pre>")),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    ext = extract_pages(pages)
    sampled = ext.filter(F.pmod(F.xxhash64("url"), F.lit(50)) == 0).select(
        "text"
    )
    plan = sampled._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan and "Filter" in plan
    # the Filter node must sit BELOW the ArrowEvalPython node
    assert plan.index("ArrowEvalPython") < plan.index("Filter (pmod(xxhash64")
    # and the corpus-size count never evaluates the decode at all
    cnt_plan = (
        ext.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "ArrowEvalPython" not in cnt_plan


def test_triangle_pipeline_has_no_cartesian(spark):
    """The degree-ordered triangle/clustering pipeline must stay
    equi-join only — a naive formulation degenerates to nested-loop /
    cartesian joins, which is the scale-killer the orientation exists to
    prevent."""
    import __spark_entry__ as entry

    for q in (entry.q_graph_triangles, entry.q_graph_clustering):
        plan = _plan(q(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_hashed_feature_models_join_broadcast_and_jvm_only(spark):
    """DSIR importance weights and classifier scoring: the
    num_buckets-row model/distribution tables must enter the corpus-side
    plan as BroadcastHashJoins, with zero Python evaluation nodes."""
    import __spark_entry__ as entry

    for q in (entry.q_importance_weights, entry.q_quality_classifier):
        plan = _plan(q(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


def test_weighted_sample_is_take_ordered(spark):
    """Top-k by exponential key must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    import __spark_entry__ as entry

    plan = _plan(entry.q_weighted_sample(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_temporal_ops_single_key_exchange(spark):
    """asof_join (union + ordered window) and sessionize (two windows,
    same spec) must each plan exactly ONE hash-partitioning exchange —
    the whole point of their formulations; a second shuffle means the
    windows stopped sharing the key sort."""
    import __spark_entry__ as entry

    for name in ("asof_join", "sessionize"):
        plan = _plan(entry.queries()[name](spark, SF), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, name


def _assert_one_gated_decode(plan):
    """Exactly one ArrowEvalPython html decode, with the raw-text anchor
    gate Filter (null text passes, else a grammar literal) below it."""
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    decodes = [
        i for i, ln in enumerate(lines)
        if "ArrowEvalPython" in ln and "_decode(" in ln
    ]
    assert len(decodes) == 1, plan
    gates = [
        i for i, ln in enumerate(lines)
        if "Filter" in ln and "isnull(text" in ln and "Contains(" in ln
    ]
    assert gates and min(gates) > decodes[0], plan


def test_resume_stage_decodes_once_below_gate(spark, tmp_path):
    """The checkpointed resume runs the shared per-page stage: one decode
    per row, gated on the raw text."""
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.plans.resume import CheckpointedPipeline

    pages, _ = fixtures.pages_df(spark, 4)
    cp = CheckpointedPipeline(spark, str(tmp_path / "cp"), n_buckets=4)
    stage = cp.bucket_triples(pages, [0, 1])
    _assert_one_gated_decode(stage._jdf.queryExecution().optimizedPlan().toString())
