"""The benchmark's own code at tiny sizes, without a Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, layers, run, trace  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_pages_are_deterministic_per_seed_and_differ_across_seeds():
    def pages(seed):
        return inputs.page_rows(inputs.page_offset(seed, 12), 12, 4200)

    assert pages(3) == pages(3)
    assert {r["url"] for r in pages(3)}.isdisjoint(r["url"] for r in pages(4))
    assert [r["lang"] for r in pages(0)].count("hi") == 1
    # pages 2 and 7 arrive html-only; every page keeps its html
    assert [i for i, r in enumerate(pages(0)) if r["text"] is None] == [2, 7]
    assert all(r["html"] for r in pages(0))
    # any seed gives valid pages: seeds wrap around to small indices
    assert pages(2**31 - 1) == pages(2**31 - 1 - inputs.SEED_SLOTS)
    assert inputs.page_offset(-1, 12) == (inputs.SEED_SLOTS - 1) * 12


def test_skew_groups_follow_the_planted_shapes():
    n = 4_000
    cls = [inputs.skew_class(i, n) for i in range(400, 1200)]
    assert cls == [inputs.skew_class(i, n) for i in range(400, 1200)]
    # planted pair i / i + 10 (i % 20 == 6) shares a group; neighbours do not
    assert inputs.skew_class(406, n) == inputs.skew_class(416, n)
    assert inputs.skew_class(416, n) != inputs.skew_class(426, n)
    # the candidate-free zone-w tranche shares one identity and merges
    assert inputs.skew_class(403, n) == inputs.skew_class(1014, n) == inputs.skew_class(805, n)
    # hot-with-unique and cold nodes stay their own
    assert len({inputs.skew_class(i, n) for i in range(400, 1200) if i % 10 in (0, 1, 2, 7, 8, 9)}) == 480
    assert "zone w0" in inputs.skew_identity(5, n)


def _graph(tmp_path, node_keys, follows):
    """A stored graph of only the columns the skew check reads."""
    import pyarrow as pa

    for table, cols in (("nodes", {"node_key": node_keys}),
                        ("edges", {"triple_id": [f"s{i}" for i in follows],
                                   "src_key": list(follows.values())})):
        os.makedirs(tmp_path / table)
        pq.write_table(pa.table(cols), str(tmp_path / table / "part-0.parquet"))
    return str(tmp_path)


def test_skew_partition_catches_over_and_under_merging(tmp_path):
    n = 40
    groups: dict = {}
    for i in range(n):
        groups.setdefault(inputs.skew_class(i, n), f"g{len(groups)}")
    right = {i: groups[inputs.skew_class(i, n)] for i in range(n)}
    ok, detail = checks.skew_partition(
        _graph(tmp_path / "a", sorted(set(right.values())), right), 0, n)
    assert ok and detail["planted_pairs"] == 2 and detail["groups_wrong"] == 0
    over = {**right, 7: right[8]}            # two cold nodes collapsed
    assert not checks.skew_partition(
        _graph(tmp_path / "b", sorted(set(over.values())), over), 0, n)[0]
    under = {**right, 16: "g-extra"}         # a planted pair left apart
    assert not checks.skew_partition(
        _graph(tmp_path / "c", sorted(set(under.values())), under), 0, n)[0]


def test_pages_file_round_trips(tmp_path):
    path = inputs.write_pages(str(tmp_path / "p" / "pages.parquet"), 40, 5, 4200)
    t = pq.read_table(path)
    assert t.schema.equals(inputs.PAGES_SCHEMA)
    assert t.column("url").to_pylist() == [r["url"] for r in inputs.page_rows(40, 5, 4200)]


def test_precision_recall_reads_the_stored_graph(tmp_path):
    """The fixture truth of 10 pages, stored as nodes and edges, scores
    1.0/1.0; a lost edge or a wrong property value lowers it."""
    import pyarrow as pa

    truth = inputs.expected_triples(0, 10)
    nodes, edges = {}, []
    for t in truth:
        keys = []
        for label, props in ((t["subj_label"], t["subj_props"]), (t["obj_label"], t["obj_props"])):
            key = repr((label, sorted(props.items())))
            nodes[key] = (label, props)
            keys.append(key)
        edges.append((keys[0], t["pred"], keys[1]))

    def store(path, edges, nodes):
        os.makedirs(path / "nodes")
        os.makedirs(path / "edges")
        pq.write_table(pa.table({
            "node_key": list(nodes),
            "head_label": [label for label, _ in nodes.values()],
            "props": pa.array([list(p.items()) for _, p in nodes.values()],
                              type=pa.map_(pa.string(), pa.string())),
        }), str(path / "nodes" / "part-0.parquet"))
        pq.write_table(pa.table(dict(zip(("src_key", "relationship", "dst_key"),
                                         map(list, zip(*edges))))),
                       str(path / "edges" / "part-0.parquet"))
        return str(path)

    ok, detail = checks.precision_recall(store(tmp_path / "a", edges, nodes), 0, 10)
    assert ok and detail["matched"] == len({checks._triple_key(
        t["subj_label"], t["subj_props"], t["pred"], t["obj_label"], t["obj_props"]) for t in truth})
    ok, detail = checks.precision_recall(store(tmp_path / "b", edges[1:], nodes), 0, 10)
    assert not ok and detail["precision"] == 1.0 and detail["recall"] < 1.0
    key = edges[0][0]
    label, props = nodes[key]
    wrong = {**nodes, key: (label, {k: v + "x" for k, v in props.items()})}
    assert not checks.precision_recall(store(tmp_path / "c", edges, wrong), 0, 10)[0]


def test_printed_metric_names_equal_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_per_layer_metrics_emit_every_name():
    tracer = trace.Tracer(spark=None)
    metrics = layers.per_layer_metrics(
        tracer, {}, session_s=1.0, parse_s=0.01, cores=4,
        untraced_s=2.0, traced_s=3.0,
    )
    assert list(metrics) == list(layers.PER_LAYER)
    assert metrics["trace.overhead_frac"]["value"] == 0.5
    # no untraced run to compare with: 0, not -100%
    assert layers.per_layer_metrics(
        tracer, {}, session_s=1.0, parse_s=0.01, cores=4, untraced_s=0.0, traced_s=3.0,
    )["trace.overhead_frac"]["value"] == 0.0


def test_layer_wall_excludes_nested_spans():
    tracer = trace.Tracer(spark=None)
    tracer.spans = [
        trace.Span("writer.write", 2.0, 3.0, parent="reconcile"),
        trace.Span("reconcile", 0.0, 5.0),
        trace.Span("writer.write", 6.0, 7.5),
    ]
    metrics = layers.per_layer_metrics(
        tracer, {}, session_s=1.0, parse_s=0.01, cores=4, untraced_s=0.0, traced_s=7.5,
    )
    assert metrics["reconcile.wall_s"]["value"] == 4.0
    assert metrics["writer.write_s"]["value"] == 2.5


def test_event_log_reader_parses_recorded_log():
    with open(os.path.join(DATA, "eventlog.jsonl"), encoding="utf-8") as fh:
        stats = trace.parse_event_lines(fh)
    extract = trace.layer_stats(stats, "extract")
    assert extract.jobs >= 1 and extract.tasks >= 1
    assert extract.task_s > 0
    assert extract.py_sent_bytes > 0 and extract.py_returned_bytes > 0
    assert trace.layer_stats(stats, "reconcile").shuffle_bytes > 0
    assert trace.layer_stats(stats, "writer.write").output_records > 0
    assert sum(g.failed_tasks for g in stats.values()) == 0


def test_event_log_reader_counts_failed_tasks_per_group():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
                    "Properties": {"spark.jobGroup.id": "extract"}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task End Reason": {"Reason": "ExceptionFailure"},
                    "Task Info": {"Failed": True, "Accumulables": []},
                    "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 0}}),
    ]
    stats = trace.parse_event_lines(lines)
    assert trace.layer_stats(stats, "extract").failed_tasks == 1
    assert trace.layer_stats(stats, "extract").task_s == 1.5
    assert trace.layer_stats(stats, "linking").tasks == 0


def test_ontology_subset_covers_fixture_truth():
    """Every relationship of the fixture truth of 60 pages resolves in the
    benchmark's ontology; the runs check P/R 1.0 through the engine."""
    from ontologybasedkgcreation_spark.ontology import parse_owl

    onto = parse_owl(inputs.ONTOLOGY_PATH)
    assert (len(onto.classes), len(onto.object_props), len(onto.datatype_props),
            len(onto.subclass_edges)) == (27, 20, 18, 10)
    truth = inputs.expected_triples(0, 60)
    assert len(truth) > 1000
    for t in truth:
        assert onto.resolve_relationship(t["subj_label"], t["pred"], t["obj_label"])
