"""Run one benchmark workload and print its result as the last output line.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 45 --trace 0

Each run is one fresh process that does what a user's job does: start a
Spark session, then run one operation on the engine from cold, the way a
``spark-submit`` of ``main_kg.py`` or a periodic maintenance job does.  The
operation is not repeated while ``--seconds`` lasts, since a repeat would
run on a warm engine.  Workloads (see ``perfbench/README.md``):

- ``batch_build``: one ``pipeline.run_pipeline`` over a stored table of
  20 KB pages (every 5th html-only), with the paragraph subgraph and the
  label/relationship-partitioned ``GraphWriter``;
- ``reconcile_skew``: the global ``streaming.ingest.reconcile_graph`` over a
  stored graph with head-entity skew.

``--trace 0`` times the engine's public calls and prints the end-to-end
metrics; ``--trace 1`` replays the same program one layer at a time (see
``perfbench/layers.py``) with the Spark event log on and prints the
per-layer metrics.  Either mode runs the correctness checks.  A failed check
or operation exits 1 and an engine that cannot be imported exits 2, both
without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# graph fingerprints (and untraced graph times) by workload and seed, kept
# across runs in one checkout: a later run of the same seed, traced or not,
# must produce the same graph
STORE = os.path.join(WORK_ROOT, "fingerprints.json")

WORKLOADS = ("batch_build", "reconcile_skew")

# batch_build: 20 KB pages, every 10th page Hindi, every 5th html-only.
# Below the semantic trainer's 1000-page floor: the trainer does not run.
BATCH_PAGES = 20
BATCH_CHARS = 20_000

# reconcile_skew: the global reconcile over a stored skewed graph; hot
# tokens stay above the linker's df cap, the candidate-free zone-w tranche
# included (from 3337 nodes on).
SKEW_NODES = 4_000

# end-to-end metric -> unit; an untraced run prints exactly these.  Both
# count CPU seconds; the wall times go to the meta line.  On a shared
# virtual host wall time swings with the CPU time other guests take: over
# ten runs its interquartile range reached a quarter of the median, and its
# median moved by a third between hours, far more than CPU time did.
END_TO_END = {"setup_s": "s", "graph_cpu_s": "s"}

BATCH_WRITER = {"node_partition_col": "head_label", "edge_partition_col": "relationship"}


def writer_opts(**partitioning) -> dict:
    """GraphWriter options: key buckets fitted to the host like the shuffle
    partitions (nproc instead of the default 32, which turns a small graph
    into thousands of tiny files)."""
    from perfbench import host

    return {"buckets": host.nproc(), **partitioning}


class CheckFailed(Exception):
    pass


class Run:
    """Counts, metadata and metrics of one run."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.meta: dict = {"workload": args.workload, "seed": args.seed}
        self.metrics: dict = {}
        self.graph_s = 0.0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def op(self) -> None:
        self.attempted += 1

    def check(self, name: str, ok: bool, detail) -> None:
        self.attempted += 1
        self.meta.setdefault("checks", {})[name] = {"ok": ok, "detail": detail}
        if not ok:
            self.failed += 1
            raise CheckFailed(f"{name}: {detail}")

    @contextmanager
    def timed(self, spark):
        """The timed call; set-up ends where it starts.  ``setup_s`` is the
        CPU seconds this process, the JVM and its Python workers spent until
        then; ``graph_cpu_s`` is the CPU seconds the JVM and its workers
        spend in the block, ``graph_s`` its wall seconds.  Also records the
        peak RSS of the JVM and its workers during the block."""
        from perfbench import host

        pid = host.jvm_process(spark).pid
        jvm_cpu = host.tree_cpu_s(pid)
        self.setup_s = time.process_time() + jvm_cpu
        t0 = time.perf_counter()
        with host.RssPoller(pid) as rss:
            yield
        self.graph_s = time.perf_counter() - t0
        self.graph_cpu_s = host.tree_cpu_s(pid) - jvm_cpu
        self.meta.update(
            setup_wall_s=t0 - T_PROCESS, graph_s=self.graph_s,
            peak_rss_mb=rss.peak / 2**20,
        )

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = {"value": value, "unit": END_TO_END[name]}


def _load_store() -> dict:
    try:
        with open(STORE, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def verify_graph(run: Run, graph_path: str, size: dict, truth_name: str, truth) -> None:
    """The stored graph must be right.  Every run checks it against ground
    truth (``truth``, a call returning ``(ok, detail)``).  The first run of a
    workload, seed and size in this checkout records its fingerprint; every
    later run, traced or not, must reproduce it, which pins the same node
    and edge keys and so the same triples."""
    from perfbench import checks

    run.check(truth_name, *truth())
    fp = checks.fingerprint(graph_path)
    run.meta["fingerprint"] = fp
    key = f"{run.args.workload}:{run.args.seed}:" + json.dumps(size, sort_keys=True)
    store = _load_store()
    entry = store.get(key)
    if entry is None:
        entry = store[key] = {"fingerprint": fp, "untraced_graph_s": []}
    if not run.args.trace:
        entry["untraced_graph_s"] = (entry["untraced_graph_s"] + [run.graph_s])[-5:]
    # 0 when no untraced run of this seed came first in this checkout
    run.untraced_graph_s = statistics.median(entry["untraced_graph_s"] or [0.0])
    run.check("fingerprint_matches_earlier_runs", fp == entry["fingerprint"],
              {"this": fp, "earlier": entry["fingerprint"]})
    with open(STORE, "w", encoding="utf-8") as fh:
        json.dump(store, fh, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# batch_build
# ---------------------------------------------------------------------------


def batch_build(run: Run, spark, onto, tracer) -> None:
    from ontologybasedkgcreation_spark import pipeline
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter

    from perfbench import checks, inputs, layers

    first = inputs.page_offset(run.args.seed, BATCH_PAGES)
    pages_path = inputs.write_pages(
        run.path("pages", "pages.parquet"), first, BATCH_PAGES, BATCH_CHARS
    )
    size = {"pages": BATCH_PAGES, "chars_per_page": BATCH_CHARS}
    run.meta["input"] = {
        **size, "first_page": first,
        "html_only_pages": sum(map(inputs.html_only, range(first, first + BATCH_PAGES))),
    }

    run.op()
    with run.timed(spark):
        pages = spark.read.parquet(pages_path)
        if tracer is None:
            writer = GraphWriter(run.path("graph"), **writer_opts(**BATCH_WRITER))
            pipeline.run_pipeline(
                spark, pages, onto=onto, with_paragraphs=True, writer=writer
            )
        else:
            writer = layers.TracedWriter(
                run.path("graph"), tracer, **writer_opts(**BATCH_WRITER)
            )
            layers.traced_pipeline(
                spark, tracer, pages, onto=onto, with_paragraphs=True, writer=writer
            )

    run.meta["pages_per_s"] = BATCH_PAGES / run.graph_s
    verify_graph(run, run.path("graph"), size, "precision_recall",
                 lambda: checks.precision_recall(run.path("graph"), first, BATCH_PAGES))


# ---------------------------------------------------------------------------
# reconcile_skew
# ---------------------------------------------------------------------------


def reconcile_skew(run: Run, spark, onto, tracer) -> None:
    from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
    from ontologybasedkgcreation_spark.streaming import ingest

    from perfbench import checks, inputs, layers

    first = inputs.input_index(run.args.seed) * SKEW_NODES
    size = {"nodes": SKEW_NODES}
    run.meta["input"] = {**size, "first_node": first}
    if tracer is None:
        writer = GraphWriter(run.path("graph"), **writer_opts())
    else:
        writer = layers.TracedWriter(run.path("graph"), tracer, **writer_opts())
    # the stored graph, written untraced
    GraphWriter.write(writer, "nodes", inputs.skew_nodes(spark, first, SKEW_NODES),
                      key="node_key")
    GraphWriter.write(writer, "edges", inputs.skew_edges(spark, first, SKEW_NODES))

    run.op()
    with run.timed(spark):
        if tracer is None:
            ingest.reconcile_graph(spark, writer)
        else:
            with tracer.span("reconcile"):
                ingest.reconcile_graph(spark, writer)

    verify_graph(run, run.path("graph"), size, "skew_partition",
                 lambda: checks.skew_partition(
                     run.path("graph"), first, SKEW_NODES))


# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import ontologybasedkgcreation_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    from perfbench import host, inputs, trace

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    run.meta["env"] = host.pin_environment(
        ROOT, work, os.path.join(ROOT, "perfbench", "no-abbreviations")
    )
    run.meta["env"]["abbreviations"] = "built-in (the pinned path holds no file)"
    run.meta["env"]["ontology"] = os.path.relpath(inputs.ONTOLOGY_PATH, ROOT)

    spark = tracer = None
    code = 1
    try:
        t0 = time.perf_counter()
        spark = host.start_session(work, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        run.meta["settings"] = host.host_settings(spark)

        from ontologybasedkgcreation_spark.ontology import parse_owl

        t0 = time.perf_counter()
        onto = parse_owl(inputs.ONTOLOGY_PATH)
        parse_s = time.perf_counter() - t0

        tracer = trace.Tracer(spark) if args.trace else None
        workload = batch_build if args.workload == "batch_build" else reconcile_skew
        # one operation, from cold: running it again while --seconds allow
        # would time a warm engine, which no user of a batch job sees
        workload(run, spark, onto, tracer)
        if tracer is not None:
            probe_s, probe_cpu_s = host.calibration_probe(spark)
            run.meta.update(calibration_probe_s=probe_s, calibration_probe_cpu_s=probe_cpu_s)
        code = 0
    except CheckFailed as exc:
        print(f"perfbench: check failed: {exc}", file=sys.stderr)
    finally:
        if spark is not None:
            host.stop_session(spark)

    if code == 0:
        run.metric("setup_s", run.setup_s)
        run.metric("graph_cpu_s", run.graph_cpu_s)
        if tracer is not None:
            from perfbench import layers

            run.metrics = layers.per_layer_metrics(
                tracer, trace.read_event_log(os.path.join(work, "eventlog")),
                session_s=session_s, parse_s=parse_s, cores=host.nproc(),
                untraced_s=run.untraced_graph_s, traced_s=run.graph_s,
            )
            if not run.untraced_graph_s:
                run.meta["trace_overhead"] = (
                    "not measured (reported as 0): no untraced run of this "
                    "seed came first in this checkout"
                )
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": run.meta}, default=str), flush=True)
    if code != 0:
        return code
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
