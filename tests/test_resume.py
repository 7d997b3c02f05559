"""Kill-and-resume: a crash mid-run replays only unfinished partitions and the
final graph is byte-identical to a single-shot run (north rule)."""

import os

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import fixtures, pipeline
from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
from ontologybasedkgcreation_spark.plans.resume import (
    ASSIGNED_STAGE,
    CheckpointedPipeline,
)


@pytest.fixture()
def pages(spark):
    p, _ = fixtures.pages_df(spark, 16, non_en_every=8)
    return p


def _key_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


EDGE_COLS = ["src_key", "relationship", "dst_key", "url", "span_start"]


def test_crash_and_resume_identical(spark, pages, tmp_path):
    """Crash after 3 buckets, resume: the graph tables equal the single-shot
    run_pipeline's on the same pages (the same graph stage runs over the
    checkpoint table)."""
    cp = CheckpointedPipeline(spark, str(tmp_path / "resumed"), n_buckets=8)
    cp.run_assigned_stage(pages, fail_after_buckets=3)
    done_after_crash = set(cp.done_buckets(ASSIGNED_STAGE))
    assert 0 < len(done_after_crash) <= 3
    resumed = cp.run(pages)  # resume: only the remainder replays
    assert done_after_crash < set(cp.done_buckets(ASSIGNED_STAGE))

    single = pipeline.run_pipeline(spark, pages, with_paragraphs=True)
    for name, cols in [
        ("nodes", ["node_key"]),
        ("edges", EDGE_COLS + ["triple_id"]),
        ("paragraph_nodes", ["node_key"]),
        ("paragraph_edges", EDGE_COLS),
    ]:
        want = _key_set(single[name], cols)
        assert want and _key_set(resumed[name], cols) == want, name


def test_resume_is_noop_when_done(spark, pages, tmp_path):
    base = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, base, n_buckets=8)
    cp.run(pages)
    lineage_rows = spark.read.parquet(cp.writer.lineage_path).count()
    # second invocation: nothing pending -> no new lineage rows
    cp.run_assigned_stage(pages)
    assert spark.read.parquet(cp.writer.lineage_path).count() == lineage_rows


def test_lineage_metrics_present(spark, pages, tmp_path):
    base = str(tmp_path / "cp2")
    cp = CheckpointedPipeline(spark, base, n_buckets=8)
    cp.run_assigned_stage(pages)
    lin = spark.read.parquet(cp.writer.lineage_path)
    assert lin.filter(F.col("stage") == ASSIGNED_STAGE).count() > 0
    assert set(lin.columns) == {
        "stage", "bucket", "metric", "value", "finished_at"
    }


def test_unreadable_lineage_raises(spark, tmp_path):
    """done_buckets reads a missing lineage as 'nothing done' but raises on
    one it cannot read, instead of silently replaying every bucket."""
    import glob

    from py4j.protocol import Py4JJavaError

    cp = CheckpointedPipeline(spark, str(tmp_path), n_buckets=4)
    assert cp.done_buckets(ASSIGNED_STAGE) == []
    cp.writer.append_lineage(
        spark, ASSIGNED_STAGE, [(0, "rows", 5), (1, "rows", 3)]
    )
    assert sorted(cp.done_buckets(ASSIGNED_STAGE)) == [0, 1]
    for f in glob.glob(os.path.join(cp.writer.lineage_path, "*.parquet")):
        with open(f, "r+b") as fh:
            fh.seek(os.path.getsize(f) - 12)
            fh.write(b"\0" * 12)
    with pytest.raises(Py4JJavaError):
        cp.done_buckets(ASSIGNED_STAGE)


def _files(base):
    return sorted(
        (os.path.relpath(os.path.join(d, f), base),
         os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, fs in os.walk(base)
        for f in fs
    )


def test_reopen_with_other_bucket_count_raises(spark, pages, tmp_path):
    """A checkpoint written with n_buckets=8 and reopened with 4 raises,
    naming both counts, before any bucket is skipped or written — with
    buckets pending and with none.  Mixing the two hashes would leave the
    stale bucket=4..7 files in the table and duplicate their edges."""
    base = str(tmp_path / "cp")
    CheckpointedPipeline(spark, base, n_buckets=8).run_assigned_stage(
        pages, fail_after_buckets=2
    )
    for _ in range(2):
        before = _files(base)
        with pytest.raises(ValueError, match=r"buckets=4\b.*buckets=8\b"):
            CheckpointedPipeline(spark, base, n_buckets=4).run(pages)
        assert _files(base) == before
        # finish under the pinned count: now nothing is pending under 4
        CheckpointedPipeline(spark, base, n_buckets=8).run_assigned_stage(pages)


def test_checkpoint_and_graph_share_lineage(spark, pages, tmp_path):
    """A checkpoint and persist_graph in one base directory write one
    _lineage table: the done buckets and the graph's counts both read
    back from it."""
    base = str(tmp_path / "shared")
    cp = CheckpointedPipeline(spark, base, n_buckets=8)
    counts = pipeline.persist_graph(spark, cp.run(pages), GraphWriter(base))
    assert sorted(cp.done_buckets(ASSIGNED_STAGE)) == list(range(8))
    lin = spark.read.parquet(os.path.join(base, "_lineage"))
    stored = {
        r["metric"]: r["value"]
        for r in lin.filter(F.col("stage") == "persist_graph").collect()
    }
    assert stored == counts and counts["edges"] > 0
