"""Kill-and-resume: a crash mid-run replays only unfinished partitions and the
final graph is byte-identical to a single-shot run (north rule)."""

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import fixtures, pipeline
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

    single = pipeline.run_pipeline(spark, pages)
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
    lineage_rows = spark.read.parquet(cp.lineage_path).count()
    # second invocation: nothing pending -> no new lineage rows
    cp.run_assigned_stage(pages)
    assert spark.read.parquet(cp.lineage_path).count() == lineage_rows


def test_lineage_metrics_present(spark, pages, tmp_path):
    base = str(tmp_path / "cp2")
    cp = CheckpointedPipeline(spark, base, n_buckets=8)
    cp.run_assigned_stage(pages)
    lin = spark.read.parquet(cp.lineage_path)
    assert lin.filter(F.col("stage") == ASSIGNED_STAGE).count() > 0
    assert set(lin.columns) == {"stage", "bucket", "rows", "finished_at", "n_buckets"}
