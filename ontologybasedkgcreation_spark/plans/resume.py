"""Checkpointed, resumable execution with per-partition lineage.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics so any executor failure replays only unfinished partitions."

Design (replaces the reference's Celery retry-the-whole-PDF model,
kg_creator/src/tasks.py:86-123):

- The *expensive, embarrassingly-parallel* stage — text extraction, triple
  extraction, validation, property assignment (~all the CPU at 10^12
  pages), i.e. ``pipeline.assigned_triples`` — is checkpointed in a
  ``GraphWriter`` table: pages are bucketed by the writer's url bucket
  hash and the per-url stage output of the pending buckets is stored with
  ``GraphWriter.merge`` (dynamic partition overwrite, idempotent per
  bucket).  The writer's ``_lineage`` table records one (stage, bucket,
  rows, wall-clock) row per bucket after its rows land; on restart,
  finished buckets are skipped and only the remainder replays.  The
  writer's bucket-count sidecar pins the bucketing: reopening with another
  ``n_buckets`` raises ValueError instead of mixing two hashes.

- The *global reduce* — ``pipeline.graph_tables``: linking, connected
  components, consolidation, node/edge tables and the paragraph subgraph —
  is a deterministic function of the checkpointed triples and the pages
  (content-hashed keys, order-insensitive aggregates), so it is simply re-run
  over the full checkpoint table; at cluster scale this is the cheap stage
  (entity-keyed shuffles over the already-distilled triples, a tiny fraction
  of page bytes).

Idempotence invariant (tested): crash-and-resume produces the same node,
edge and paragraph tables as the single-shot ``pipeline.run_pipeline``.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..ontology import Ontology, load_ontology
from ..operators.materialize import GraphWriter, read_stored_table
from ..sources.pages import extract_pages

ASSIGNED_STAGE = "assigned_triples"


class CheckpointedPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        onto: Optional[Ontology] = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.onto = onto or load_ontology()
        self.n_buckets = n_buckets
        # the checkpoint table is a GraphWriter table: its bucket hash,
        # partitioned write, bucket-count sidecar and _lineage
        self.writer = GraphWriter(base_path, buckets=n_buckets)

    def done_buckets(self, stage: str) -> List[int]:
        """Buckets whose ``stage`` rows landed.  Raises ValueError when the
        checkpoint was written under another bucket count: its lineage
        names buckets of another hash."""
        self.writer.assert_buckets(stage)
        df = read_stored_table(self.spark, self.writer.lineage_path)
        if df is None:
            return []
        return [
            r["bucket"]
            for r in df.filter(F.col("stage") == stage)
            .select("bucket")
            .distinct()
            .collect()
        ]

    # -- stage 1: per-url checkpointed triples -------------------------------

    def bucket_triples(self, pages: DataFrame, buckets: List[int]) -> DataFrame:
        """The assigned triples of ``buckets``' pages, + ``bucket`` — the
        per-page stage over a bucket subset.  The bucket is a function of
        the url, so the triples recompute it instead of joining back to
        the pages."""
        bucket = self.writer.bucket_col("url")
        subset = pages.filter(bucket.isin([int(b) for b in buckets]))
        return pipeline.assigned_triples(self.spark, subset, self.onto)[
            "assigned"
        ].withColumn("bucket", bucket)

    def run_assigned_stage(
        self, pages: DataFrame, fail_after_buckets: Optional[int] = None
    ) -> str:
        """Process only pending buckets; returns the checkpoint path.

        ``fail_after_buckets`` limits how many pending buckets are processed
        this call — the crash-injection hook for resume tests.
        """
        done = set(self.done_buckets(ASSIGNED_STAGE))
        # buckets are range(n_buckets) BY CONSTRUCTION (pmod hash) — never
        # scan the input just to enumerate them (at 10^12 pages that scan
        # reads the whole corpus before any work starts); empty buckets cost
        # one no-op partition and a rows=0 lineage row
        pending = sorted(b for b in range(self.n_buckets) if b not in done)
        if fail_after_buckets is not None:
            pending = pending[:fail_after_buckets]
        out_path = os.path.join(self.writer.base_path, ASSIGNED_STAGE)
        if not pending:
            return out_path

        assigned = self.bucket_triples(pages, pending)
        # per-bucket row counts ride the stage's one action (one conditional
        # count per pending bucket) — no second pass re-reading the output
        from pyspark.sql import Observation

        obs = Observation()
        assigned = assigned.observe(
            obs,
            *[
                F.sum(
                    F.when(F.col("bucket") == int(b), 1).otherwise(0)
                ).alias(f"b{b}")
                for b in pending
            ],
        )
        # merge replaces ONLY the pending buckets' urls (a replayed bucket
        # is idempotent); lineage is recorded only after the write committed
        self.writer.merge(ASSIGNED_STAGE, assigned, key="url")
        got = obs.get
        self.writer.append_lineage(
            self.spark,
            ASSIGNED_STAGE,
            [(b, "rows", got[f"b{b}"] or 0) for b in pending],
        )
        return out_path

    # -- whole run ------------------------------------------------------------

    def run(self, pages: DataFrame) -> Dict[str, DataFrame]:
        """Finish the pending buckets, then run ``run_pipeline``'s graph
        stage over the whole checkpoint table."""
        path = self.run_assigned_stage(pages)
        assigned = self.spark.read.parquet(path).drop("bucket")
        return pipeline.graph_tables(self.spark, assigned, extract_pages(pages))
