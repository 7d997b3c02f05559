"""Checkpointed, resumable execution with per-partition lineage.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics so any executor failure replays only unfinished partitions."

Design (replaces the reference's Celery retry-the-whole-PDF model,
kg_creator/src/tasks.py:86-123):

- The *expensive, embarrassingly-parallel* stage — text extraction, triple
  extraction, validation, property assignment (~all the CPU at 10^12
  pages), i.e. ``pipeline.assigned_triples`` — is checkpointed: pages are
  bucketed by ``pmod(xxhash64(url), n_buckets)`` and the per-url stage
  output is written bucket-by-bucket with dynamic partition overwrite
  (idempotent per bucket).  A ``_lineage`` table records (stage, bucket,
  rows, wall-clock) after each bucket lands; on restart, finished buckets
  are anti-joined away and only the remainder replays.

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

import json
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..ontology import Ontology, load_ontology
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
        self.base_path = base_path
        self.onto = onto or load_ontology()
        self.n_buckets = n_buckets
        # NOTE: dynamic partition overwrite is requested per-write
        # (.option("partitionOverwriteMode", "dynamic") on each bucket-scoped
        # write below) — never via session conf, which would silently turn
        # every OTHER partitioned overwrite in the session (e.g.
        # GraphWriter.write's full replace) into a partial one.

    # -- lineage ------------------------------------------------------------

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.base_path, "_lineage")

    def done_buckets(self, stage: str) -> List[int]:
        try:
            df = self.spark.read.parquet(self.lineage_path)
        except Exception:
            return []
        # lineage is only valid for the bucketing it was written under —
        # a different n_buckets re-hashes urls, so stale rows must not
        # mark anything done (probe-found hazard)
        return [
            r["bucket"]
            for r in df.filter(
                (F.col("stage") == stage)
                & (F.col("n_buckets") == self.n_buckets)
            )
            .select("bucket")
            .distinct()
            .collect()
        ]

    def _mark_done(self, stage: str, rows_per_bucket: Dict[int, int]) -> None:
        now = time.time()
        recs = [
            (stage, int(b), int(n), float(now), int(self.n_buckets))
            for b, n in rows_per_bucket.items()
        ]
        self.spark.createDataFrame(
            recs,
            "stage string, bucket int, rows long, finished_at double, "
            "n_buckets int",
        ).write.mode("append").parquet(self.lineage_path)

    # -- stage 1: per-url checkpointed triples -------------------------------

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col("url")), F.lit(self.n_buckets)).cast("int")

    def bucket_triples(self, pages: DataFrame, buckets: List[int]) -> DataFrame:
        """The assigned triples of ``buckets``' pages, + ``bucket`` — the
        per-page stage over a bucket subset.  The bucket is a function of
        the url, so the triples recompute it instead of joining back to
        the pages."""
        subset = pages.filter(self._bucket().isin([int(b) for b in buckets]))
        return pipeline.assigned_triples(self.spark, subset, self.onto)[
            "assigned"
        ].withColumn("bucket", self._bucket())

    def run_assigned_stage(
        self, pages: DataFrame, fail_after_buckets: Optional[int] = None
    ) -> str:
        """Process only pending buckets; returns the checkpoint path.

        ``fail_after_buckets`` limits how many pending buckets are processed
        this call — the crash-injection hook for resume tests.
        """
        out_path = os.path.join(self.base_path, ASSIGNED_STAGE)
        done = set(self.done_buckets(ASSIGNED_STAGE))
        # buckets are range(n_buckets) BY CONSTRUCTION (pmod hash) — never
        # scan the input just to enumerate them (at 10^12 pages that scan
        # reads the whole corpus before any work starts); empty buckets cost
        # one no-op partition and a rows=0 lineage row
        pending = sorted(b for b in range(self.n_buckets) if b not in done)
        if fail_after_buckets is not None:
            pending = pending[:fail_after_buckets]
        if not pending:
            return out_path

        assigned = self.bucket_triples(pages, pending)
        # per-bucket row counts ride the write action itself (one conditional
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
        (
            assigned.repartition("bucket")
            .write.mode("overwrite")
            # per-write dynamic overwrite: replay replaces ONLY the buckets
            # present in this subset, independent of session conf
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )
        # lineage recorded only after the write committed
        got = obs.get
        counts = {b: int(got[f"b{b}"] or 0) for b in pending}
        self._mark_done(ASSIGNED_STAGE, counts)
        return out_path

    # -- whole run ------------------------------------------------------------

    def run(self, pages: DataFrame) -> Dict[str, DataFrame]:
        """Finish the pending buckets, then run ``run_pipeline``'s graph
        stage over the whole checkpoint table."""
        path = self.run_assigned_stage(pages)
        assigned = self.spark.read.parquet(path).drop("bucket")
        return pipeline.graph_tables(self.spark, assigned, extract_pages(pages))

    def status(self) -> str:
        done = self.done_buckets(ASSIGNED_STAGE)
        return json.dumps(
            {"stage": ASSIGNED_STAGE, "done_buckets": sorted(done)}
        )
