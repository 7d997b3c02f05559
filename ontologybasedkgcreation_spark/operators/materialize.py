"""Graph materialization: node/edge tables, Paragraph subgraph, lineage.

Replaces the reference's per-triple Neo4j MERGE round-trips (~6 write
transactions per triple, kg_creator/src/agent_utils.py:249-268) with two
columnar table writes, and the Paragraph bookkeeping subgraph
(``agent_utils.py:210-235``: CourtCase-hasParagraph->Paragraph, chunk-0
CaseMetadata, next/previous chaining, per-entity part_of edges at
``agent_utils.py:258-268``) with window functions and one range join.

Sink: Iceberg ``MERGE INTO`` when an Iceberg catalog is configured, plain
partitioned Parquet otherwise (single writer interface — SURVEY.md §7 step 9).
Tables are partitioned by ``bucket(url)`` so incremental re-runs replay only
unfinished partitions (per-partition lineage rows recorded alongside).
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def paragraph_nodes(chained_chunks: DataFrame) -> DataFrame:
    """Paragraph node per chunk (labels mirror agent_utils.py:215: the chunk
    text + deterministic chunk_id as properties)."""
    return chained_chunks.select(
        F.col("chunk_id").alias("node_key"),
        F.lit("Paragraph").alias("head_label"),
        F.array(F.lit("Paragraph"), F.lit("Structure")).alias("labels"),
        F.map_from_arrays(
            F.array(F.lit("chunk_id"), F.lit("text")),
            F.array(F.col("chunk_id"), F.col("chunk_text")),
        ).alias("props"),
    ).dropDuplicates(["node_key"])


def paragraph_edges(
    chained_chunks: DataFrame,
    case_nodes: Optional[DataFrame] = None,
) -> DataFrame:
    """next/previous chain edges + optional CourtCase-hasParagraph edges.

    ``case_nodes``: (url, node_key) of each document's primary CourtCase.
    """
    nxt = chained_chunks.filter(F.col("next_chunk_id").isNotNull()).select(
        F.col("chunk_id").alias("src_key"),
        F.lit("next").alias("relationship"),
        F.col("next_chunk_id").alias("dst_key"),
        "url",
        F.col("char_start").alias("span_start"),
    )
    prv = chained_chunks.filter(F.col("prev_chunk_id").isNotNull()).select(
        F.col("chunk_id").alias("src_key"),
        F.lit("previous").alias("relationship"),
        F.col("prev_chunk_id").alias("dst_key"),
        "url",
        F.col("char_start").alias("span_start"),
    )
    out = nxt.unionByName(prv)
    if case_nodes is not None:
        has_para = (
            chained_chunks.join(case_nodes, "url")
            .select(
                F.col("node_key").alias("src_key"),
                F.lit("hasParagraph").alias("relationship"),
                F.col("chunk_id").alias("dst_key"),
                "url",
                F.col("char_start").alias("span_start"),
            )
        )
        out = out.unionByName(has_para)
    return out.withColumn("triple_id", F.sha2(F.concat_ws("|", "src_key", "relationship", "dst_key"), 256))


def case_metadata_records(assigned: DataFrame) -> DataFrame:
    """E4 parity: one CaseMetadata record per document — the
    ``CaseMetadataParser`` fields (hasCaseID / hasCourtName / hasCaseName,
    reference ``output_parser.py:22-31``), derived from the document's
    primary header triple (CourtCase-hasRulingOf->Court).

    Candidate tiers mirror :func:`pipeline.primary_case_nodes` (the record
    and the hasParagraph subgraph must agree on which case is primary):

    0. fully-named hasRulingOf — the parsed header (cited priors also emit
       hasRulingOf but carry no hasCaseName);
    1. hasParty with a CourtCase subject — emitted only for the document's
       OWN header block, so a court-name parse miss (no header hasRulingOf)
       still yields the document's own (hasCaseID, hasCaseName) with an
       empty hasCourtName, instead of adopting a cited precedent's id;
    2. unnamed hasRulingOf — body reliance citations, last resort: the
       reference emits metadata per document unconditionally
       (agent_utils.py:221-226), so no document may lose its bookkeeping
       record to a grammar miss.

    Rank-1-per-url is a struct MIN (tier asc, span_start, triple_id), not a
    sort window — map-side combinable like the linking probes."""
    named = F.coalesce(
        F.element_at("node1_props", F.lit("hasCaseName")), F.lit("")
    ) != ""
    ruling = assigned.filter(
        (F.col("relationship") == "hasRulingOf")
        & (F.col("node1_type") == "CourtCase")
    ).select(
        "url",
        F.when(named, 0).otherwise(2).alias("tier"),
        "span_start",
        "triple_id",
        "node1_props",
        F.coalesce(
            F.element_at("node2_props", F.lit("courtName")), F.lit("")
        ).alias("_court"),
    )
    party = assigned.filter(
        (F.col("relationship") == "hasParty")
        & (F.col("node1_type") == "CourtCase")
    ).select(
        "url",
        F.lit(1).alias("tier"),
        "span_start",
        "triple_id",
        "node1_props",
        F.lit("").alias("_court"),
    )
    return (
        ruling.unionByName(party)
        .select(
            "url",
            F.struct(
                F.col("tier").alias("tier"),
                F.col("span_start").alias("span_start"),
                F.col("triple_id").alias("triple_id"),
                F.coalesce(
                    F.element_at("node1_props", F.lit("hasCaseID")), F.lit("")
                ).alias("hasCaseID"),
                F.col("_court").alias("hasCourtName"),
                F.coalesce(
                    F.element_at("node1_props", F.lit("hasCaseName")),
                    F.lit(""),
                ).alias("hasCaseName"),
            ).alias("cand"),
        )
        .groupBy("url")
        .agg(F.min("cand").alias("m"))
        .select(
            "url",
            F.col("m.hasCaseID").alias("hasCaseID"),
            F.col("m.hasCourtName").alias("hasCourtName"),
            F.col("m.hasCaseName").alias("hasCaseName"),
        )
    )


def _case_metadata_text():
    """Deterministic rendering of the record — the stand-in for the
    reference's free-text LLM metadata summary (``state['case_metadata']``,
    agent_utils.py:162, stored as the node's ``text`` property)."""
    return F.concat(
        F.lit("hasCaseID: "), F.col("hasCaseID"),
        F.lit("\nhasCourtName: "), F.col("hasCourtName"),
        F.lit("\nhasCaseName: "), F.col("hasCaseName"),
    )


def case_metadata_nodes(records: DataFrame) -> DataFrame:
    """One CaseMetadata node per document, props ``{text: <metadata>}`` —
    mirrors ``merge_node(["CaseMetadata"], {"text": ...})``
    (agent_utils.py:221); node_key is content-derived like every node."""
    text = _case_metadata_text()
    return records.select(
        F.sha2(F.concat_ws("||", F.lit("CaseMetadata"), text), 256).alias(
            "node_key"
        ),
        F.lit("CaseMetadata").alias("head_label"),
        F.array(F.lit("CaseMetadata")).alias("labels"),
        F.map_from_arrays(
            F.array(F.lit("text")), F.array(text)
        ).alias("props"),
    ).dropDuplicates(["node_key"])


def case_metadata_edges(records: DataFrame, chained_chunks: DataFrame) -> DataFrame:
    """CaseMetadata -hasCaseMetadata-> chunk-0 Paragraph per document
    (agent_utils.py:222-226: created only for the first chunk)."""
    text = _case_metadata_text()
    src = records.select(
        "url",
        F.sha2(F.concat_ws("||", F.lit("CaseMetadata"), text), 256).alias(
            "src_key"
        ),
    )
    first_chunk = chained_chunks.filter(F.col("chunk_index") == 0).select(
        "url", F.col("chunk_id").alias("dst_key"), F.col("char_start")
    )
    return (
        src.join(first_chunk, "url")
        .select(
            "src_key",
            F.lit("hasCaseMetadata").alias("relationship"),
            "dst_key",
            "url",
            F.col("char_start").alias("span_start"),
        )
        .withColumn(
            "triple_id",
            F.sha2(F.concat_ws("|", "src_key", "relationship", "dst_key"), 256),
        )
    )


def part_of_edges(edges: DataFrame, chunks: DataFrame) -> DataFrame:
    """part_of edges from every extracted node mention to the chunk containing
    its evidence span (agent_utils.py:258-268) — a range join on character
    offsets.  With overlap two chunks may contain a span; the earliest wins.

    Earliest-chunk-per-(node, span, url) is a struct MIN, not a
    ``row_number`` sort window — the same rewrite as the linking probes and
    ``primary_case_nodes``: the aggregation partial-combines map-side
    (chunk_index is unique per url, so MIN reproduces the window's rank-1
    exactly), where the window needed a full sort shuffle of the
    mention×chunk join output."""
    c = chunks.select(
        "url", "chunk_id", "chunk_index", "char_start", "char_end"
    )
    mention_keys = (
        edges.select("url", "span_start", F.col("src_key").alias("node_key"))
        .unionByName(
            edges.select("url", "span_start", F.col("dst_key").alias("node_key"))
        )
        .dropDuplicates()
    )
    joined = mention_keys.join(
        c,
        (mention_keys["url"] == c["url"])
        & (mention_keys["span_start"] >= c["char_start"])
        & (mention_keys["span_start"] < c["char_end"]),
    ).drop(c["url"])
    return (
        joined.groupBy("node_key", "span_start", "url")
        .agg(F.min(F.struct("chunk_index", "chunk_id")).alias("m"))
        .select(
            F.col("node_key").alias("src_key"),
            F.lit("part_of").alias("relationship"),
            F.col("m.chunk_id").alias("dst_key"),
            "url",
            "span_start",
        )
        .dropDuplicates(["src_key", "dst_key"])
        .withColumn(
            "triple_id",
            F.sha2(F.concat_ws("|", "src_key", "relationship", "dst_key"), 256),
        )
    )


def format_triples(triples: list) -> str:
    """M5 parity: numbered human-readable triple blocks (mirrors
    ``format_triples``, kg_creator/src/utils.py:602-620) — debug/REPL only;
    the engine's real export is the ``triple_set`` DataFrame."""
    parts = []
    for i, t in enumerate(triples, start=1):
        def props_to_str(props):
            return "\n".join(f"  - {k}: {v}" for k, v in props.items() if v)

        parts.append(
            f"Triple {i}:\n"
            f"{t['subj_label']}:\n{props_to_str(t['subj_props'])}\n\n"
            f"Relationship: {t['pred']}\n\n"
            f"{t['obj_label']}:\n{props_to_str(t['obj_props'])}\n---"
        )
    return "\n\n".join(parts)


# ---------------------------------------------------------------------------
# writer (Iceberg when available, Parquet fallback behind one interface)
# ---------------------------------------------------------------------------


# Hive/Spark partition-directory escaping (ExternalCatalogUtils semantics,
# clean-room): these characters are %XX-escaped in partition dir names, and
# NULL becomes the default-partition sentinel.  The merge vacuum must build
# dir names the way Spark WROTE them or rmtree silently misses stale dirs.
_PART_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def escape_partition_value(v) -> str:
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    out = []
    for ch in str(v):
        if ch in _PART_ESCAPE_CHARS or ch < " ":
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def pruned_stored_rows(spark, path: str, buckets: list) -> DataFrame:
    """Stored rows of the affected buckets only — the literal ``isin`` on
    the partition column prunes the scan statically (PartitionFilters)."""
    return spark.read.parquet(path).filter(
        F.col("bucket").isin([int(b) for b in buckets])
    )


class GraphWriter:
    """nodes/edges/lineage writer behind one interface.

    - ``write``: full (re)materialization.  Parquet: url-bucketed with
      overwrite semantics.  Iceberg: ``createOrReplace`` — a FULL REPLACE,
      not an upsert (requires a configured catalog + runtime jar).
    - ``merge``: incremental upsert for multi-batch graph maintenance.
      Parquet (tested path): new rows are bucketed; ONLY the affected
      buckets are rewritten (dynamic partition overwrite) as
      (old rows whose ``key`` does not collide) ∪ (new rows) — batch N
      adds/replaces its keys without touching batch 1..N-1's buckets.
      The read side is STATICALLY pruned: the affected-bucket list (tiny,
      ≤ ``buckets`` ints) is collected and filtered with a literal
      ``isin``, so the parquet scan's PartitionFilters name only affected
      buckets — no reliance on dynamic partition pruning firing.  The
      surviving old rows are snapshotted (eager ``localCheckpoint``) before
      the overwrite, so the job never reads the files it is replacing.
      Iceberg: delete-matching-keys + append on the catalog table.

    The bucket count is persisted beside the table (``_buckets.json``,
    underscore-prefixed so Spark readers ignore it) and asserted on every
    merge — merging with a different ``buckets`` than the stored table
    would silently leave duplicate keys in unaffected buckets.

    EXPERIMENTAL — the ``fmt='iceberg'`` branch: no Iceberg runtime
    jar/catalog exists in this environment, so that branch has never
    executed; its SQL/statement shapes are pinned by contract tests
    (test_writer_merge) instead.  The parquet path is the tested,
    behavior-equivalent sink.

    Vendoring attempt (round 4, closing the item permanently): no
    ``iceberg-spark-runtime`` jar anywhere on the image (``find /``), the
    pip index resolves ``pyiceberg`` to zero versions, and Maven Central
    is unreachable (curl exit 000 — no outbound network), so the runtime
    jar verifiably CANNOT exist here.  A deployment drops the jar on the
    classpath, configures a catalog, and the branch runs as written; its
    statement shapes stay contract-pinned by test_writer_merge.
    """

    def __init__(
        self,
        base_path: str,
        fmt: str = "parquet",
        buckets: int = 32,
        node_partition_col: Optional[str] = None,
        edge_partition_col: Optional[str] = None,
    ):
        """``node_partition_col``: optional FIRST-level partition column
        (e.g. ``'head_label'``) applied to any table that carries it, above
        the key-hash bucket.  This is the 100x answer to unpushable label
        filters in graph_query (label/prop predicates are array/map tests
        parquet cannot push): a label-restricted read becomes a partition
        PRUNE (PartitionFilters, plan-pinned in test_plans) instead of a
        full scan.  Sound for merge() because the partition column must be
        a pure function of the merge key — ``head_label`` is folded into
        ``node_key`` (labels_str is hashed into it), so a key collision
        always lands in the same (label, bucket) partition and dynamic
        overwrite never strands a stale replaced row in another label's
        directory.  The sidecar records the column and merge() asserts it,
        like the bucket count.

        ``edge_partition_col``: the edge-table analog (``'relationship'``)
        — match_chain/label_connections relationship filters then prune
        partitions instead of relying on parquet row-group pushdown.
        UNLIKE head_label, ``relationship`` is NOT a function of the
        url merge key (one url carries many relationships), so merge()
        additionally vacuums first-level partitions of affected buckets
        whose every row was replaced — without it a dynamic overwrite
        would leave a stale ``relationship=r/bucket=b`` directory behind
        when a re-merged url stops emitting relationship r."""
        self.base_path = base_path
        self.fmt = fmt
        self.buckets = buckets
        self.node_partition_col = node_partition_col
        self.edge_partition_col = edge_partition_col

    # -- bucket-count sidecar (local/posix paths; a DFS deployment would
    #    carry the same fact in table properties) --------------------------

    def _meta_file(self, path: str) -> str:
        return os.path.join(path, "_buckets.json")

    def _write_meta(self, path: str, legacy: bool = False) -> None:
        import json

        os.makedirs(path, exist_ok=True)
        with open(self._meta_file(path), "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "buckets": self.buckets,
                    # legacy back-fill: pre-sidecar writers only ever
                    # produced the flat bucket-only layout
                    "node_partition_col": (
                        None if legacy else self.node_partition_col
                    ),
                    "edge_partition_col": (
                        None if legacy else self.edge_partition_col
                    ),
                },
                fh,
            )

    def _assert_meta(self, path: str) -> None:
        import json

        backfill = False
        try:
            with open(self._meta_file(path), encoding="utf-8") as fh:
                meta = json.load(fh)
                stored = meta["buckets"]
        except (OSError, ValueError, KeyError, TypeError):
            # pre-sidecar (legacy) or truncated/corrupt sidecar: nothing
            # trustworthy to check against — plan to back-fill the CURRENT
            # bucket count (so a later merge with a different count is
            # caught) with the partition cols as None, the ONLY layout
            # pre-sidecar writers ever produced.  The back-fill is written
            # only AFTER the layout checks pass: a REFUSED merge must not
            # poison the sidecar with a bucket count from a merge that
            # never happened (the rightful legacy writer back-fills later).
            backfill = True
            meta = {"buckets": self.buckets}
            stored = self.buckets
        if stored != self.buckets:
            raise ValueError(
                f"GraphWriter(buckets={self.buckets}) cannot merge into "
                f"{path} written with buckets={stored} — keys would land in "
                f"different buckets and leave stale duplicates"
            )
        # pre-round-5 sidecars carry no partition-col fields: treat missing
        # as None (the only layout those writers produced)
        for attr in ("node_partition_col", "edge_partition_col"):
            stored_col = meta.get(attr)
            mine = getattr(self, attr)
            if stored_col != mine:
                raise ValueError(
                    f"GraphWriter({attr}={mine!r}) cannot merge into {path} "
                    f"written with {attr}={stored_col!r} — the directory "
                    f"layouts differ and dynamic overwrite would strand "
                    f"stale rows"
                )
        if backfill:
            self._write_meta(path, legacy=True)

    @staticmethod
    def iceberg_merge_delete_sql(table: str, key: str, batch_view: str) -> str:
        """The iceberg-branch DELETE statement (contract-pinned; the branch
        itself is unexercised here — see class docstring)."""
        return (
            f"DELETE FROM {table} WHERE {key} IN "
            f"(SELECT {key} FROM {batch_view})"
        )

    def _bucketed(self, df: DataFrame, key: str) -> DataFrame:
        # int (not long): a read-back partition column infers as int, and
        # merge() unions stored rows with fresh ones
        return df.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col(key)), F.lit(self.buckets)).cast("int"),
        )

    def _partition_cols(self, df: DataFrame) -> list:
        if (
            self.node_partition_col
            and self.node_partition_col in df.columns
        ):
            return [self.node_partition_col, "bucket"]
        if (
            self.edge_partition_col
            and self.edge_partition_col in df.columns
        ):
            return [self.edge_partition_col, "bucket"]
        return ["bucket"]

    def write(self, name: str, df: DataFrame, key: str = "url") -> str:
        path = os.path.join(self.base_path, name)
        if self.fmt == "iceberg":
            df.writeTo(f"{self.base_path}.{name}").createOrReplace()
            return f"{self.base_path}.{name}"
        (
            self._bucketed(df, key)
            .repartition("bucket")
            .write.mode("overwrite")
            # static: write() is a FULL table replace — stale buckets absent
            # from df must be deleted.  Pinned per-write so the semantics
            # cannot be flipped by a session-level dynamic-overwrite setting
            # (a caller that ran a resume/merge earlier in the same session).
            .option("partitionOverwriteMode", "static")
            .partitionBy(*self._partition_cols(df))
            .parquet(path)
        )
        self._write_meta(path)
        return path

    def merge(self, name: str, df: DataFrame, key: str = "url") -> str:
        """Upsert ``df`` into table ``name`` on ``key`` (new rows win; a key
        present in the batch replaces ALL of that key's stored rows, which is
        Neo4j-MERGE-like for url-keyed edge groups).  Re-merging the same
        batch is a byte-identical no-op."""
        spark = df.sparkSession
        if self.fmt == "iceberg":
            tbl = f"{self.base_path}.{name}"
            view = f"_merge_batch_{name}"
            df.createOrReplaceTempView(view)
            spark.sql(self.iceberg_merge_delete_sql(tbl, key, view))
            df.writeTo(tbl).append()
            return tbl
        path = os.path.join(self.base_path, name)
        try:
            existing = spark.read.parquet(path)
        except Exception:
            return self.write(name, df, key)
        self._assert_meta(path)
        # eager: the batch feeds three consumers (affected-bucket collect,
        # collision keys, the union) — materialize once
        new = self._bucketed(df, key).localCheckpoint()
        buckets = [r["bucket"] for r in new.select("bucket").distinct().collect()]
        # static partition pruning: a literal isin on the partition column —
        # the scan's PartitionFilters name ONLY affected buckets (pinned by
        # test_plans), independent of whether DPP would fire on this shape
        stored = pruned_stored_rows(spark, path, buckets)
        old_keep = stored.join(new.select(key).distinct(), key, "left_anti")
        # snapshot the survivors BEFORE overwriting the same path: the write
        # must never depend on reading files it is about to replace
        old_keep = old_keep.localCheckpoint()
        merged = old_keep.unionByName(new)
        part_cols = self._partition_cols(new)
        stale_dirs = []
        if (
            part_cols[0] == self.edge_partition_col
            and self.edge_partition_col is not None
        ):
            # relationship is NOT a function of the merge key: a (rel,
            # bucket) partition whose every stored row was replaced is
            # absent from the union output, so dynamic overwrite would
            # leave its old files in place — find and vacuum those dirs.
            # Both aggregates are partition-col-only projections over
            # already-pruned/checkpointed frames (<= n_rels x |buckets|
            # rows collected).
            pcol = self.edge_partition_col
            before = {
                (r[pcol], r["bucket"])
                for r in stored.select(pcol, "bucket").distinct().collect()
            }
            after = {
                (r[pcol], r["bucket"])
                for r in merged.select(pcol, "bucket").distinct().collect()
            }
            stale_dirs = [
                os.path.join(
                    path,
                    f"{pcol}={escape_partition_value(v)}",
                    f"bucket={b}",
                )
                for v, b in sorted(
                    before - after, key=lambda t: (t[0] is None, t)
                )
            ]
        (
            merged
            .repartition("bucket")
            .write.mode("overwrite")
            # dynamic: untouched buckets' files stay in place
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )
        if stale_dirs:
            import shutil

            for d in stale_dirs:
                shutil.rmtree(d, ignore_errors=True)
        return path

    def append_lineage(self, spark, stage: str, metrics: Dict[str, int]) -> None:
        rows = [(stage, k, int(v)) for k, v in metrics.items()]
        spark.createDataFrame(rows, "stage string, metric string, value long").write.mode(
            "append"
        ).parquet(os.path.join(self.base_path, "_lineage"))
