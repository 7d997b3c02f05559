"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline (synthetic
judgment pages + the sf0.001 documents table mapped into the pages schema)
and returns the canonical triple set.

``queries()``/``oracle_sql()`` expose the engine's operators over the
driver's TPC-H-ish tables with DuckDB-checkable ANSI oracles.  Numeric
discipline for cross-engine value-hash equality:

- money sums go through DECIMAL(18,2) (exact) then cast to double;
- ratios are avoided in favor of integer counts, or computed as one
  double division of exact integers;
- cosine similarity is bit-exact across engines (sequential fold over
  array<double> — verified);
- timestamps are formatted to strings;
- every count/length is cast to bigint on the Spark side (DuckDB's native
  width).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import fixtures, pipeline
from ontologybasedkgcreation_spark.ontology import load_ontology
from ontologybasedkgcreation_spark.operators import dedup, linking, similarity

STRIDE = 1180  # fixed-size chunk stride (size 1200, overlap 20)
CHUNK = 1200


def _fast_tmp():
    """tmpfs scratch for streaming source/checkpoint/sink dirs — the
    stream queries' fixed machinery cost (checkpoint fsyncs, state store,
    file sink commits) rode virtio disk latency and was the bench suite's
    noisiest line (12.9 s vs 7.9 s on frozen code across hosts); /dev/shm
    takes the disk out of it, matching the shuffle dirs."""
    import os

    return "/dev/shm" if os.path.isdir("/dev/shm") else None

# candidate (node1_type, rel, node2_type) rows for the validation-join demo;
# half valid per the NyOn ontology, half not
VALIDATION_CANDS = [
    ("CourtCase", "hasJudge", "Judge"),
    ("CourtCase", "hasJudge", "Court"),
    ("Court_Official", "worksIn", "Court"),
    ("Judge", "hasOpinion", "Opinion"),
    ("Party", "hasPartyType", "Party_Type"),
    ("Argument", "respondentArgument", "Respondent"),
    ("Witness", "hasPartyType", "Individual"),
    ("CourtCase", "cited", "CourtCase"),
]


def _doc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG pipeline over judgment pages + sf0.001 documents mapped
    into the Common-Crawl pages schema (they carry no legal patterns, so they
    exercise the no-extraction path at volume)."""
    pages, _ = fixtures.pages_df(spark, 12)
    docs = _doc(spark, "/root/testdata/sf0.001", "documents")
    extra = docs.select(
        F.concat(F.lit("https://docs.example.org/"), F.col("doc_id")).alias("url"),
        F.lit(fixtures.EPOCH).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><pre>"), F.col("text"), F.lit("</pre></body></html>")),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    out = pipeline.run_pipeline(
        spark, pages.unionByName(extra), with_paragraphs=False
    )
    return out["triple_set"]


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def _toks(col):
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def q_chunk_fixed(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    # empty text yields NO chunks on both sides: DuckDB generate_series(0,-1)
    # is empty while Spark sequence(0,-1) would emit a descending [0,-1] —
    # the filter + clamp removes that divergence
    d = d.filter(F.length("text") > 0)
    n = F.greatest(
        F.floor((F.length("text") - 1) / STRIDE), F.lit(0)
    ).cast("long")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n)).alias("chunk_index"),
        "text",
    ).select(
        "doc_id",
        "chunk_index",
        F.substring(
            F.col("text"), (F.col("chunk_index") * STRIDE + 1).cast("int"), CHUNK
        ).alias("chunk_text"),
    )


def q_chunk_chain(spark, sf_dir):
    c = q_chunk_fixed(spark, sf_dir).withColumn(
        "chunk_id",
        F.sha2(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("chunk_index").cast("string"),
            ),
            256,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("chunk_index")
    return c.select(
        "doc_id",
        "chunk_index",
        "chunk_id",
        F.lag("chunk_id").over(w).alias("prev_chunk_id"),
        F.lead("chunk_id").over(w).alias("next_chunk_id"),
    )


def q_first_chunk_meta(spark, sf_dir):
    c = q_chunk_fixed(spark, sf_dir)
    return c.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.min(F.when(F.col("chunk_index") == 0, F.col("chunk_text"))).alias(
            "first_chunk"
        ),
    )


def q_validate_rels(spark, sf_dir):
    onto = load_ontology()
    n = _doc(spark, sf_dir, "nation")
    cands = spark.createDataFrame(
        [(i,) + c for i, c in enumerate(VALIDATION_CANDS)],
        "i int, node1_type string, rel string, node2_type string",
    )
    obj = spark.createDataFrame(
        list(onto.object_props),
        "domain string, orel string, range string",
    )
    return (
        n.select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            (F.col("n_nationkey") % 8).cast("int").alias("i"),
        )
        .join(F.broadcast(cands), "i")
        .join(
            F.broadcast(obj),
            (F.col("node1_type") == F.col("domain"))
            & (F.col("rel") == F.col("orel"))
            & (F.col("node2_type") == F.col("range")),
            "left_semi",
        )
        .select("n_nationkey", "node1_type", "rel", "node2_type")
    )


def q_pricing_summary(spark, sf_dir):
    li = _doc(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_discount")).cast("double").alias("sum_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    c = _doc(spark, sf_dir, "customer")
    o = _doc(spark, sf_dir, "orders")
    n = _doc(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def q_top_orders(spark, sf_dir):
    o = _doc(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def q_names_union(spark, sf_dir):
    r = _doc(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = _doc(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    return r.union(n).distinct()


def q_events_hourly(spark, sf_dir):
    e = _doc(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def q_topk_per_user(spark, sf_dir):
    e = _doc(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", "rk")
    )


def q_next_prev_events(spark, sf_dir):
    e = _doc(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


def q_dedup_exact(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "doc_id", "text").select(
        "content_hash",
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_dups").cast("long").alias("n_dups"),
    )


def q_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard — the RECALL/ORACLE REFERENCE ONLY.  Do NOT copy
    this for production: its df cap (dedup.NGRAM_MAX_DF = 100_000) makes
    the shared-shingle pair join
    effectively uncapped (quadratic on hot shingles at scale).  The shape a
    user should copy is q_dedup_jaccard_lsh (bounded LSH candidates -> exact
    verify), which returns the identical pair set here at 2.5x less cost."""
    d = _doc(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text").select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )


def q_dedup_jaccard_lsh(spark, sf_dir):
    """The scale-safe Jaccard shape: LSH candidates -> exact verify (the
    exact pair join of q_dedup_jaccard only ever runs over candidates)."""
    d = _doc(spark, sf_dir, "documents")
    return dedup.lsh_jaccard_pairs(d, "doc_id", "text").select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )


def q_minhash_lsh(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text").select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    )


def q_dedup_resolve(spark, sf_dir):
    """Near-dup GROUP RESOLUTION — the step after candidate generation:
    connected components over the MinHash-LSH pair graph, then one kept
    representative per group (longest text, ties smallest id).  Every doc
    gets a (keep_id, group_size) row; singletons never enter the CC or the
    window (left-anti pass-through), so at 100 TB the stateful work is
    bounded by the duplicate population, not the corpus."""
    d = _doc(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text")
    return dedup.resolve_duplicates(d, "doc_id", "text", pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("group_size").cast("long").alias("group_size"),
    )


def q_simhash(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    sig = dedup.simhash(d, "doc_id", "text")
    return dedup.simhash_pairs(sig).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _query_vec(spark, sf_dir):
    row = (
        _doc(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding", "label")
        .first()
    )
    return list(row["embedding"]), int(row["label"])


def q_embedding_topk(spark, sf_dir):
    emb = _doc(spark, sf_dir, "embeddings")
    vec, _ = _query_vec(spark, sf_dir)
    return similarity.cosine_topk(emb, vec, exclude_id=0).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cosine"
    )


def q_embedding_ivf(spark, sf_dir):
    emb = _doc(spark, sf_dir, "embeddings")
    vec, label = _query_vec(spark, sf_dir)
    return similarity.ivf_topk(emb, vec, label, exclude_id=0).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cosine"
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-space near-duplicate pairs within label blocks (the R2
    refine-pass primitive at corpus scale).  The synthetic embeddings are
    near-orthogonal (max within-label cosine ~0.47), so the threshold is
    calibrated to 0.35 (similarity.NEARDUP_THRESHOLD) to yield a
    non-trivial pair set for the oracle."""
    emb = _doc(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(emb).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "cosine",
    )


PLANT_OFFSET = 100_000  # planted-copy id offset shared with the oracle


def _planted_neardups(spark, sf_dir):
    """embeddings ∪ perturbed copies (id+100000, per-dim ±5% scale, cosine
    vs original ≈ 0.9987): the synthetic embeddings are near-orthogonal (max
    raw cosine ~0.47), so true near-duplicates are planted to exercise the
    near-dup operators in their designed regime (threshold 0.9)."""
    emb = _doc(spark, sf_dir, "embeddings")
    s = F.array(*[F.lit(1.05 if j % 2 == 0 else 0.95) for j in range(64)])
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    copies = emb.select(
        (F.col("vec_id") + PLANT_OFFSET).cast("long").alias("vec_id"),
        F.zip_with(
            F.col("embedding").cast("array<double>"), s, lambda x, y: x * y
        ).alias("embedding"),
        "label",
    )
    return base.unionByName(copies)


def q_embedding_neardup_lsh(spark, sf_dir):
    """The scale shape of embedding near-dup: SRP-banded candidates (8 bands
    x 8 bits, deterministic md5-derived projections) + exact-cosine verify —
    never all-pairs within a block.  Pair-set equality with the exact
    all-pairs operator at the same threshold is pinned by pytest."""
    planted = _planted_neardups(spark, sf_dir)
    return similarity.cosine_neardup_pairs_lsh(
        planted, threshold=0.9, dim=64
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "cosine",
    )


def q_ivf_assign(spark, sf_dir):
    """IVF cluster assignment: argmax-cosine over fixed centroids (the four
    lowest-id vectors — deterministic seeds, so the oracle can name them).
    This is the operator that PRODUCES the label column ivf_topk prunes on."""
    emb = _doc(spark, sf_dir, "embeddings")
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return similarity.assign_clusters(emb, cents).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("assigned"),
    )


def q_bm25_adopt(spark, sf_dir):
    """R5/M1: the reference's literal BM25 linking stage ("top-1 score > 1 ⇒
    adopt", utils.py:363-365) as a DataFrame plan over the documents corpus:
    distinct whitespace tokens per doc form the df-capped index, candidates
    come from the rarest-token probe, Robertson-IDF BM25 scores the shared
    tokens.  Scores are quantized to 9 decimals before ranking so the
    DuckDB oracle's (order-dependent) float sums rank identically."""
    d = _doc(spark, sf_dir, "documents")
    tok = (
        d.select(
            F.col("doc_id").cast("string").alias("pre_key"),
            F.explode(F.array_distinct(_toks(F.col("text")))).alias("token"),
        )
        .withColumn("labels_str", F.lit("Document"))
    )
    tok_df = tok.groupBy("labels_str", "token").agg(F.count("*").alias("df"))
    tok = tok.join(
        tok_df.filter(F.col("df") <= 1000), ["labels_str", "token"]
    )
    return linking.bm25_adopt_pairs(tok).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "score",
    )


def q_lang_id(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    from ontologybasedkgcreation_spark.operators.text_analysis import EN_STOPWORDS

    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")
    n = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        hits.alias("stopword_hits"),
        F.when((hits * 20 >= n) & (n > 0), F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("lang_pred"),
    )


def q_quality(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    ).cast("long")
    keep = (
        (n_tokens >= 10)
        & (n_chars <= n_tokens * 12)
        & (n_chars >= n_tokens * 2)
        & (n_punct * 10 <= n_chars * 3)
    )
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        keep.cast("long").alias("keep"),
    )


def q_token_stats(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "fingerprint"
        ),
    )


def q_consolidate(spark, sf_dir):
    c = _doc(spark, sf_dir, "customer")
    ranked = F.concat(
        F.lpad(F.length("c_name").cast("string"), 10, "0"), F.col("c_name")
    )
    return c.groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey")).agg(
        F.substring(F.max(ranked), 11, 1000).alias("canonical_name"),
        F.count("*").cast("long").alias("n_members"),
    )


def q_normalize_names(spark, sf_dir):
    """S5/E7 normalization core (lowercase, strip punctuation, collapse
    whitespace) applied columnar — the identity-normalization step of entity
    linking, in its RE2-safe form (the full abbreviation expansion uses
    lookarounds and is pytest-covered)."""
    c = _doc(spark, sf_dir, "customer")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("c_name")), "[#,.]", " "),
            r"\s+",
            " ",
        )
    )
    return c.select("c_custkey", norm.alias("norm_name"))


def q_pr_comparator(spark, sf_dir):
    """The triple-set P/R comparator shape (pipeline.triple_precision_recall)
    over a SQL-expressible proxy: distinct (user, event_type) behavior sets of
    early vs late events."""
    e = _doc(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type").distinct()
    b = e.filter(F.col("event_id") % 2 == 1).select("user_id", "event_type").distinct()
    inter = a.join(b, ["user_id", "event_type"], "left_semi").count()
    na, nb = a.count(), b.count()
    return spark.createDataFrame(
        [(int(na), int(nb), int(inter),
          float(inter / na if na else 0.0), float(inter / nb if nb else 0.0))],
        "n_a bigint, n_b bigint, matched bigint, precision double, recall double",
    )


def q_case_metadata(spark, sf_dir):
    """E4: the per-document CaseMetadata record operator
    (materialize.case_metadata_records — CaseMetadataParser fields,
    reference output_parser.py:22-31) run over a synthetic assigned-triples
    frame derived from `documents`.  Per doc: a header triple (UN-named for
    every 10th doc — simulating a court-name grammar miss), two decoys the
    operator must reject (a cited-prior row with no hasCaseName, a
    later-span duplicate header), and a hasParty row carrying the
    document's own case — the round-4 tier-1 fallback: for named docs the
    header wins over it; for the every-10th unnamed docs the hasParty row
    must win (own case id + name, EMPTY court) instead of a decoy."""
    from ontologybasedkgcreation_spark.operators import materialize

    d = _doc(spark, sf_dir, "documents")
    named = F.col("doc_id") % 10 != 0

    def mk(span, cid, cname, rel="hasRulingOf"):
        return d.select(
            F.col("doc_id").cast("string").alias("url"),
            F.lit(span).cast("long").alias("span_start"),
            F.concat(F.lit(f"{span}#"), F.col("doc_id").cast("string")).alias(
                "triple_id"
            ),
            F.lit("CourtCase").alias("node1_type"),
            F.create_map(
                F.lit("hasCaseID"), cid, F.lit("hasCaseName"), cname
            ).alias("node1_props"),
            F.lit(rel).alias("relationship"),
            F.create_map(F.lit("courtName"), F.col("source")).alias(
                "node2_props"
            ),
        )

    did = F.col("doc_id").cast("string")
    own_id = F.concat(F.lit("case-"), did)
    own_name = F.concat(F.lit("In Re "), did)
    assigned = (
        mk(5, own_id, F.when(named, own_name).otherwise(F.lit("")))
        .unionByName(mk(0, F.lit("prior-case"), F.lit("")))  # cited prior
        .unionByName(  # later-span named decoy (named docs only)
            mk(9, F.lit("late"), F.when(named, F.lit("Late Name")).otherwise(F.lit("")))
        )
        .unionByName(mk(7, own_id, own_name, rel="hasParty"))  # tier-1 row
    )
    rec = materialize.case_metadata_records(assigned)
    return rec.select(
        F.col("url").cast("long").alias("doc_id"),
        "hasCaseID",
        "hasCourtName",
        "hasCaseName",
    )


def q_onto_closure(spark, sf_dir):
    """S3/S4 under the value-hash gate: the subclass transitive closure of
    the NyOn ontology computed ENGINE-SIDE (iterative BFS joins over the
    direct-edge frame, shortest-path depths —
    Ontology.subclass_closure_frame) vs a recursive-CTE oracle over the
    same 65 direct edges."""
    onto = load_ontology()
    return onto.subclass_closure_frame(spark).select(
        "descendant", "ancestor", F.col("depth").cast("long").alias("depth")
    )


def q_cooccur(spark, sf_dir):
    """The distributed half of corpus-embedder training
    (embedding.cooccurrence_frame): windowed token co-occurrence counts
    over a deterministically-capped vocabulary — one posexplode, one
    broadcast vocab semi-join, one windowed per-document self-join, one
    groupBy.  Fully SQL-expressible, so the driver value-hashes it."""
    from ontologybasedkgcreation_spark.operators.embedding import (
        cooccurrence_frame,
    )

    d = _doc(spark, sf_dir, "documents")
    return cooccurrence_frame(d).select(
        "w", "c", F.col("n").cast("long").alias("n")
    )


def q_pii_redact(spark, sf_dir):
    """Training-data PII scrub (text_analysis.redact_pii): deterministic
    PII — an email, a +international phone, an IPv4 — is synthesized from
    doc_id onto each document, then redacted stage-by-stage with typed
    placeholders and per-type counts.  The oracle replays the identical
    construction and RE2-compatible regexes replace-for-replace."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        redact_pii,
    )

    d = _doc(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.substring("text", 1, 80),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or +91 "),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 5, "0"),
        F.lit("-12345 from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(" today"),
    )
    return redact_pii(
        d.select("doc_id", pii_text.alias("text")), "doc_id", "text"
    )


def q_boilerplate_strip(spark, sf_dir):
    """Line-level boilerplate removal (text_analysis.strip_boilerplate —
    the CCNet/RefinedWeb step): two per-source boilerplate lines are
    synthesized around each document's unique content lines; lines whose
    normalized hash repeats across >=3 distinct docs of one source are
    stripped, order preserved."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        strip_boilerplate,
    )

    d = _doc(spark, sf_dir, "documents")
    multi = F.concat(
        F.lit("visit "), F.col("source"), F.lit(" homepage\n"),
        F.substring("text", 1, 60), F.lit("\ncopyright "),
        F.col("source"), F.lit("\n"), F.substring("text", 61, 60),
    )
    return strip_boilerplate(
        d.select("doc_id", "source", multi.alias("text")),
        "doc_id", "text", "source",
    )


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination (dedup.contamination_pairs — the
    GPT-3/Llama n-gram collision rule): every 50th document is the held
    'benchmark'; training docs sharing any 3-gram shingle with one are
    flagged with the distinct-shared-gram count.  The eval side is
    broadcast — the training side never shuffles."""
    from ontologybasedkgcreation_spark.operators.dedup import (
        contamination_pairs,
    )

    d = _doc(spark, sf_dir, "documents")
    return contamination_pairs(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        "doc_id", "text",
    ).select(
        F.col("doc").alias("doc_id"),
        F.col("eval_doc").alias("eval_id"),
        "n_shared",
    )


def q_pack_shards(spark, sf_dir):
    """Sequence-packing shard assignment (text_analysis.pack_shards):
    whitespace token counts laid into 4 md5-hash buckets, each bucket's
    ordered stream split into 2048-token training shards — the
    concatenate-then-split pretraining layout as an assignment table."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        pack_shards,
        token_stats,
    )

    d = _doc(spark, sf_dir, "documents")
    counts = token_stats(d, "doc_id", "text").select("doc_id", "n_ws_tokens")
    return pack_shards(counts, "doc_id", "n_ws_tokens", 2048)


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition signals (text_analysis.repetition_signals — Rae
    et al. 2021 table A1): multi-line text is synthesized per document
    (every 3rd doc repeats its first line, every 7th gets a degenerate
    spam tail), then the four repetition fractions + the keep flag are
    computed columnar.  The oracle replays the identical construction
    and fraction arithmetic; ties on the top-2-gram broken to the
    lexicographically greatest gram in both engines."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        repetition_signals,
    )

    d = _doc(spark, sf_dir, "documents")
    multi = F.concat(
        F.substring("text", 1, 80), F.lit("\n"),
        F.substring("text", 41, 80),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("\n"), F.substring("text", 1, 80)),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\n" + " ".join(["spam"] * 9)),
        ).otherwise(F.lit("")),
    )
    return repetition_signals(
        d.select("doc_id", multi.alias("text")), "doc_id", "text"
    )


def q_unigram_logprob(spark, sf_dir):
    """Unigram LM quality score (text_analysis.unigram_logprob — the
    deterministic analog of CCNet's KenLM perplexity filter): the model
    trains on the even-doc_id half of the corpus and scores every
    document; odd docs contribute OOV tokens that exercise the count-1
    floor.  avg_neg_logprob rounds to 7 decimals (order-dependent float
    sums across engines)."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        unigram_logprob,
    )

    d = _doc(spark, sf_dir, "documents")
    return unigram_logprob(
        d.filter(F.col("doc_id") % 2 == 0), d, "doc_id", "text"
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (text_analysis.canonicalize_urls — the CC
    dedup-key step): messy URLs synthesized per doc_id (mixed case, www,
    default ports, tracking params, unsorted query, fragment) must all
    collapse to the clean canonical form.  The oracle replays rule for
    rule with RE2-safe regexes."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        canonicalize_urls,
    )

    d = _doc(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # TLD cycles through PSL depths: implicit-* default (.com appears as
    # an unknown exact-1), exact-2 rules (co.uk / gov.in) and a 1-label
    # wildcard (*.bd) — the registrable-domain column exercises each
    tld = (
        F.when(did % 7 == 1, F.lit(".Example.CO.UK"))
        .when(did % 7 == 2, F.lit(".Example.GOV.IN"))
        .when(did % 7 == 3, F.lit(".Example.BD"))
        .otherwise(F.lit(".Example.COM"))
    )
    url = F.concat(
        F.lit("HTTP"),
        F.when(did % 2 == 0, F.lit("S")).otherwise(F.lit("")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (did % 20).cast("string"), tld,
        F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        F.when(did % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Path/"), did.cast("string"))
        ),
        F.lit("?utm_source=x&b=2&a=1"),
        F.when(did % 5 == 0, F.lit("&fbclid=abc")).otherwise(F.lit("")),
        # valueless tracking param (the '?fbclid' form) must strip too
        F.when(did % 5 == 1, F.lit("&utm_campaign")).otherwise(F.lit("")),
        F.lit("#frag"), did.cast("string"),
    )
    return canonicalize_urls(
        d.select("doc_id", url.alias("url")), "doc_id", "url"
    )


def q_url_filter(spark, sf_dir):
    """URL blocklist filtering (text_analysis.filter_urls — the UT1-style
    pre-fetch curation step): the same messy-URL family as
    url_canonicalize plus an ftp:// scheme variant; blocked by PSL
    registrable domain (example.co.uk — subdomains blocked, lookalikes
    not), by a path regex, or by scheme, with the block reason kept for
    the audit trail."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        filter_urls,
    )

    d = _doc(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tld = (
        F.when(did % 7 == 1, F.lit(".Example.CO.UK"))
        .when(did % 7 == 2, F.lit(".Example.GOV.IN"))
        .when(did % 7 == 3, F.lit(".Example.BD"))
        .otherwise(F.lit(".Example.COM"))
    )
    url = F.concat(
        F.when(did % 11 == 3, F.lit("ftp")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (did % 20).cast("string"), tld,
        F.when(did % 4 == 0, F.lit("/ads/banner")).otherwise(
            F.concat(F.lit("/Path/"), did.cast("string"))
        ),
    )
    return filter_urls(d.select("doc_id", url.alias("url")), "doc_id", "url")


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (text_analysis.stratified_sample
    — the data-mixing step): per-source keep rates cycle 0 / 0.25 / 0.5
    / 0.75 by source number; membership is a pure integer compare of a
    60-bit md5 hash against int(rate * 2^60), so the oracle replays it
    exactly with the same ('0x' || md5-prefix)::UBIGINT idiom."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        stratified_sample,
    )

    d = _doc(spark, sf_dir, "documents")
    rates = {f"src{i}": (i % 4) / 4.0 for i in range(20)}
    return stratified_sample(
        d.select("doc_id", "source"), "doc_id", "source", rates
    ).select("doc_id", "source", "sample_hash", "sample_keep")


def q_asof_join(spark, sf_dir):
    """As-of join (temporal.asof_join — the event-enrichment primitive
    Spark lacks): every click event picks up the user's latest prior-or-
    simultaneous view event (backward semantics) via the union+window
    shape (ONE key exchange, no range explosion).  The oracle is
    DuckDB's NATIVE ASOF LEFT JOIN — two independent implementations of
    the same semantics must agree row for row."""
    from ontologybasedkgcreation_spark.operators.temporal import asof_join

    ev = _doc(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), "value"
    )
    j = asof_join(clicks, views, ["user_id"])
    return j.select(
        "event_id",
        "user_id",
        "ts",
        "right_ts",
        F.col("right_view_id").alias("view_id"),
        F.col("right_value").alias("view_value"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("right_ts").cast("timestamp"))
        )
        .cast("long")
        .alias("lag_us"),
    )


def q_interval_join(spark, sf_dir):
    """Bucketed interval overlap join (temporal.interval_join): left
    intervals [doc_id*10, +(doc_id%7)*5] vs right intervals shifted
    by 3, keyed by doc_id%20, bucket width 40 (so intervals span 1-2
    buckets and the first-shared-bucket dedup actually fires).  The
    oracle is the plain theta range join — the bucketed plan must
    reproduce it pair for pair, exactly once each."""
    from ontologybasedkgcreation_spark.operators.temporal import (
        interval_join,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id")
    lft = d.select(
        F.col("doc_id").alias("lid"),
        (F.col("doc_id") % 20).alias("k"),
        (F.col("doc_id") * 10).alias("s"),
        (F.col("doc_id") * 10 + (F.col("doc_id") % 7) * 5).alias("e"),
    )
    rgt = d.select(
        F.col("doc_id").alias("rid"),
        (F.col("doc_id") % 20).alias("k"),
        (F.col("doc_id") * 10 + 3).alias("s"),
        (F.col("doc_id") * 10 + 3 + (F.col("doc_id") % 5) * 30).alias(
            "e"
        ),
    )
    return interval_join(lft, rgt, ["k"]).select(
        "lid", "k", "s", "e", "right_rid", "right_s", "right_e"
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (temporal.sessionize — lag + running
    flag sum, one key exchange): events sessionized per user at a
    1-hour gap; the oracle replays the identical two-window
    formulation."""
    from ontologybasedkgcreation_spark.operators.temporal import sessionize

    ev = _doc(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, ["user_id"]).select(
        "event_id", "user_id", "ts", "session_index", "session_id"
    )


def q_normalize_text(spark, sf_dir):
    """Unicode-fold normalization (text_analysis.normalize_text — the
    dedup-key preprocessing step): per doc_id%4 the text carries
    accented/uppercase/punctuated suffixes ('Café RÉSUMÉ',
    'naïve—façade', 'ÜBER Äpfel!!') that must fold to plain ascii; the
    oracle replays the identical lower→translate→strip→collapse
    pipeline with a translate() generated from the SAME ACCENT_FOLD
    map."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        normalize_text,
    )

    d = _doc(spark, sf_dir, "documents")
    p = F.col("doc_id") % 4
    suffix = (
        F.when(p == 0, " Café RÉSUMÉ")
        .when(p == 1, " naïve—façade")
        .when(p == 2, " ÜBER Äpfel!!")
        .otherwise("")
    )
    return normalize_text(
        d.select(
            "doc_id",
            F.concat(F.coalesce("text", F.lit("")), suffix).alias("text"),
        ),
        "doc_id",
        "text",
    )


def q_credit_cards(spark, sf_dir):
    """Luhn-validated card detection (text_analysis.detect_credit_cards
    — the PCI-grade PII tier): per doc_id%5 the text carries a valid
    Visa test number / a Luhn-invalid sibling / a dash-separated valid
    card / a 20-digit run that must NOT be a candidate / nothing; the
    oracle states the (candidates, valid) outcome outright, so a broken
    boundary regex or Luhn fold breaks the hash."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        detect_credit_cards,
    )

    d = _doc(spark, sf_dir, "documents")
    p = F.col("doc_id") % 5
    suffix = (
        F.when(p == 0, " pay 4111111111111111 now")
        .when(p == 1, " ref 4111111111111112 bad")
        .when(p == 2, " card 4012-8888-8888-1881 ok")
        .when(p == 3, " id 41111111111111112222 long")
        .otherwise("")
    )
    return detect_credit_cards(
        d.select(
            "doc_id", F.concat(F.coalesce("text", F.lit("")), suffix)
            .alias("text")
        ),
        "doc_id",
        "text",
    )


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling (text_analysis.
    weighted_sample — the resampling half of DSIR): weights are a pure
    function of doc_id ((doc_id % 10) - 0.5, so every 10th doc has
    NEGATIVE weight and must be excluded); top-50 exponential keys.  The
    oracle replays the 60-bit md5 hash, the u=(h+1)/2^60 uniform and
    ln(u)/w with round(…,9) before ranking, ties by doc_id."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        weighted_sample,
    )

    d = _doc(spark, sf_dir, "documents")
    return weighted_sample(
        d.select(
            "doc_id",
            ((F.col("doc_id") % 10).cast("double") - 0.5).alias("w"),
        ),
        "doc_id",
        "w",
        k=50,
    )


def q_tfidf_terms(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (text_analysis.tfidf_top_terms
    — salient-term extraction with smoothed idf); scores round to 9
    decimals BEFORE ranking and ties break by term ascending (the
    bm25_adopt convention), so the top-k set is engine-stable."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    d = _doc(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text")


def q_quality_classifier(spark, sf_dir):
    """Trained quality filter (classifier.train_quality_classifier +
    score_with_classifier — the fastText-style GPT-3/LLaMA curation
    step as fixed-iteration logistic regression): positives are the
    'en' documents, negatives the rest; 3 full-batch GD rounds with L2
    over 256 hashed unigram+bigram buckets, then every document scored
    σ(xᵀw).  The oracle unrolls the 3 iterations as chained CTEs with
    bit-matched double arithmetic; score rounds to 7 decimals."""
    from ontologybasedkgcreation_spark.operators.classifier import (
        score_with_classifier,
        train_quality_classifier,
    )

    d = _doc(spark, sf_dir, "documents")
    w = train_quality_classifier(
        d.filter(F.col("lang") == "en"),
        d.filter(F.col("lang") != "en"),
        "doc_id",
        "text",
    )
    return score_with_classifier(d, w, "doc_id", "text")


def q_importance_weights(spark, sf_dir):
    """DSIR hashed n-gram importance weights (text_analysis.
    importance_weights, Xie et al. 2023): the 'en' documents are the
    target domain, the whole corpus is raw; every raw doc gets
    log p_tgt - log p_raw of its hashed unigram+bigram features
    (1024 buckets, Laplace +1).  The oracle replays the 60-bit md5
    bucket hash and the Laplace arithmetic; log_weight rounds to 7
    decimals (order-dependent float sums across engines)."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        importance_weights,
    )

    d = _doc(spark, sf_dir, "documents")
    return importance_weights(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text"
    )


def q_duplicate_spans(spark, sf_dir):
    """Exact-substring duplicate spans (dedup.duplicate_spans — Lee et
    al. 2021 at 10-token granularity for fixture density): every 4th
    document carries a shared 15-token tail (cross-document repeats),
    every 10th a period-3 self-repeating tail (within-document repeats);
    maximal duplicated-start runs merge into token spans."""
    from ontologybasedkgcreation_spark.operators.dedup import (
        duplicate_spans,
    )

    d = _doc(spark, sf_dir, "documents")
    shared = (
        " the quick brown fox jumps over the lazy dog"
        " again and again forever and ever"
    )
    selfrep = " x y z" * 10
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(shared)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 10 == 0, F.lit(selfrep)).otherwise(
            F.lit("")
        ),
    )
    return duplicate_spans(d.select("doc_id", t.alias("text")), "doc_id", "text")


def q_media_bytes(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.lit("text").alias("kind"),
    )


def _tpch_graph(spark, sf_dir):
    """customer/nation/region mapped into the engine's node/edge tables —
    the input shape of the graph-query operators."""
    c = _doc(spark, sf_dir, "customer")
    n = _doc(spark, sf_dir, "nation")
    r = _doc(spark, sf_dir, "region")

    def node(df, prefix, key, label, name):
        return df.select(
            F.concat(F.lit(prefix), F.col(key).cast("string")).alias(
                "node_key"
            ),
            F.lit(label).alias("head_label"),
            F.array(F.lit(label)).alias("labels"),
            F.create_map(F.lit("name"), F.col(name)).alias("props"),
        )

    nodes = (
        node(c, "c:", "c_custkey", "Customer", "c_name")
        .unionByName(node(n, "n:", "n_nationkey", "Nation", "n_name"))
        .unionByName(node(r, "r:", "r_regionkey", "Region", "r_name"))
    )

    def edge(df, rel, src_prefix, src_key, dst_prefix, dst_key):
        return df.select(
            F.concat(F.lit(src_prefix), F.col(src_key).cast("string")).alias(
                "src_key"
            ),
            F.lit(rel).alias("relationship"),
            F.concat(F.lit(dst_prefix), F.col(dst_key).cast("string")).alias(
                "dst_key"
            ),
        )

    edges = edge(c, "inNation", "c:", "c_custkey", "n:", "c_nationkey").unionByName(
        edge(n, "inRegion", "n:", "n_nationkey", "r:", "n_regionkey")
    )
    return nodes, edges


def q_graph_match(spark, sf_dir):
    """Cypher-shaped path-pattern matching over the node/edge tables
    (graph_query.match_chain — the reference's MATCH (a:L)-[:r]->(b:M)
    serving surface): Customer -inNation-> Nation -inRegion-> Region with
    a property-equality filter on the terminal binding."""
    from ontologybasedkgcreation_spark.operators.graph_query import match_chain

    nodes, edges = _tpch_graph(spark, sf_dir)
    return match_chain(
        nodes,
        edges,
        [("Customer", "inNation", "Nation"), ("Nation", "inRegion", "Region")],
        where={2: {"name": "ASIA"}},
    ).select("n0_key", "n1_key", "n2_key")


def q_graph_match_var(spark, sf_dir):
    """Variable-length path pattern (graph_query.match_chain with a
    Cypher ``-[*1..2]->`` hop): every node 1 OR 2 hops downstream of a
    Customer — its Nation (1 hop) and its Region (2 hops) — as DISTINCT
    endpoint pairs; the oracle unrolls the two join powers into a UNION
    CTE (walk semantics on both sides)."""
    from ontologybasedkgcreation_spark.operators.graph_query import match_chain

    nodes, edges = _tpch_graph(spark, sf_dir)
    return match_chain(
        nodes, edges, [("Customer", "*1..2", None)]
    ).select("n0_key", "n1_key")


def q_graph_khop(spark, sf_dir):
    """Bounded k-hop traversal (graph_query.k_hop): the undirected-inward
    2-hop neighborhood of the ASIA Region node — nations at hop 1,
    customers at hop 2, shortest-distance semantics."""
    from ontologybasedkgcreation_spark.operators.graph_query import k_hop

    nodes, edges = _tpch_graph(spark, sf_dir)
    start = nodes.filter(
        (F.col("head_label") == "Region")
        & (F.element_at("props", F.lit("name")) == "ASIA")
    ).select("node_key")
    return k_hop(edges, start).select(
        "node_key", F.col("hops").cast("long").alias("hops")
    )


def q_graph_labels(spark, sf_dir):
    """Schema summary (graph_query.label_connections == the reference's
    get_label_connections, utils.py:30-36): DISTINCT
    (from_label, rel_type, to_label) over the graph."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        label_connections,
    )

    nodes, edges = _tpch_graph(spark, sf_dir)
    return label_connections(nodes, edges)


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (graph_query.pagerank — the deterministic
    analog of the Neo4j GDS centrality call beside the reference's Cypher
    surface): 3 damped iterations with dangling-mass redistribution over
    the Customer->Nation->Region graph; ranks sum to 1 every iteration.
    Scores round(…,9) for hash stability (the bm25_adopt convention)."""
    from ontologybasedkgcreation_spark.operators.graph_query import pagerank

    nodes, edges = _tpch_graph(spark, sf_dir)
    return pagerank(
        edges.select("src_key", "dst_key"), nodes.select("node_key")
    ).select("node_key", F.round("rank", 9).alias("rank"))


def q_graph_triangles(spark, sf_dir):
    """Per-vertex triangle counts (graph_query.triangle_count — the
    deterministic analog of Neo4j GDS triangleCount, degree-ordered
    orientation): a circulant doc-id graph (offsets +1/+2 everywhere,
    +3 from even ids) deliberately polluted with parallel edges, a
    reversed copy and self-loops — the simple-graph collapse must
    neutralize all three; the oracle enumerates a<b<c triangles
    directly on the canonical undirected edges."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        triangle_count,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id")

    def e(off, even_only=False):
        x = d.filter(F.col("doc_id") % 2 == 0) if even_only else d
        return x.select(
            F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias(
                "src_key"
            ),
            F.concat(
                F.lit("d:"), (F.col("doc_id") + off).cast("string")
            ).alias("dst_key"),
        )

    edges = (
        e(1)
        .unionByName(e(2))
        .unionByName(e(2).select(F.col("dst_key").alias("src_key"),
                                 F.col("src_key").alias("dst_key")))
        .unionByName(e(3, even_only=True))
        .unionByName(e(0))  # self-loops
        .unionByName(e(1))  # parallel duplicates
    )
    return triangle_count(edges)


def q_graph_components(spark, sf_dir):
    """Weakly connected components (linking.connected_components — the
    pointer-doubling min-label engine behind near-dup resolution and
    semantic merge, exposed as the Neo4j GDS wcc serving analog):
    length-10 doc-id chains plus every-100th bridge edges form
    components of mixed diameter (the bridges force label propagation
    across ~50 hops — pointer doubling's O(log d) rounds matter);
    component id = min node key.  Oracle is recursive-CTE min-label
    closure (the dedup_resolve convention)."""
    from ontologybasedkgcreation_spark.operators.linking import (
        connected_components,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id")

    def key(c):
        return F.concat(F.lit("d:"), c.cast("string"))

    chain = d.filter(F.col("doc_id") % 10 != 9).select(
        key(F.col("doc_id")).alias("a"),
        key(F.col("doc_id") + 1).alias("b"),
    )
    bridge = d.filter(F.col("doc_id") % 100 == 0).select(
        key(F.col("doc_id")).alias("a"),
        key(F.col("doc_id") + 100).alias("b"),
    )
    return connected_components(chain.unionByName(bridge)).select(
        F.col("pre_key").alias("node_key"),
        F.col("comp").alias("component"),
    )


def q_graph_communities(spark, sf_dir):
    """Synchronous label propagation (graph_query.label_propagation —
    the Neo4j GDS labelPropagation analog): 5-cliques of consecutive
    doc_ids with every-25th bridge edges; 3 fixed rounds with
    count-then-min-label ties.  The oracle unrolls the rounds as CTEs
    with the identical argmax rule (row_number by c DESC, label ASC)."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        label_propagation,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id")

    def key(c):
        return F.concat(F.lit("d:"), c.cast("string"))

    g = d.withColumn("grp", F.col("doc_id") - F.col("doc_id") % 5)
    clique = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            key(F.col("a.doc_id")).alias("src_key"),
            key(F.col("b.doc_id")).alias("dst_key"),
        )
    )
    bridge = d.filter(F.col("doc_id") % 25 == 0).select(
        key(F.col("doc_id")).alias("src_key"),
        key(F.col("doc_id") + 5).alias("dst_key"),
    )
    return label_propagation(clique.unionByName(bridge))


def q_graph_clustering(spark, sf_dir):
    """Local clustering coefficients (graph_query.clustering_coefficient
    — Watts-Strogatz C(v) = 2T/(d(d-1)), the Neo4j GDS
    localClusteringCoefficient analog) over the customer->nation->region
    graph EXTENDED with nation-nation sibling edges inside each region
    (computed from the nation table itself), so region-adjacent triangles
    actually exist; tree-only vertices exercise the 0.0 floor."""
    from ontologybasedkgcreation_spark.operators.graph_query import (
        clustering_coefficient,
    )

    _, edges = _tpch_graph(spark, sf_dir)
    n = _doc(spark, sf_dir, "nation")
    sib = (
        n.alias("a")
        .join(n.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        .filter(F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(
            F.concat(F.lit("n:"), F.col("a.n_nationkey").cast("string"))
            .alias("src_key"),
            F.concat(F.lit("n:"), F.col("b.n_nationkey").cast("string"))
            .alias("dst_key"),
        )
    )
    return clustering_coefficient(
        edges.select("src_key", "dst_key").unionByName(sib)
    )


_ROBOTS_EVEN = (
    "# politeness rules\n"
    "User-agent: ontokg\n"
    "Disallow: /private/\n"
    "Allow: /private/ok*\n"
    "Disallow: /tmp/*.bak$\n"
    "User-agent: *\n"
    "Disallow: /\n"
)
_ROBOTS_ODD = (
    "User-agent: *\n"
    "Disallow: /blocked/\n"
    "Crawl-delay: 10\n"
    "Allow: /blocked/except$\n"
)


def q_robots_check(spark, sf_dir):
    """RFC 9309 robots evaluation (web.compile_robots + robots_check):
    even-numbered hosts carry an agent-specific group (so the blanket
    'Disallow: /' star group must be IGNORED) with a wildcard rule, a
    $-anchored rule and an Allow that outranks a shorter Disallow;
    odd-numbered hosts have only a star group with a crawl-delay line to
    skip and an anchored Allow override.  Six path shapes per doc
    exercise every branch; the oracle states the RFC outcome per
    (host parity, path) outright."""
    from ontologybasedkgcreation_spark.operators.web import (
        compile_robots,
        robots_check,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 10
    host = F.concat(F.lit("h"), k.cast("string"), F.lit(".example.com"))
    p = F.col("doc_id") % 6
    path = (
        F.when(p == 0, "/private/x")
        .when(p == 1, "/private/okay")
        .when(p == 2, "/tmp/a.bak")
        .when(p == 3, "/tmp/a.bak.txt")
        .when(p == 4, "/blocked/page")
        .otherwise("/blocked/except")
    )
    urls = d.select("doc_id", host.alias("host"), path.alias("path"))
    hosts = d.select(k.alias("k")).distinct()
    robots = hosts.select(
        F.concat(
            F.lit("h"), F.col("k").cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.when(F.col("k") % 2 == 0, F.lit(_ROBOTS_EVEN))
        .otherwise(F.lit(_ROBOTS_ODD))
        .alias("robots"),
    )
    rules = compile_robots(robots, "host", "robots")
    return robots_check(urls, F.broadcast(rules), "doc_id", "host", "path")


def q_link_extract(spark, sf_dir):
    """Outbound-link extraction (web.extract_links — the crawl-frontier
    / web-graph step): per document a deterministic HTML page carries
    two absolute links (one double-quoted with an uppercase HREF, one
    single-quoted with a www host), a duplicate of the first (distinct
    must collapse it), a relative href, and a mailto: — only the two
    absolute targets survive.  The oracle replays the construction and
    the RE2-safe extraction regex."""
    from ontologybasedkgcreation_spark.operators.web import extract_links

    d = _doc(spark, sf_dir, "documents").select("doc_id")
    a1 = F.concat(
        F.lit('<a HREF="https://example'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a>'),
    )
    a2 = F.concat(
        F.lit("<a href='http://www.site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".org/q?a=1'>y</a>"),
    )
    html = F.concat(
        F.lit("<html><body>"),
        a1,
        a2,
        a1,  # duplicate — distinct collapses
        F.lit('<a href="/relative/path">z</a>'),
        F.lit('<a href="mailto:a@b.c">m</a>'),
        F.lit("</body></html>"),
    )
    return extract_links(
        d.select("doc_id", html.alias("html")), "doc_id", "html"
    )


def q_warc_decode(spark, sf_dir):
    """REAL WARC parsing under the value-hash gate (sources/warc.py —
    the Common-Crawl container): per document a 2-record WARC file
    (warcinfo + response carrying the text) is ENCODED then DECODED
    through the clean-room ISO 28500 implementation, every odd doc_id
    with per-record gzip members (the CC layout); the oracle recomputes
    every field arithmetically, so any parser defect breaks the hash."""
    import pandas as pd

    from ontologybasedkgcreation_spark.sources.warc import (
        decode_warc,
        encode_warc,
    )

    d = _doc(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(batches):
        for pdf in batches:
            blobs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                recs = [
                    (
                        {
                            "WARC-Type": "warcinfo",
                            "WARC-Date": "2026-01-01T00:00:00Z",
                            "WARC-Record-ID": f"<urn:uuid:{did}-0>",
                        },
                        f"crawl={did}".encode(),
                    ),
                    (
                        {
                            "WARC-Type": "response",
                            "WARC-Target-URI":
                                f"https://example.org/doc/{did}",
                            "WARC-Date": "2026-01-01T00:00:00Z",
                            "WARC-Record-ID": f"<urn:uuid:{did}-1>",
                        },
                        (text or "").encode(),
                    ),
                ]
                blobs.append(encode_warc(recs, gzip_each=did % 2 == 1))
            yield pd.DataFrame(
                {"id": pdf["doc_id"], "warc": blobs}
            )

    files = d.mapInPandas(_build, schema="id long, warc binary")
    return decode_warc(files).select(
        F.col("id").alias("doc_id"),
        "rec_idx",
        "warc_type",
        "target_uri",
        "warc_date",
        "record_id",
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


def q_http_parse(spark, sf_dir):
    """HTTP response parsing (warc.decode_http_responses — the step
    between a WARC response record and page text): per doc a full
    HTTP/1.1 message is built JVM-side (status 404 every 9th doc,
    charset header alternating utf-8 / ISO-8859-1), parsed through the
    real parser, and the status/content-type/normalized-charset/body
    are emitted; the oracle recomputes every field from the
    construction."""
    from ontologybasedkgcreation_spark.sources.warc import (
        decode_http_responses,
    )

    d = _doc(spark, sf_dir, "documents")
    status = F.when(
        F.col("doc_id") % 9 == 0, F.lit("404 Not Found")
    ).otherwise(F.lit("200 OK"))
    cs = F.when(F.col("doc_id") % 2 == 0, F.lit("utf-8")).otherwise(
        F.lit("ISO-8859-1")
    )
    body = F.concat(
        F.lit("<html>"), F.coalesce("text", F.lit("")), F.lit("</html>")
    )
    msg = F.concat(
        F.lit("HTTP/1.1 "),
        status,
        F.lit("\r\nContent-Type: text/html; charset="),
        cs,
        F.lit("\r\nServer: test\r\n\r\n"),
        body,
    )
    payloads = d.select(
        F.col("doc_id").alias("id"),
        F.encode(msg, "utf-8").alias("payload"),
    )
    return decode_http_responses(payloads).select(
        F.col("id").alias("doc_id"),
        "status",
        "content_type",
        "charset",
        F.md5(F.encode("body_text", "utf-8")).alias("body_md5"),
        "body_len",
    )


def q_media_decode(spark, sf_dir):
    """REAL image decode under the value-hash gate: per document, a 4x4
    grayscale PNG whose pixels are a pure function of doc_id
    ((doc_id*7 + i) % 256) is ENCODED then DECODED through the stdlib PNG
    implementation (multimodal.encode_png/decode_png — zlib inflate +
    scanline unfiltering), and the decoded pixel sum is emitted as an
    exact integer.  The oracle recomputes the sum arithmetically, so any
    decoder defect breaks the hash."""
    import numpy as np
    import pandas as pd

    from ontologybasedkgcreation_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    d = _doc(spark, sf_dir, "documents")

    def _roundtrip(batches):
        for pdf in batches:
            sums = []
            for did in pdf["doc_id"]:
                px = ((int(did) * 7 + np.arange(16)) % 256).astype(np.uint8)
                img = decode_png(encode_png(px.reshape(4, 4, 1)))
                sums.append(int(img.sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pixel_sum": sums})

    return d.select("doc_id").mapInPandas(
        _roundtrip, schema="doc_id long, pixel_sum long"
    )


def q_media_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode under the value-hash gate: per document a
    16x16 grayscale image of four flat 8x8 quadrants (values a pure
    function of doc_id) is ENCODED then DECODED through the clean-room
    T.81 implementation (jpeg.encode_jpeg/decode_jpeg — Huffman entropy
    coding, dequant, IDCT, DC prediction across blocks) and the decoded
    pixel sum is emitted.  At quality 95 the luma DC quant step is 2,
    which divides the flat-block DC coefficient 8*(v-128) exactly and all
    AC terms are zero, so the roundtrip is PROVABLY pixel-exact and the
    oracle recomputes the sum arithmetically — any codec defect (table
    build, bit IO, zigzag, IDCT scale) breaks the hash."""
    import numpy as np
    import pandas as pd

    from ontologybasedkgcreation_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    d = _doc(spark, sf_dir, "documents")

    def _roundtrip(batches):
        for pdf in batches:
            sums = []
            for did in pdf["doc_id"]:
                v = [(int(did) * 13 + 37 * q) % 256 for q in range(4)]
                img = np.empty((16, 16), dtype=np.uint8)
                img[:8, :8], img[:8, 8:] = v[0], v[1]
                img[8:, :8], img[8:, 8:] = v[2], v[3]
                dec = decode_jpeg(encode_jpeg(img))
                sums.append(int(dec.sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pixel_sum": sums})

    return d.select("doc_id").mapInPandas(
        _roundtrip, schema="doc_id long, pixel_sum long"
    )


def q_media_decode_video(spark, sf_dir):
    """REAL video decode under the value-hash gate: per document a
    3-frame MJPEG AVI (16x16 flat-gray frames, frame f's value a pure
    function of doc_id) is built with the clean-room RIFF/AVI writer
    (operators/avi.py) and FRAME-SAMPLED every 200 ms at 10 fps — frames
    0 and 2 only, exercising the container walk + index-restricted T.81
    decode that makes 100 TB video sampling tractable.  Flat gray at q95
    is provably pixel-exact (jpeg.py proof), so the oracle computes the
    sampled-pixel sum arithmetically: 256 * (v0 + v2)."""
    import numpy as np
    import pandas as pd

    from ontologybasedkgcreation_spark.operators.avi import (
        avi_metadata,
        decode_avi,
        encode_avi_mjpeg,
    )

    d = _doc(spark, sf_dir, "documents")

    def _roundtrip(batches):
        for pdf in batches:
            sums = []
            for did in pdf["doc_id"]:
                frames = [
                    np.full((16, 16), (int(did) * 11 + 53 * f) % 256, np.uint8)
                    for f in range(3)
                ]
                payload = encode_avi_mjpeg(frames)
                meta = avi_metadata(payload)
                step = max(int(round(200 * meta["fps"] / 1000.0)), 1)
                idx = list(range(0, meta["n_frames"], step))
                dec = decode_avi(payload, indices=idx)["frames"]
                sums.append(int(sum(int(fr.sum()) for fr in dec)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pixel_sum": sums})

    return d.select("doc_id").mapInPandas(
        _roundtrip, schema="doc_id long, pixel_sum long"
    )


def q_media_decode_video_raw(spark, sf_dir):
    """REAL uncompressed-video decode (BI_RGB 24-bit DIB inside the
    RIFF/AVI container, operators/avi.py): per document a 2-frame
    8x13x3 RGB gradient video — width 13 forces the 4-byte DIB row-stride
    pad — is container-encoded and decoded back through the codec
    dispatcher (decode_avi).  Raw DIB is pixel-exact for ARBITRARY
    content (no quantizer anywhere), so the oracle recomputes the pixel
    sum arithmetically from the same gradient formula."""
    import numpy as np
    import pandas as pd

    from ontologybasedkgcreation_spark.operators.avi import (
        decode_avi,
        encode_avi_raw,
    )

    d = _doc(spark, sf_dir, "documents")
    y = np.arange(8)[:, None, None]
    x = np.arange(13)[None, :, None]
    c = np.arange(3)[None, None, :]

    def _roundtrip(batches):
        for pdf in batches:
            sums = []
            for did in pdf["doc_id"]:
                frames = [
                    ((int(did) * 7 + f * 31 + y * 5 + x * 3 + c * 17) % 256)
                    .astype(np.uint8)
                    for f in range(2)
                ]
                payload = encode_avi_raw(frames)
                dec = decode_avi(payload)
                assert dec["compression"] == "BI_RGB"
                sums.append(int(sum(int(fr.sum()) for fr in dec["frames"])))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pixel_sum": sums})

    return d.select("doc_id").mapInPandas(
        _roundtrip, schema="doc_id long, pixel_sum long"
    )


def q_stream_window(spark, sf_dir):
    """The watermarked event-time window aggregation of the streaming
    ingest path (page_rate_metrics) run END-TO-END as a bounded stream:
    documents mapped onto the pages schema with deterministic event times
    spread over ~83 minutes, tumbling 10-minute windows, complete-mode
    memory sink.  Tumbling windows make each event belong to exactly one
    window, so the result is plain GROUP BY arithmetic in SQL."""
    import shutil
    import tempfile

    from ontologybasedkgcreation_spark.streaming import ingest

    d = _doc(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(secs=F.col("doc_id") * 10)
        ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    base = tempfile.mkdtemp(prefix="stream_window_", dir=_fast_tmp())
    try:
        src = f"{base}/src"
        pages.coalesce(1).write.parquet(src)
        stream = ingest.read_page_stream(spark, src)
        metrics = ingest.page_rate_metrics(stream)
        q = (
            metrics.writeStream.format("memory")
            .queryName("q_stream_window_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        got = spark.sql("select * from q_stream_window_sink")
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_stream_sessions(spark, sf_dir):
    """Native session windows in Structured Streaming
    (``F.session_window`` — the streaming counterpart of the batch
    ``temporal.sessionize``): 50 synthetic users with 30 s-spaced
    events and an hour-long silence every 200 docs, 30-minute gap
    windows, complete-mode memory sink, one availableNow batch.  The
    oracle replays the gap-merge semantics (new session at delta >=
    gap — session_window merges on STRICT overlap) with the batch
    lag/flag/cumsum SQL, then aggregates (start, last + gap, count)."""
    import shutil
    import tempfile

    d = _doc(spark, sf_dir, "documents")
    ev = d.select(
        (F.col("doc_id") % 50).alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(
                secs=F.col("doc_id") * 30
                + F.floor(F.col("doc_id") / 200) * 3600
            )
        ).alias("ts"),
    )
    base = tempfile.mkdtemp(prefix="stream_sessions_", dir=_fast_tmp())
    try:
        src = f"{base}/src"
        ev.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp"
        ).parquet(src)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(
                "user_id",
                F.session_window("ts", "30 minutes").alias("sw"),
            )
            .agg(F.count("*").cast("long").alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("q_stream_sessions_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        got = spark.sql("select * from q_stream_sessions_sink")
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_stream_dedup(spark, sf_dir):
    """The applyInPandasWithState online exact-dedup operator run END-TO-END
    as a bounded stream (one availableNow micro-batch): documents plus a
    synthetic re-crawl of every 7th doc (same text, later timestamp, new
    url) enter the gate; only first occurrences come out, with the copy
    count.  Single-batch execution makes n_in_batch deterministic, so the
    whole stateful operator is value-checkable against plain SQL."""
    import shutil
    import tempfile

    from ontologybasedkgcreation_spark.streaming import ingest, stateful

    d = _doc(spark, sf_dir, "documents")

    def as_pages(df, id_col):
        return df.select(
            F.concat(F.lit("doc://"), id_col.cast("string")).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            .cast("timestamp")
            .alias("_t0"),
            id_col.alias("_id"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        ).select(
            "url",
            (F.col("_t0") + F.make_dt_interval(secs=F.col("_id"))).alias(
                "warc_ts"
            ),
            "html",
            "text",
            "lang",
        )

    pages = as_pages(d, F.col("doc_id")).unionByName(
        as_pages(
            d.filter(F.col("doc_id") % 7 == 0),
            F.col("doc_id") + F.lit(1_000_000),
        )
    )
    import atexit

    base = tempfile.mkdtemp(prefix="stream_dedup_", dir=_fast_tmp())
    # the sink outlives this function (the caller collects the returned
    # DataFrame) — clean up at process exit instead of re-materializing
    # the result through a collect + createDataFrame double pass
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = f"{base}/src"
    out = f"{base}/out"
    pages.coalesce(1).write.parquet(src)
    # state partition count for the PANDAS-state path: the bottleneck is
    # the per-distinct-key Python group dispatch (~1 ms/key), which
    # parallelizes across state partitions, so scope to the core count up
    # to 16 (A/B on this box, /dev/shm checkpoints: 4 -> 5.9 s,
    # 16 -> 3.2-3.8 s, 32 ~= 16; the r5-era "16 only adds store/commit
    # overhead" note predated the tmpfs checkpoint move).  The JVM
    # dropDuplicates path below keeps 4 — its per-key cost is a state
    # lookup and fewer stores win there (measured 1.6 vs 1.9-2.6 s).
    # Each query gets a fresh checkpoint, so the fixed-per-checkpoint
    # state partition count never fights a restart.
    n_state = min(16, spark.sparkContext.defaultParallelism)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        stream = ingest.read_page_stream(spark, src)
        q = (
            stateful.streaming_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    # only the out/ sink must outlive this function (the caller collects
    # the returned DataFrame); the source copy + checkpoint are RAM-backed
    # tmpfs and go now, not at process exit
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(f"{base}/ckpt", ignore_errors=True)
    return spark.read.parquet(out)


def q_stream_dedup_jvm(spark, sf_dir):
    """The JVM-stateful streaming dedup fast path (stateful.
    streaming_dedup_exact_jvm — built-in dropDuplicates state, no Python
    anywhere; ~20x the pandas-state op per distinct key).  WHICH
    duplicate row survives is engine order, so the checked projection is
    the deterministic part of the contract: one row per distinct content
    with its hash and length."""
    import atexit
    import shutil
    import tempfile

    from ontologybasedkgcreation_spark.streaming import ingest, stateful

    d = _doc(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(secs=F.col("doc_id"))
        ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    base = tempfile.mkdtemp(prefix="stream_dedup_jvm_", dir=_fast_tmp())
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = f"{base}/src"
    out = f"{base}/out"
    pages.coalesce(1).write.parquet(src)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = ingest.read_page_stream(spark, src)
        q = (
            stateful.streaming_dedup_exact_jvm(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(f"{base}/ckpt", ignore_errors=True)
    return spark.read.parquet(out).select(
        "content_key",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
            "n_chars"
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "chunk_fixed": q_chunk_fixed,
        "chunk_chain": q_chunk_chain,
        "first_chunk_meta": q_first_chunk_meta,
        "validate_rels": q_validate_rels,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_orders": q_top_orders,
        "names_union": q_names_union,
        "events_hourly": q_events_hourly,
        "topk_per_user": q_topk_per_user,
        "next_prev_events": q_next_prev_events,
        "normalize_names": q_normalize_names,
        "pr_comparator": q_pr_comparator,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_jaccard_lsh": q_dedup_jaccard_lsh,
        "minhash_lsh": q_minhash_lsh,
        "dedup_resolve": q_dedup_resolve,
        "simhash": q_simhash,
        "embedding_topk": q_embedding_topk,
        "embedding_ivf": q_embedding_ivf,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "ivf_assign": q_ivf_assign,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "token_stats": q_token_stats,
        "fingerprint": q_fingerprint,
        "pii_redact": q_pii_redact,
        "boilerplate_strip": q_boilerplate_strip,
        "decontaminate": q_decontaminate,
        "pack_shards": q_pack_shards,
        "gopher_repetition": q_gopher_repetition,
        "unigram_logprob": q_unigram_logprob,
        "url_canonicalize": q_url_canonicalize,
        "url_filter": q_url_filter,
        "stratified_sample": q_stratified_sample,
        "importance_weights": q_importance_weights,
        "quality_classifier": q_quality_classifier,
        "tfidf_terms": q_tfidf_terms,
        "weighted_sample": q_weighted_sample,
        "credit_cards": q_credit_cards,
        "normalize_text": q_normalize_text,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "interval_join": q_interval_join,
        "duplicate_spans": q_duplicate_spans,
        "bm25_adopt": q_bm25_adopt,
        "consolidate": q_consolidate,
        "case_metadata": q_case_metadata,
        "cooccur": q_cooccur,
        "onto_closure": q_onto_closure,
        "graph_match": q_graph_match,
        "graph_match_var": q_graph_match_var,
        "graph_khop": q_graph_khop,
        "graph_labels": q_graph_labels,
        "graph_pagerank": q_graph_pagerank,
        "graph_triangles": q_graph_triangles,
        "graph_clustering": q_graph_clustering,
        "graph_components": q_graph_components,
        "graph_communities": q_graph_communities,
        "link_extract": q_link_extract,
        "robots_check": q_robots_check,
        "warc_decode": q_warc_decode,
        "http_parse": q_http_parse,
        "media_decode": q_media_decode,
        "media_decode_jpeg": q_media_decode_jpeg,
        "media_decode_video": q_media_decode_video,
        "media_decode_video_raw": q_media_decode_video_raw,
        "media_bytes": q_media_bytes,
        "stream_dedup": q_stream_dedup,
        "stream_dedup_jvm": q_stream_dedup_jvm,
        "stream_window": q_stream_window,
        "stream_sessions": q_stream_sessions,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_CHUNK_CTE = f"""
WITH chunks AS (
  SELECT doc_id, chunk_index,
         substring(text, CAST(chunk_index*{STRIDE}+1 AS INT), {CHUNK}) AS chunk_text
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(0, (length(text)-1)//{STRIDE})) AS chunk_index
    FROM documents
  )
)
"""

_SHINGLE_CTE = """
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
        FROM documents),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-2, 1))) AS i)
  WHERE array_to_string(toks[i:i+2], ' ') <> ''
)
"""

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


def _fold_maps():
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        ACCENT_FOLD,
    )

    return "".join(ACCENT_FOLD.keys()), "".join(ACCENT_FOLD.values())


_FOLD_SRC, _FOLD_DST = _fold_maps()


def _subclass_values() -> str:
    onto = load_ontology()
    rows = ",\n    ".join(
        f"('{c}', '{p}')" for c, p in onto.subclass_edges
    )
    return f"(VALUES\n    {rows}\n  )"


def _embed_sw() -> str:
    from ontologybasedkgcreation_spark.operators.embedding import (
        EMBED_STOPWORDS,
    )

    return ", ".join(f"'{s}'" for s in EMBED_STOPWORDS)


def _psl_domain_sql() -> dict:
    """PSL registrable-domain SQL fragments generated from the SAME
    vendored rule sets the Spark operator compiles to InSet lookups
    (operators/psl.py) — lockstep by construction.  Returns the
    last-k-label defs, the suffix-length CASE and the domain CASE as a
    dict of fragments the url_canonicalize oracle splices in."""
    from ontologybasedkgcreation_spark.operators.psl import load_psl

    r = load_psl()

    def _in(vals):
        return "(" + ", ".join(f"'{v}'" for v in sorted(vals)) + ")"

    lk_defs = []
    for k in range(1, r.max_suffix + 1):
        joined = " || '.' || ".join(
            f"labels[nl - {k - i}]" for i in range(1, k + 1)
        )
        lk_defs.append(f"CASE WHEN nl >= {k} THEN {joined} END AS l{k}")
    branches = []
    for d in sorted(r.exc, reverse=True):
        branches.append(f"WHEN l{d} IN {_in(r.exc[d])} THEN {d - 1}")
    for d in range(r.max_suffix, 1, -1):
        conds = []
        if d in r.exact:
            conds.append(f"l{d} IN {_in(r.exact[d])}")
        if (d - 1) in r.wild:
            conds.append(f"(l{d - 1} IN {_in(r.wild[d - 1])} AND nl >= {d})")
        if conds:
            branches.append(f"WHEN {' OR '.join(conds)} THEN {d}")
    return {
        "lk": ",\n         ".join(lk_defs),
        "suffix": "CASE " + "\n              ".join(branches)
        + " ELSE 1 END",
        "domain": "CASE WHEN nl > sl THEN "
        "array_to_string(labels[nl - sl : nl], '.') ELSE host END",
    }


def _onto_values() -> str:
    onto = load_ontology()
    rows = ",\n    ".join(
        f"('{d}', '{r}', '{g}')" for d, r, g in onto.object_props
    )
    return f"(VALUES\n    {rows}\n  ) AS onto(domain, orel, range)"


def _cand_values() -> str:
    rows = ",\n    ".join(
        f"({i}, '{a}', '{r}', '{b}')"
        for i, (a, r, b) in enumerate(VALIDATION_CANDS)
    )
    return f"(VALUES\n    {rows}\n  ) AS cands(i, node1_type, rel, node2_type)"


def _srp_lsh_sql() -> str:
    """The embedding_neardup_lsh oracle: planted copies + the IDENTICAL SRP
    signature (same md5-derived ±1 matrix as the Spark plan, same sequential
    double fold — list_dot_product verified bit-exact against F.aggregate) +
    band join + exact-cosine verify."""
    from ontologybasedkgcreation_spark.operators.similarity import srp_matrix

    R = srp_matrix(64, 64)

    def band_expr(b: int) -> str:
        terms = []
        for i in range(8):
            lit = (
                "["
                + ",".join("1" if x > 0 else "-1" for x in R[b * 8 + i])
                + "]::DOUBLE[]"
            )
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) >= 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    sig_cols = ",\n         ".join(f"{band_expr(b)} AS b{b}" for b in range(8))
    banded = "\n  UNION ALL ".join(
        f"SELECT id, label, {b} AS band, b{b} AS band_val FROM sig"
        for b in range(8)
    )
    return f"""
WITH planted AS (
  SELECT CAST(vec_id AS BIGINT) AS id, label, embedding::DOUBLE[] AS v
  FROM embeddings
  UNION ALL
  SELECT CAST(vec_id + {PLANT_OFFSET} AS BIGINT) AS id, label,
         list_transform(generate_series(1, 64),
           i -> embedding[i]::DOUBLE *
                (CASE WHEN i % 2 = 1 THEN 1.05 ELSE 0.95 END)) AS v
  FROM embeddings
), sig AS (
  SELECT id, label,
         {sig_cols}
  FROM planted
), banded AS (
  {banded}
), cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM banded a JOIN banded b
    ON a.label = b.label AND a.band = b.band AND a.band_val = b.band_val
   AND a.id < b.id
)
SELECT c.a, c.b, list_cosine_similarity(va.v, vb.v) AS cosine
FROM cand c JOIN planted va ON va.id = c.a JOIN planted vb ON vb.id = c.b
WHERE list_cosine_similarity(va.v, vb.v) >= 0.9
"""


def oracle_sql() -> dict[str, str]:
    sw = ", ".join(
        f"'{s}'"
        for s in __import__(
            "ontologybasedkgcreation_spark.operators.text_analysis",
            fromlist=["EN_STOPWORDS"],
        ).EN_STOPWORDS
    )
    return {
        "chunk_fixed": _CHUNK_CTE + "SELECT doc_id, chunk_index, chunk_text FROM chunks",
        "chunk_chain": _CHUNK_CTE
        + """
, ids AS (
  SELECT doc_id, chunk_index,
         sha256(concat(CAST(doc_id AS VARCHAR), '#', CAST(chunk_index AS VARCHAR))) AS chunk_id
  FROM chunks
)
SELECT doc_id, chunk_index, chunk_id,
       lag(chunk_id) OVER w AS prev_chunk_id,
       lead(chunk_id) OVER w AS next_chunk_id
FROM ids WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_index)
""",
        "first_chunk_meta": _CHUNK_CTE
        + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       min(CASE WHEN chunk_index = 0 THEN chunk_text END) AS first_chunk
FROM chunks GROUP BY doc_id
""",
        "validate_rels": f"""
SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
       cands.node1_type, cands.rel, cands.node2_type
FROM nation n
JOIN {_cand_values()} ON (n.n_nationkey % 8) = cands.i
WHERE EXISTS (
  SELECT 1 FROM {_onto_values()}
  WHERE onto.domain = cands.node1_type AND onto.orel = cands.rel
    AND onto.range = cands.node2_type
)
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "revenue_by_nation": """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
        "top_orders": """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
        "names_union": """
SELECT r_name AS name FROM region UNION SELECT n_name FROM nation
""",
        "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
        "topk_per_user": """
SELECT user_id, event_id, CAST(rk AS BIGINT) AS rk FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3
""",
        "next_prev_events": """
SELECT user_id, event_id,
       lag(event_id) OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "normalize_names": """
SELECT c_custkey,
       trim(regexp_replace(regexp_replace(lower(c_name), '[#,.]', ' ', 'g'),
                           '\\s+', ' ', 'g')) AS norm_name
FROM customer
""",
        "pr_comparator": """
WITH a AS (SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 0),
     b AS (SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 1),
     m AS (SELECT count(*) AS matched FROM a JOIN b USING (user_id, event_type))
SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
       CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
       CAST(matched AS BIGINT) AS matched,
       matched * 1.0 / (SELECT count(*) FROM a) AS precision,
       matched * 1.0 / (SELECT count(*) FROM b) AS recall
FROM m
""",
        "dedup_exact": """
SELECT sha256(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
""",
        "dedup_jaccard": _SHINGLE_CTE
        + """
, sizes AS (SELECT doc, count(*) AS nsh FROM sh GROUP BY doc),
shared AS (
  SELECT a.doc AS a, b.doc AS b, count(*) AS shared
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc < b.doc GROUP BY 1, 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       shared * 1.0 / (sa.nsh + sb.nsh - shared) AS jaccard
FROM shared JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
WHERE shared * 1.0 / (sa.nsh + sb.nsh - shared) >= 0.8
""",
        "dedup_jaccard_lsh": _SHINGLE_CTE
        + """
, sig AS (
  SELECT doc, seed, min(md5(concat_ws('#', shingle, seed))) AS minhash
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed)
  GROUP BY doc, seed
), banded AS (
  SELECT doc, seed // 4 AS band,
         string_agg(minhash, '|' ORDER BY minhash) AS band_sig
  FROM sig GROUP BY doc, seed // 4
), cand AS (
  SELECT DISTINCT a.doc AS a, b.doc AS b
  FROM banded a JOIN banded b USING (band, band_sig)
  WHERE a.doc < b.doc
), sizes AS (SELECT doc, count(*) AS nsh FROM sh GROUP BY doc),
shared AS (
  SELECT c.a, c.b, count(*) AS shared
  FROM cand c
  JOIN sh sa ON sa.doc = c.a
  JOIN sh sb ON sb.doc = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       shared * 1.0 / (sa.nsh + sb.nsh - shared) AS jaccard
FROM shared JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
WHERE shared * 1.0 / (sa.nsh + sb.nsh - shared) >= 0.8
""",
        "minhash_lsh": _SHINGLE_CTE
        + """
, sig AS (
  SELECT doc, seed, min(md5(concat_ws('#', shingle, seed))) AS minhash
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed)
  GROUP BY doc, seed
), banded AS (
  SELECT doc, seed // 4 AS band,
         string_agg(minhash, '|' ORDER BY minhash) AS band_sig
  FROM sig GROUP BY doc, seed // 4
)
SELECT DISTINCT CAST(a.doc AS BIGINT) AS a, CAST(b.doc AS BIGINT) AS b
FROM banded a JOIN banded b USING (band, band_sig)
WHERE a.doc < b.doc
""",
        # dedup_resolve: recursive-CTE transitive closure over the SAME
        # MinHash-LSH pair graph (tiny at oracle scale), then the identical
        # longest-text-wins window; singletons appended by anti-membership
        "dedup_resolve": _SHINGLE_CTE.replace("WITH sh", "WITH RECURSIVE sh", 1)
        + """
, sig AS (
  SELECT doc, seed, min(md5(concat_ws('#', shingle, seed))) AS minhash
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed)
  GROUP BY doc, seed
), banded AS (
  SELECT doc, seed // 4 AS band,
         string_agg(minhash, '|' ORDER BY minhash) AS band_sig
  FROM sig GROUP BY doc, seed // 4
), pairs AS (
  SELECT DISTINCT CAST(a.doc AS BIGINT) AS a, CAST(b.doc AS BIGINT) AS b
  FROM banded a JOIN banded b USING (band, band_sig)
  WHERE a.doc < b.doc
), edges AS (
  SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
), walk(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u AND e.v <> w.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS comp FROM walk GROUP BY u
), grouped AS (
  SELECT d.doc_id, c.comp, length(d.text) AS len
  FROM documents d JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id,
       first_value(doc_id)
         OVER (PARTITION BY comp ORDER BY len DESC, doc_id) AS keep_id,
       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS group_size
FROM grouped
UNION ALL
SELECT doc_id, doc_id AS keep_id, CAST(1 AS BIGINT) AS group_size
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM comp)
""",
        "embedding_topk": """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       list_cosine_similarity(embedding::DOUBLE[],
         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS cosine
FROM embeddings WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
""",
        "embedding_ivf": """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       list_cosine_similarity(embedding::DOUBLE[],
         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS cosine
FROM embeddings
WHERE vec_id <> 0 AND label = (SELECT label FROM embeddings WHERE vec_id = 0)
ORDER BY cosine DESC, vec_id LIMIT 10
""",
        "embedding_neardup": """
SELECT CAST(a.vec_id AS BIGINT) AS a, CAST(b.vec_id AS BIGINT) AS b,
       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
""",
        "embedding_neardup_lsh": _srp_lsh_sql(),
        "ivf_assign": """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 4
), sc AS (
  SELECT e.vec_id, c.cid,
         list_cosine_similarity(e.embedding::DOUBLE[], c.c) AS cos
  FROM embeddings e CROSS JOIN cents c
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cid AS BIGINT) AS assigned
FROM (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      FROM sc)
WHERE rk = 1
""",
        "lang_id": f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(list_filter({_TOKS}, t -> list_contains([{sw}], t))) AS BIGINT)
           AS stopword_hits,
       CASE WHEN len(list_filter({_TOKS}, t -> list_contains([{sw}], t))) * 20
                 >= len({_TOKS}) AND len({_TOKS}) > 0
            THEN 'en' ELSE 'unk' END AS lang_pred
FROM documents
""",
        "quality": f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
            AS BIGINT) AS n_punct,
       CAST(CASE WHEN len({_TOKS}) >= 10
                  AND length(text) <= len({_TOKS}) * 12
                  AND length(text) >= len({_TOKS}) * 2
                  AND (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 10
                      <= length(text) * 3
             THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM documents
""",
        "token_stats": f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens
FROM documents
""",
        "fingerprint": f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
FROM documents
""",
        # pii_redact: the identical synthetic-PII construction, then the
        # same three RE2-compatible regexes replayed replace-for-replace —
        # counts taken stage-by-stage on the progressively redacted text
        # exactly as the engine does (no lookarounds, ASCII classes only)
        "pii_redact": r"""
WITH base AS (
  SELECT doc_id,
         substring(text, 1, 80)
         || ' reach user' || CAST(doc_id AS VARCHAR)
         || '@example.org or +91 '
         || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
         || '-12345 from 10.' || CAST(doc_id % 256 AS VARCHAR)
         || '.0.' || CAST(doc_id % 200 AS VARCHAR) || ' today' AS t0
  FROM documents
), s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(
             t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         regexp_replace(
             t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM base
), s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
         regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '\+\d[\d().\-\s]{6,}\d', '<PHONE>', 'g') AS redacted,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t2, '\+\d[\d().\-\s]{6,}\d')) AS BIGINT)
           AS n_phones
FROM s2
""",
        # boilerplate_strip: identical multi-line construction, identical
        # (source, md5(lower(trim(line)))) >=3-distinct-docs rule, ordered
        # reassembly via string_agg (aggregates skip the NULL-cased
        # boilerplate lines, matching the engine's filtered array_join)
        "boilerplate_strip": """
WITH base AS (
  SELECT doc_id, source,
         'visit ' || source || ' homepage' || chr(10)
         || substring(text, 1, 60) || chr(10)
         || 'copyright ' || source || chr(10)
         || substring(text, 61, 60) AS t
  FROM documents
), split AS (
  SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM base
), lines AS (
  SELECT doc_id, source, i AS pos, ls[i] AS line,
         md5(lower(trim(ls[i]))) AS hh
  FROM split, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)
), boiler AS (
  SELECT source, hh FROM lines WHERE trim(line) <> ''
  GROUP BY source, hh HAVING count(DISTINCT doc_id) >= 3
)
SELECT l.doc_id,
       coalesce(string_agg(CASE WHEN b.hh IS NULL THEN l.line END,
                           chr(10) ORDER BY l.pos), '') AS clean_text,
       CAST(count(b.hh) AS BIGINT) AS n_boilerplate_lines
FROM lines l
LEFT JOIN boiler b ON l.source = b.source AND l.hh = b.hh
GROUP BY l.doc_id
""",
        # decontaminate: the same distinct 3-gram shingle sets; training
        # docs (doc_id % 50 <> 0) sharing any shingle with an eval doc
        # (doc_id % 50 = 0), counted per pair
        "decontaminate": _SHINGLE_CTE
        + """
SELECT t.doc AS doc_id, e.doc AS eval_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sh t JOIN sh e ON t.shingle = e.shingle
WHERE t.doc % 50 <> 0 AND e.doc % 50 = 0
GROUP BY 1, 2
""",
        # pack_shards: identical md5 bucket hash (15 hex chars -> 60-bit
        # int, nonnegative in both engines), per-bucket running token sum
        # ordered by doc_id, shard = floor(start/2048)
        "pack_shards": f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS nt,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              ::UBIGINT % 4 AS BIGINT) AS bucket
  FROM documents
), c AS (
  SELECT doc_id, bucket, nt,
         sum(nt) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - nt AS start
  FROM t
)
SELECT doc_id, bucket,
       CAST(start AS BIGINT) AS start_offset,
       CAST(floor(start / 2048) AS BIGINT) AS shard,
       nt AS n_tokens
FROM c
""",
        # gopher_repetition: identical multi-line construction, identical
        # fraction arithmetic (BIGINT sums cast to DOUBLE before dividing,
        # round(...,9) on output only); the top-2-gram tie breaks to the
        # lexicographically greatest gram (Spark max(struct(c,g)) ==
        # row_number ORDER BY c DESC, g DESC)
        "gopher_repetition": r"""
WITH base AS (
  SELECT doc_id,
         substring(text, 1, 80) || chr(10) || substring(text, 41, 80)
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || substring(text, 1, 80) ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'spam spam spam spam spam spam spam spam spam'
                 ELSE '' END AS t
  FROM documents
), toks AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(lower(t), '\s+'), x -> x <> '') AS tk
  FROM base
), lines AS (
  SELECT doc_id, ln
  FROM base, unnest(string_split(t, chr(10))) AS u(ln)
  WHERE trim(ln) <> ''
), per_line AS (
  SELECT doc_id, ln, count(*) AS c, length(ln) AS len
  FROM lines GROUP BY doc_id, ln
), line_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dlf,
         CAST(sum((c - 1) * len) AS DOUBLE)
             / CAST(sum(c * len) AS DOUBLE) AS dlcf
  FROM per_line GROUP BY doc_id
), g2 AS (
  SELECT doc_id, g, count(*) AS c
  FROM toks, unnest(
    CASE WHEN len(tk) >= 2
         THEN list_transform(generate_series(1, len(tk) - 1),
                             i -> tk[i] || ' ' || tk[i + 1])
         ELSE [] END) AS u(g)
  GROUP BY doc_id, g
), top2 AS (
  SELECT doc_id, c * (length(g) - 1) AS topchars
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g DESC) AS rn
        FROM g2)
  WHERE rn = 1
), g5 AS (
  SELECT doc_id, g, count(*) AS c
  FROM toks, unnest(
    CASE WHEN len(tk) >= 5
         THEN list_transform(generate_series(1, len(tk) - 4),
                             i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         ELSE [] END) AS u(g)
  GROUP BY doc_id, g
), dup5 AS (
  SELECT doc_id,
         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dnf
  FROM g5 GROUP BY doc_id
), tc AS (
  SELECT doc_id,
         CAST(length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE) AS tchars
  FROM base
)
SELECT b.doc_id,
       COALESCE(ls.n_lines, 0) AS n_lines,
       round(COALESCE(ls.dlf, 0), 9) AS dup_line_frac,
       round(COALESCE(ls.dlcf, 0), 9) AS dup_line_char_frac,
       round(COALESCE(CAST(t2.topchars AS DOUBLE)
                          / greatest(tc.tchars, 1.0), 0), 9)
           AS top_ngram_char_frac,
       round(COALESCE(d5.dnf, 0), 9) AS dup_ngram_frac,
       CAST(CASE WHEN COALESCE(ls.dlf, 0) <= 0.30
                  AND COALESCE(ls.dlcf, 0) <= 0.20
                  AND COALESCE(CAST(t2.topchars AS DOUBLE)
                                   / greatest(tc.tchars, 1.0), 0) <= 0.20
                  AND COALESCE(d5.dnf, 0) <= 0.15
             THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM base b
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN dup5 d5 USING (doc_id)
JOIN tc USING (doc_id)
""",
        # unigram_logprob: identical train/score split, count floor and
        # ln(c/N) arithmetic; avg over doubles rounds to 7 decimals (the
        # sums are order-dependent across engines, error ~1e-13)
        "unigram_logprob": f"""
WITH tr AS (
  SELECT unnest({_TOKS}) AS t FROM documents WHERE doc_id % 2 = 0
), cnt AS (
  SELECT t, count(*) AS c FROM tr GROUP BY t HAVING count(*) >= 2
), tot AS (
  SELECT count(*) AS n FROM tr
), sc AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM documents
), j AS (
  SELECT sc.doc_id,
         CASE WHEN cnt.c IS NULL THEN 1 ELSE 0 END AS oov,
         ln(CAST(COALESCE(cnt.c, 1) AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lp
  FROM sc LEFT JOIN cnt USING (t), tot
), per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(oov) AS BIGINT) AS n_oov,
         round(-avg(lp), 7) AS avg_neg_logprob
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       COALESCE(per.n_oov, 0) AS n_oov,
       COALESCE(per.avg_neg_logprob, 0.0) AS avg_neg_logprob
FROM documents d LEFT JOIN per USING (doc_id)
""",
        # url_canonicalize: identical messy-URL construction, then the
        # same canonicalization rules replayed with RE2-safe regexes;
        # bytewise param sort matches Spark array_sort on ASCII; the
        # registrable-domain CASEs are generated from the SAME vendored
        # PSL rule sets the Spark operator uses (_psl_domain_sql)
        "url_canonicalize": r"""
WITH base AS (
  SELECT doc_id,
         'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END || '://'
         || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
         || 'Site' || CAST(doc_id % 20 AS VARCHAR)
         || CASE WHEN doc_id % 7 = 1 THEN '.Example.CO.UK'
                 WHEN doc_id % 7 = 2 THEN '.Example.GOV.IN'
                 WHEN doc_id % 7 = 3 THEN '.Example.BD'
                 ELSE '.Example.COM' END
         || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
         || CASE WHEN doc_id % 4 = 0 THEN ''
                 ELSE '/Path/' || CAST(doc_id AS VARCHAR) END
         || '?utm_source=x&b=2&a=1'
         || CASE WHEN doc_id % 5 = 0 THEN '&fbclid=abc' ELSE '' END
         || CASE WHEN doc_id % 5 = 1 THEN '&utm_campaign' ELSE '' END
         || '#frag' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
         lower(regexp_extract(url, '^[^:]+://([^/?#]+)', 1)) AS hp,
         regexp_extract(url, '^[^:]+://[^/?#]+([^?#]*)', 1) AS rawpath,
         regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM base
), hostp AS (
  SELECT doc_id, scheme, rawpath, q,
         regexp_replace(
             CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hp, ':443$', '')
                  ELSE hp END,
             '^www\.', '') AS host
  FROM parts
), lists AS (
  SELECT doc_id, scheme, host, q,
         CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
         list_filter(string_split(q, '&'), p -> p <> '') AS params,
         list_sort(list_filter(
             list_filter(string_split(q, '&'), p -> p <> ''),
             p -> NOT regexp_matches(
                 p, '^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)(=|$)')))
             AS kept,
         string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS nl
  FROM hostp
), lk AS (
  SELECT *,
         __PSL_LK__
  FROM lists
), sfx AS (
  SELECT *,
         __PSL_SUFFIX__ AS sl
  FROM lk
)
SELECT doc_id,
       scheme || '://' || host || path
       || CASE WHEN len(kept) > 0
               THEN '?' || array_to_string(kept, '&') ELSE '' END
           AS canon_url,
       host,
       __PSL_DOMAIN__ AS domain,
       path,
       CAST(len(kept) AS BIGINT) AS n_params,
       CAST(len(params) - len(kept) AS BIGINT) AS n_tracking
FROM sfx
""".replace("__PSL_LK__", _psl_domain_sql()["lk"])
        .replace("__PSL_SUFFIX__", _psl_domain_sql()["suffix"])
        .replace("__PSL_DOMAIN__", _psl_domain_sql()["domain"]),
        # url_filter: identical URL family + ftp variant; block by PSL
        # registrable domain / path regex / scheme, reason precedence
        # scheme > domain > path (the operator's when-chain order)
        "url_filter": r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 3 THEN 'ftp' ELSE 'http' END || '://'
         || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
         || 'Site' || CAST(doc_id % 20 AS VARCHAR)
         || CASE WHEN doc_id % 7 = 1 THEN '.Example.CO.UK'
                 WHEN doc_id % 7 = 2 THEN '.Example.GOV.IN'
                 WHEN doc_id % 7 = 3 THEN '.Example.BD'
                 ELSE '.Example.COM' END
         || CASE WHEN doc_id % 4 = 0 THEN '/ads/banner'
                 ELSE '/Path/' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
         regexp_replace(regexp_replace(
             lower(regexp_extract(
                 url, '^[^:]+://(?:[^/?#@]*@)?([^/?#]+)', 1)),
             ':[0-9]*$', ''), '^www\.', '') AS host,
         regexp_extract(url, '^[^:]+://[^/?#]+([^#]*)', 1) AS path
  FROM base
), lists AS (
  SELECT *, string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS nl
  FROM parts
), lk AS (
  SELECT *,
         __PSL_LK__
  FROM lists
), sfx AS (
  SELECT *,
         __PSL_SUFFIX__ AS sl
  FROM lk
), dom AS (
  SELECT doc_id, host, path, scheme,
         __PSL_DOMAIN__ AS domain
  FROM sfx
)
SELECT doc_id, host, domain, path,
       CAST(CASE WHEN scheme NOT IN ('http', 'https')
                   OR domain IN ('example.co.uk')
                   OR regexp_matches(path, '^/ads/')
            THEN 1 ELSE 0 END AS BIGINT) AS blocked,
       CASE WHEN scheme NOT IN ('http', 'https') THEN 'scheme'
            WHEN domain IN ('example.co.uk') THEN 'domain'
            WHEN regexp_matches(path, '^/ads/') THEN 'path'
            ELSE '' END AS block_reason
FROM dom
""".replace("__PSL_LK__", _psl_domain_sql()["lk"])
        .replace("__PSL_SUFFIX__", _psl_domain_sql()["suffix"])
        .replace("__PSL_DOMAIN__", _psl_domain_sql()["domain"]),
        # stratified_sample: identical 60-bit md5 hash (15 hex chars) and
        # integer thresholds int(rate * 2^60); rates cycle by the source
        # number mod 4 -> literal thresholds 0, 2^58, 2^59, 3*2^58
        "stratified_sample": r"""
SELECT doc_id, source,
       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
            ::UBIGINT AS BIGINT) AS sample_hash,
       CAST(CASE WHEN
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
                 ::UBIGINT AS BIGINT)
            < CASE CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 4
                   WHEN 0 THEN 0
                   WHEN 1 THEN 288230376151711744
                   WHEN 2 THEN 576460752303423488
                   WHEN 3 THEN 864691128455135232
              END
            THEN 1 ELSE 0 END AS BIGINT) AS sample_keep
FROM documents
""",
        # importance_weights: identical unigram+bigram build (bigram i in
        # 1..len-1, 1-based like Spark element_at), identical 60-bit md5
        # bucket hash ('0x'||15-hex ::UBIGINT % 1024, the
        # stratified_sample idiom) and Laplace +1 arithmetic; the per-doc
        # sum groups by (doc_id, bucket) exactly like the Spark plan and
        # rounds to 7 decimals (order-dependent float sums)
        "importance_weights": f"""
WITH toks AS (
  SELECT doc_id, lang, {_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(
           tk,
           list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])
         )) AS g
  FROM toks
), bg AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(g), 1, 15))::UBIGINT % 1024
              AS BIGINT) AS bk
  FROM grams
), raw_cnt AS (
  SELECT bk, count(*) AS rc FROM bg GROUP BY bk
), tgt_cnt AS (
  SELECT bk, count(*) AS tc FROM bg WHERE lang = 'en' GROUP BY bk
), raw_tot AS (
  SELECT count(*) AS rn FROM bg
), tgt_tot AS (
  SELECT count(*) AS tn FROM bg WHERE lang = 'en'
), per AS (
  SELECT doc_id, bk, count(*) AS cnt FROM bg GROUP BY doc_id, bk
), scored AS (
  SELECT per.doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_grams,
         round(sum(cnt * (
           ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE)
              / (CAST(tn AS DOUBLE) + 1024.0))
           - ln(CAST(rc + 1 AS DOUBLE)
                / (CAST(rn AS DOUBLE) + 1024.0))
         )), 7) AS log_weight
  FROM per
  JOIN raw_cnt USING (bk)
  LEFT JOIN tgt_cnt USING (bk), raw_tot, tgt_tot
  GROUP BY per.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.log_weight, 0.0) AS log_weight
FROM documents d LEFT JOIN scored s USING (doc_id)
""",
        # asof_join: DuckDB's NATIVE ASOF LEFT JOIN is the oracle — an
        # independent implementation of the same backward semantics
        # (latest right.ts <= left.ts per key, exact matches included,
        # unmatched lefts NULL)
        "asof_join": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts AS vts, event_id AS view_id, value
  FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id, c.ts,
       v.vts AS right_ts,
       v.view_id AS view_id,
       v.value AS view_value,
       CAST(epoch_us(c.ts) - epoch_us(v.vts) AS BIGINT) AS lag_us
FROM clicks c
ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.vts
""",
        # interval_join: the oracle is the PLAIN theta range join over
        # the same construction — the bucketed equi-join plan must
        # reproduce every overlapping pair exactly once
        "interval_join": """
WITH lft AS (
  SELECT doc_id AS lid, doc_id % 20 AS k,
         doc_id * 10 AS s,
         doc_id * 10 + (doc_id % 7) * 5 AS e
  FROM documents
), rgt AS (
  SELECT doc_id AS rid, doc_id % 20 AS k,
         doc_id * 10 + 3 AS s,
         doc_id * 10 + 3 + (doc_id % 5) * 30 AS e
  FROM documents
)
SELECT l.lid, l.k, l.s, l.e,
       r.rid AS right_rid, r.s AS right_s, r.e AS right_e
FROM lft l JOIN rgt r
  ON l.k = r.k AND l.s <= r.e AND r.s <= l.e
""",
        # sessionize: the same lag + gap-flag + running-sum windows over
        # epoch microseconds (integer compares — no float anywhere);
        # (user_id, ts) is unique in the events table, so the window
        # order is total
        "sessionize": """
WITH t AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
         ) AS prev
  FROM events
), f AS (
  SELECT *, CASE WHEN prev IS NULL OR tus - prev > 3600000000
                 THEN 1 ELSE 0 END AS nf
  FROM t
), s AS (
  SELECT event_id, user_id, ts,
         CAST(SUM(nf) OVER (
           PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING
         ) - 1 AS BIGINT) AS session_index
  FROM f
)
SELECT event_id, user_id, ts, session_index,
       CAST(user_id AS VARCHAR) || ':'
       || CAST(session_index AS VARCHAR) AS session_id
FROM s
""",
        # normalize_text: the identical lower -> translate(ACCENT_FOLD,
        # generated below from the same map) -> non-alnum strip ->
        # whitespace collapse pipeline; DuckDB regexp_replace needs the
        # explicit 'g' flag (Spark's is global by default)
        "normalize_text": """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(
         translate(lower(COALESCE(text, '')
           || CASE doc_id % 4
                WHEN 0 THEN ' Café RÉSUMÉ'
                WHEN 1 THEN ' naïve—façade'
                WHEN 2 THEN ' ÜBER Äpfel!!'
                ELSE '' END),
           '__FOLD_SRC__', '__FOLD_DST__'),
         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text
FROM documents
""".replace("__FOLD_SRC__", _FOLD_SRC).replace("__FOLD_DST__", _FOLD_DST),
        # credit_cards: outcome stated from the construction — the base
        # word-salad text carries no 13+-digit runs, so the planted
        # suffix fully determines (n_candidates, n_valid)
        "credit_cards": """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 IN (0, 1, 2) THEN 1 ELSE 0 END
            AS BIGINT) AS n_candidates,
       CAST(CASE WHEN doc_id % 5 IN (0, 2) THEN 1 ELSE 0 END
            AS BIGINT) AS n_valid
FROM documents
""",
        # weighted_sample: identical 60-bit md5 hash, u=(h+1)/2^60,
        # ln(u)/w exponential keys rounded to 9 BEFORE ranking, ties by
        # doc_id; non-positive weights excluded
        "weighted_sample": r"""
WITH keyed AS (
  SELECT doc_id,
         CAST(doc_id % 10 AS DOUBLE) - 0.5 AS weight,
         round(
           ln((CAST(CAST(('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))::UBIGINT
                AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846976.0)
           / (CAST(doc_id % 10 AS DOUBLE) - 0.5), 9) AS es_key
  FROM documents
  WHERE CAST(doc_id % 10 AS DOUBLE) - 0.5 > 0
), ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY es_key DESC, doc_id ASC)
              AS BIGINT) AS rank
  FROM keyed
)
SELECT doc_id, weight, es_key, rank FROM ranked WHERE rank <= 50
""",
        # tfidf_terms: identical tokenization, raw tf counts, smoothed
        # idf ln((N+1)/(df+1))+1, round(…,9) BEFORE ranking, ties by
        # term ascending
        "tfidf_terms": f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
), docfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM terms GROUP BY term
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, docfreq.doc_freq,
         round(CAST(tf.tf AS DOUBLE)
               * (ln((n.n + 1.0) / (CAST(docfreq.doc_freq AS DOUBLE) + 1.0))
                  + 1.0), 9) AS score
  FROM tf JOIN docfreq USING (term), n
), ranked AS (
  SELECT *,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, doc_freq, score, rank
FROM ranked WHERE rank <= 5
""",
        # quality_classifier: identical hashed unigram+bigram features
        # (60-bit md5 % 256), then the 3 full-batch GD iterations
        # unrolled as chained CTEs with the same double arithmetic
        # (sigmoid margins -> per-bucket gradient / n -> w - lr*(g +
        # l2*w)); final sigmoid rounds to 7 decimals
        "quality_classifier": f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         {_TOKS} AS tk
  FROM documents
), grams AS (
  SELECT doc_id, y,
         unnest(list_concat(
           tk,
           list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])
         )) AS g
  FROM toks
), feats AS (
  SELECT doc_id, y,
         CAST(('0x' || substring(md5(g), 1, 15))::UBIGINT % 256
              AS BIGINT) AS bk,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM grams GROUP BY doc_id, y, bk
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), w0 AS (
  SELECT DISTINCT bk, 0.0 AS w FROM feats
), m1 AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-sum(cnt * w))) - y AS resid
  FROM feats JOIN w0 USING (bk) GROUP BY doc_id, y
), g1 AS (
  SELECT bk, sum(resid * cnt) / (SELECT n FROM n) AS grad
  FROM feats JOIN m1 USING (doc_id) GROUP BY bk
), w1 AS (
  SELECT bk, w - 1.0 * (COALESCE(grad, 0.0) + 0.1 * w) AS w
  FROM w0 LEFT JOIN g1 USING (bk)
), m2 AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-sum(cnt * w))) - y AS resid
  FROM feats JOIN w1 USING (bk) GROUP BY doc_id, y
), g2 AS (
  SELECT bk, sum(resid * cnt) / (SELECT n FROM n) AS grad
  FROM feats JOIN m2 USING (doc_id) GROUP BY bk
), w2 AS (
  SELECT bk, w - 1.0 * (COALESCE(grad, 0.0) + 0.1 * w) AS w
  FROM w1 LEFT JOIN g2 USING (bk)
), m3 AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-sum(cnt * w))) - y AS resid
  FROM feats JOIN w2 USING (bk) GROUP BY doc_id, y
), g3 AS (
  SELECT bk, sum(resid * cnt) / (SELECT n FROM n) AS grad
  FROM feats JOIN m3 USING (doc_id) GROUP BY bk
), w3 AS (
  SELECT bk, w - 1.0 * (COALESCE(grad, 0.0) + 0.1 * w) AS w
  FROM w2 LEFT JOIN g3 USING (bk)
), sc AS (
  SELECT doc_id, sum(cnt * COALESCE(w, 0.0)) AS m
  FROM feats LEFT JOIN w3 USING (bk) GROUP BY doc_id
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-COALESCE(sc.m, 0.0))), 7) AS score
FROM documents d LEFT JOIN sc USING (doc_id)
""",
        # duplicate_spans: identical construction, md5 10-gram start
        # hashes, >=2 total-occurrence hot set, islands window per doc
        # (running-sum frames agree: distinct pos values)
        "duplicate_spans": r"""
WITH base AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN ' the quick brown fox jumps over the lazy dog'
                      || ' again and again forever and ever'
                 ELSE '' END
         || CASE WHEN doc_id % 10 = 0
                 THEN repeat(' x y z', 10) ELSE '' END AS t
  FROM documents
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(t), '\s+'), x -> x <> '') AS tk
  FROM base
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(tk, i, i + 9), ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 9)) AS i)
  WHERE len(tk) >= 10
), hot AS (
  SELECT h FROM grams GROUP BY h HAVING count(*) >= 2
), marked AS (
  SELECT g.doc_id, g.pos FROM grams g SEMI JOIN hot USING (h)
), gaps AS (
  SELECT doc_id, pos,
         CASE WHEN COALESCE(pos - lag(pos) OVER
                   (PARTITION BY doc_id ORDER BY pos), 2) > 1
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
), islands AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM gaps
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 9 AS BIGINT) AS span_end,
       CAST(max(pos) + 9 - min(pos) + 1 AS BIGINT) AS n_dup_tokens
FROM islands
GROUP BY doc_id, isl
""",
        # bm25_adopt: Robertson-IDF BM25 replicated term-for-term; scores
        # round to 9 decimals BEFORE ranking (float sums are order-dependent
        # across engines); doc ids stay VARCHAR through ranking so the
        # (score desc, d) tie-break collates identically
        "bm25_adopt": f"""
WITH tok AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc, t AS token
  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
), tdf AS (
  SELECT token, count(*) AS df FROM tok GROUP BY token
), tok2 AS (
  SELECT tok.doc, tok.token, tdf.df
  FROM tok JOIN tdf USING (token) WHERE tdf.df <= 1000
), sizes AS (
  SELECT doc, count(*) AS dl FROM tok2 GROUP BY doc
), blk AS (
  SELECT count(*) AS N, avg(dl) AS avgdl FROM sizes
), idf AS (
  SELECT token, ln(1 + (blk.N - df + 0.5) / (df + 0.5)) AS idf
  FROM (SELECT DISTINCT token, df FROM tok2), blk
), probe AS (
  SELECT doc AS q, token FROM (
    SELECT doc, token,
           row_number() OVER (PARTITION BY doc ORDER BY df, token) AS rk
    FROM tok2
  ) WHERE rk = 1
), cand AS (
  SELECT DISTINCT p.q, t.doc AS d
  FROM probe p JOIN tok2 t USING (token) WHERE p.q <> t.doc
), shared AS (
  SELECT c.q, c.d, tq.token FROM cand c
  JOIN tok2 tq ON tq.doc = c.q
  JOIN tok2 td ON td.doc = c.d AND td.token = tq.token
), scored AS (
  SELECT s.q, s.d,
         round(sum(i.idf * 2.5 /
                   (1.0 + 1.5 * (0.25 + 0.75 * z.dl / b.avgdl))), 9) AS score
  FROM shared s
  JOIN idf i USING (token)
  JOIN sizes z ON z.doc = s.d
  CROSS JOIN blk b
  GROUP BY s.q, s.d
), top1 AS (
  SELECT q, d, score FROM (
    SELECT q, d, score,
           row_number() OVER (PARTITION BY q ORDER BY score DESC, d) AS rk
    FROM scored
  ) WHERE rk = 1 AND score > 1.0
)
SELECT CAST(least(q, d) AS BIGINT) AS a,
       CAST(greatest(q, d) AS BIGINT) AS b,
       max(score) AS score
FROM top1 GROUP BY 1, 2
""",
        "consolidate": """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       substring(max(concat(lpad(CAST(length(c_name) AS VARCHAR), 10, '0'), c_name)),
                 11, 1000) AS canonical_name,
       CAST(count(*) AS BIGINT) AS n_members
FROM customer GROUP BY c_nationkey
""",
        # case_metadata: named docs elect the span-5 named header (court =
        # source); every 10th doc has NO named hasRulingOf, so the tier-1
        # hasParty row wins — own id + name, EMPTY court
        "case_metadata": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'case-' || CAST(doc_id AS VARCHAR) AS hasCaseID,
       CASE WHEN doc_id % 10 <> 0 THEN source ELSE '' END AS hasCourtName,
       'In Re ' || CAST(doc_id AS VARCHAR) AS hasCaseName
FROM documents
""",
        # onto_closure: recursive-CTE transitive closure over the SAME 65
        # direct subclass edges; MIN(depth) reproduces the BFS
        # shortest-path semantics over multi-path DAG ancestors
        "onto_closure": f"""
WITH RECURSIVE e(child, parent) AS (
  SELECT * FROM {_subclass_values()} AS t(child, parent)
), cl(descendant, ancestor, depth) AS (
  SELECT child, parent, 1 FROM e
  UNION ALL
  SELECT cl.descendant, e.parent, cl.depth + 1
  FROM cl JOIN e ON cl.ancestor = e.child
)
SELECT descendant, ancestor, CAST(MIN(depth) AS BIGINT) AS depth
FROM cl GROUP BY 1, 2
""",
        # graph_match / graph_khop / graph_labels: the Cypher-shaped query
        # primitives over customer->nation->region mapped as a graph
        "graph_match": """
SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS n0_key,
       'n:' || CAST(c.c_nationkey AS VARCHAR) AS n1_key,
       'r:' || CAST(n.n_regionkey AS VARCHAR) AS n2_key
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
""",
        # graph_match_var: the *1..2 variable-length hop unrolled into its
        # two join powers (1-hop and 2-hop walks), DISTINCT endpoint pairs
        "graph_match_var": """
SELECT DISTINCT n0_key, n1_key FROM (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS n0_key,
         'n:' || CAST(c_nationkey AS VARCHAR) AS n1_key
  FROM customer
  UNION ALL
  SELECT 'c:' || CAST(c_custkey AS VARCHAR),
         'r:' || CAST(n_regionkey AS VARCHAR)
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
""",
        "graph_khop": """
SELECT 'r:' || CAST(r_regionkey AS VARCHAR) AS node_key,
       CAST(0 AS BIGINT) AS hops
FROM region WHERE r_name = 'ASIA'
UNION ALL
SELECT 'n:' || CAST(n_nationkey AS VARCHAR), CAST(1 AS BIGINT)
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
UNION ALL
SELECT 'c:' || CAST(c_custkey AS VARCHAR), CAST(2 AS BIGINT)
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
""",
        "graph_labels": """
SELECT 'Customer' AS from_label, 'inNation' AS rel_type, 'Nation' AS to_label
WHERE EXISTS (SELECT 1 FROM customer)
UNION ALL
SELECT 'Nation', 'inRegion', 'Region'
WHERE EXISTS (SELECT 1 FROM nation)
""",
        # graph_pagerank: 3 damped iterations unrolled as chained CTEs —
        # dangling mass redistributed uniformly each round (Region nodes
        # are sinks), arithmetic written (1.0-0.85)/n etc. to match the
        # engine's Python-double constants bit-for-bit; round(…,9) absorbs
        # sum-order epsilon (the bm25_adopt convention)
        "graph_pagerank": """
WITH verts AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS k FROM customer
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR) FROM nation
  UNION ALL SELECT 'r:' || CAST(r_regionkey AS VARCHAR) FROM region
), e AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS src,
         'n:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
         'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
), p AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
r0 AS (SELECT k, 1.0 / (SELECT n FROM p) AS r FROM verts),
d1 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r0
       WHERE k NOT IN (SELECT src FROM od)),
c1 AS (SELECT e.dst AS k, sum(r0.r / od.deg) AS s
       FROM e JOIN r0 ON r0.k = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r1 AS (SELECT v.k,
              (1.0 - 0.85) / (SELECT n FROM p)
              + 0.85 * (coalesce(c1.s, 0.0)
                        + (SELECT dm FROM d1) / (SELECT n FROM p)) AS r
       FROM verts v LEFT JOIN c1 ON c1.k = v.k),
d2 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r1
       WHERE k NOT IN (SELECT src FROM od)),
c2 AS (SELECT e.dst AS k, sum(r1.r / od.deg) AS s
       FROM e JOIN r1 ON r1.k = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r2 AS (SELECT v.k,
              (1.0 - 0.85) / (SELECT n FROM p)
              + 0.85 * (coalesce(c2.s, 0.0)
                        + (SELECT dm FROM d2) / (SELECT n FROM p)) AS r
       FROM verts v LEFT JOIN c2 ON c2.k = v.k),
d3 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r2
       WHERE k NOT IN (SELECT src FROM od)),
c3 AS (SELECT e.dst AS k, sum(r2.r / od.deg) AS s
       FROM e JOIN r2 ON r2.k = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r3 AS (SELECT v.k,
              (1.0 - 0.85) / (SELECT n FROM p)
              + 0.85 * (coalesce(c3.s, 0.0)
                        + (SELECT dm FROM d3) / (SELECT n FROM p)) AS r
       FROM verts v LEFT JOIN c3 ON c3.k = v.k)
SELECT k AS node_key, round(r, 9) AS rank FROM r3
""",
        # graph_triangles: same raw edge construction (parallel edges,
        # the reversed +2 copy, self-loops), canonical least/greatest
        # distinct collapse, then DIRECT a<b<c triangle enumeration —
        # count semantics are orientation-invariant, so the oracle needs
        # no degree ordering
        "graph_triangles": """
WITH raw AS (
  SELECT 'd:' || CAST(doc_id AS VARCHAR) AS s,
         'd:' || CAST(doc_id + 1 AS VARCHAR) AS t FROM documents
  UNION ALL
  SELECT 'd:' || CAST(doc_id AS VARCHAR),
         'd:' || CAST(doc_id + 2 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'd:' || CAST(doc_id + 2 AS VARCHAR),
         'd:' || CAST(doc_id AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'd:' || CAST(doc_id AS VARCHAR),
         'd:' || CAST(doc_id + 3 AS VARCHAR) FROM documents
  WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'd:' || CAST(doc_id AS VARCHAR),
         'd:' || CAST(doc_id AS VARCHAR) FROM documents
), e AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
  FROM raw WHERE s <> t
), verts AS (
  SELECT u AS node_key FROM e UNION SELECT v FROM e
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), pv AS (
  SELECT node_key, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS node_key FROM tri)
  GROUP BY node_key
)
SELECT v.node_key, COALESCE(pv.n_triangles, 0) AS n_triangles
FROM verts v LEFT JOIN pv USING (node_key)
""",
        # graph_components: same chain+bridge construction; min-label
        # closure via a recursive CTE (UNION dedups, so it terminates),
        # then min reachable key per vertex == the component id
        "graph_components": """
WITH RECURSIVE raw AS (
  SELECT 'd:' || CAST(doc_id AS VARCHAR) AS a,
         'd:' || CAST(doc_id + 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id % 10 <> 9
  UNION ALL
  SELECT 'd:' || CAST(doc_id AS VARCHAR),
         'd:' || CAST(doc_id + 100 AS VARCHAR)
  FROM documents WHERE doc_id % 100 = 0
), sym AS (
  SELECT a AS u, b AS v FROM raw
  UNION
  SELECT b AS u, a AS v FROM raw
), lab AS (
  SELECT u AS k, u AS comp FROM sym
  UNION
  SELECT sym.v AS k, lab.comp
  FROM lab JOIN sym ON sym.u = lab.k
)
SELECT k AS node_key, min(comp) AS component FROM lab GROUP BY k
""",
        # graph_communities: same clique+bridge construction; 3 label-
        # propagation rounds unrolled, each = neighbor messages + the
        # self-message, count per (vertex, label), argmax by
        # (c DESC, label ASC) — exactly the Spark min(struct(-c, label))
        "graph_communities": """
WITH raw AS (
  SELECT 'd:' || CAST(a.doc_id AS VARCHAR) AS s,
         'd:' || CAST(b.doc_id AS VARCHAR) AS t
  FROM documents a
  JOIN documents b
    ON a.doc_id - a.doc_id % 5 = b.doc_id - b.doc_id % 5
   AND a.doc_id < b.doc_id
  UNION ALL
  SELECT 'd:' || CAST(doc_id AS VARCHAR),
         'd:' || CAST(doc_id + 5 AS VARCHAR)
  FROM documents WHERE doc_id % 25 = 0
), sym AS (
  SELECT s AS u, t AS v FROM raw WHERE s <> t
  UNION
  SELECT t AS u, s AS v FROM raw WHERE s <> t
), lab0 AS (
  SELECT DISTINCT u AS k, u AS community FROM sym
), m1 AS (
  SELECT s.u AS k, l.community FROM sym s JOIN lab0 l ON l.k = s.v
  UNION ALL SELECT k, community FROM lab0
), lab1 AS (
  SELECT k, community FROM (
    SELECT k, community,
           row_number() OVER (PARTITION BY k
                              ORDER BY count(*) DESC, community ASC) AS rn
    FROM m1 GROUP BY k, community
  ) WHERE rn = 1
), m2 AS (
  SELECT s.u AS k, l.community FROM sym s JOIN lab1 l ON l.k = s.v
  UNION ALL SELECT k, community FROM lab1
), lab2 AS (
  SELECT k, community FROM (
    SELECT k, community,
           row_number() OVER (PARTITION BY k
                              ORDER BY count(*) DESC, community ASC) AS rn
    FROM m2 GROUP BY k, community
  ) WHERE rn = 1
), m3 AS (
  SELECT s.u AS k, l.community FROM sym s JOIN lab2 l ON l.k = s.v
  UNION ALL SELECT k, community FROM lab2
), lab3 AS (
  SELECT k, community FROM (
    SELECT k, community,
           row_number() OVER (PARTITION BY k
                              ORDER BY count(*) DESC, community ASC) AS rn
    FROM m3 GROUP BY k, community
  ) WHERE rn = 1
)
SELECT k AS node_key, community FROM lab3
""",
        # graph_clustering: same customer/nation/region + nation-sibling
        # edge construction, canonical collapse, direct a<b<c triangle
        # enumeration, then C(v) = 2T/(d(d-1)) with the d<2 -> 0.0 floor;
        # round(…,9) matches the Spark projection
        "graph_clustering": """
WITH raw AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS s,
         'n:' || CAST(c_nationkey AS VARCHAR) AS t FROM customer
  UNION ALL
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
         'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'n:' || CAST(a.n_nationkey AS VARCHAR),
         'n:' || CAST(b.n_nationkey AS VARCHAR)
  FROM nation a
  JOIN nation b ON a.n_regionkey = b.n_regionkey
              AND a.n_nationkey < b.n_nationkey
), e AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
  FROM raw WHERE s <> t
), deg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS k FROM e UNION ALL SELECT v FROM e) GROUP BY k
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), pv AS (
  SELECT node_key, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest([a, b, c]) AS node_key FROM tri)
  GROUP BY node_key
)
SELECT deg.k AS node_key, deg.d AS degree,
       COALESCE(pv.n, 0) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN round(2.0 * COALESCE(pv.n, 0)
                       / (CAST(deg.d AS DOUBLE) * (deg.d - 1.0)), 9)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN pv ON pv.node_key = deg.k
""",
        # cooccur: windowed co-occurrence over the capped vocabulary —
        # positions via LATERAL generate_series (1-based), the same
        # (min_count=5, stopwords out, top-200 by (n desc, token)) vocab
        # rule, directed window join folded onto ordered (w <= c) keys
        "cooccur": f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), toks AS (
  SELECT doc_id AS doc, i AS pos, toks[i] AS token
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
), counts AS (
  SELECT token, count(*) AS n FROM toks GROUP BY token
), vocab AS (
  SELECT token FROM counts
  WHERE n >= 5 AND token NOT IN ({_embed_sw()})
  ORDER BY n DESC, token LIMIT 200
), kept AS (
  SELECT doc, pos, token FROM toks JOIN vocab USING (token)
)
SELECT least(a.token, b.token) AS w,
       greatest(a.token, b.token) AS c,
       CAST(count(*) AS BIGINT) AS n
FROM kept a JOIN kept b
  ON a.doc = b.doc AND b.pos > a.pos AND b.pos <= a.pos + 4
GROUP BY 1, 2
""",
        "media_bytes": """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'text' AS kind
FROM documents
""",
        # media_decode: the Spark side PNG-encodes then REALLY decodes a
        # 4x4 gray image whose pixels are (doc_id*7+i)%256; the oracle
        # computes the same pixel sum arithmetically — a decoder defect
        # breaks the hash
        # http_parse: recompute status / content-type / normalized
        # charset / body hash and length from the construction — the
        # parser must reproduce them through status-line split, header
        # parse and charset decode
        "http_parse": """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS BIGINT)
         AS status,
       'text/html; charset='
       || CASE WHEN doc_id % 2 = 0 THEN 'utf-8' ELSE 'ISO-8859-1' END
         AS content_type,
       CASE WHEN doc_id % 2 = 0 THEN 'utf-8' ELSE 'iso-8859-1' END
         AS charset,
       md5('<html>' || COALESCE(text, '') || '</html>') AS body_md5,
       CAST(strlen('<html>' || COALESCE(text, '') || '</html>')
            AS BIGINT) AS body_len
FROM documents
""",
        # robots_check: expected outcome per (host parity, path shape)
        # stated outright from RFC 9309 precedence — longest matching
        # pattern wins, Allow wins length ties, specific-agent groups
        # shadow the star group, no match defaults to allowed
        "robots_check": """
SELECT doc_id,
       'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS host,
       CASE doc_id % 6
         WHEN 0 THEN '/private/x'
         WHEN 1 THEN '/private/okay'
         WHEN 2 THEN '/tmp/a.bak'
         WHEN 3 THEN '/tmp/a.bak.txt'
         WHEN 4 THEN '/blocked/page'
         ELSE '/blocked/except' END AS path,
       CASE WHEN (doc_id % 10) % 2 = 0 THEN
         CASE doc_id % 6
           WHEN 0 THEN false  -- Disallow /private/
           WHEN 1 THEN true   -- Allow /private/ok* outranks by length
           WHEN 2 THEN false  -- Disallow /tmp/*.bak$ wildcard+anchor
           WHEN 3 THEN true   -- $ anchor must NOT match the .txt tail
           WHEN 4 THEN true   -- specific group shadows star Disallow: /
           ELSE true END      -- no matching rule -> default allow
       ELSE
         CASE doc_id % 6
           WHEN 4 THEN false  -- star Disallow /blocked/
           ELSE true END      -- incl. anchored Allow /blocked/except$
       END AS allowed
FROM documents
""",
        # link_extract: the expected link set follows directly from the
        # construction (two absolute targets; the duplicate, relative,
        # and mailto hrefs must NOT survive), so the oracle states it
        # outright — any extraction defect (missed case-insensitive
        # HREF, quote style, leaked non-http link, un-collapsed
        # duplicate) breaks the hash
        "link_extract": """
SELECT doc_id,
       'https://example' || CAST(doc_id % 7 AS VARCHAR)
       || '.com/p/' || CAST(doc_id AS VARCHAR) AS link
FROM documents
UNION ALL
SELECT doc_id,
       'http://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.org/q?a=1'
FROM documents
""",
        # warc_decode: recompute every record field arithmetically from
        # the construction (warcinfo body 'crawl=<id>', response body =
        # the text, octet lengths, md5 of the payload bytes) — the
        # parser must reproduce them bit for bit through header parsing,
        # Content-Length slicing and gzip-member inflation
        "warc_decode": """
SELECT doc_id, CAST(0 AS BIGINT) AS rec_idx,
       'warcinfo' AS warc_type,
       CAST(NULL AS VARCHAR) AS target_uri,
       '2026-01-01T00:00:00Z' AS warc_date,
       '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '-0>' AS record_id,
       CAST(strlen('crawl=' || CAST(doc_id AS VARCHAR)) AS BIGINT)
         AS content_length,
       md5('crawl=' || CAST(doc_id AS VARCHAR)) AS payload_md5
FROM documents
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT),
       'response',
       'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
       '2026-01-01T00:00:00Z',
       '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '-1>',
       CAST(strlen(COALESCE(text, '')) AS BIGINT),
       md5(COALESCE(text, ''))
FROM documents
""",
        "media_decode": """
SELECT doc_id,
       CAST((SELECT sum((doc_id * 7 + i) % 256)
             FROM unnest(generate_series(0, 15)) AS t(i)) AS BIGINT)
           AS pixel_sum
FROM documents
""",
        # media_decode_jpeg: four flat 8x8 quadrants, provably exact at
        # q95 (luma DC step 2 divides 8*(v-128); AC all zero) -> decoded
        # sum is 64 * sum of the quadrant values
        "media_decode_jpeg": """
SELECT doc_id,
       CAST((SELECT sum(64 * ((doc_id * 13 + 37 * q) % 256))
             FROM unnest(generate_series(0, 3)) AS t(q)) AS BIGINT)
           AS pixel_sum
FROM documents
""",
        # media_decode_video: 3 flat 16x16 frames, sampled every 200 ms
        # at 10 fps -> frames 0 and 2 decode; flat gray at q95 is exact,
        # so the sampled sum is 256 * (v0 + v2)
        "media_decode_video": """
SELECT doc_id,
       CAST((SELECT sum(256 * ((doc_id * 11 + 53 * f) % 256))
             FROM unnest([0, 2]) AS t(f)) AS BIGINT)
           AS pixel_sum
FROM documents
""",
        # media_decode_video_raw: raw DIB is pixel-exact for arbitrary
        # content — the oracle recomputes the 2x8x13x3 gradient sum
        # term-by-term from the same formula
        "media_decode_video_raw": """
SELECT doc_id,
       CAST((SELECT sum((doc_id * 7 + f * 31 + y * 5 + x * 3 + c * 17) % 256)
             FROM generate_series(0, 1) t1(f),
                  generate_series(0, 7) t2(y),
                  generate_series(0, 12) t3(x),
                  generate_series(0, 2) t4(c)) AS BIGINT)
           AS pixel_sum
FROM documents
""",
        # simhash: the 64-bit bit-majority signature recomputed in SQL —
        # uint64 token hashes from md5 hex prefixes (byte-identical to the
        # engine's hash_tokens_u64), per-bit majority via
        # generate_series(0,63), brute-force Hamming<=3 pairs (the banded
        # Spark join is recall-exact for Hamming<=3, so the sets coincide)
        "simhash": """
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, t
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
        FROM documents)
), h AS (
  SELECT doc, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM toks
), bits AS (
  SELECT doc, i,
         CASE WHEN 2 * sum(((hv >> i) & 1)) >= count(*) THEN 1 ELSE 0 END AS bit
  FROM h, (SELECT unnest(generate_series(0, 63)) AS i) g
  GROUP BY doc, i
), sig0 AS (
  SELECT doc, CAST(sum((bit::HUGEINT << i)) AS UBIGINT) AS s FROM bits GROUP BY doc
), sig AS (
  SELECT doc_id AS doc, coalesce(s, 0::UBIGINT) AS s
  FROM documents LEFT JOIN sig0 ON sig0.doc = documents.doc_id
)
SELECT CAST(a.doc AS BIGINT) AS a, CAST(b.doc AS BIGINT) AS b,
       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.s, b.s)) <= 3
""",
        # stream_window: tumbling event-time windows == epoch-floored GROUP BY
        # stream_sessions: replay the construction, then the gap-merge
        # semantics — session_window starts a NEW session at delta >=
        # gap (merge requires strict overlap) — via the batch lag/flag/
        # cumsum windows; end = last event + gap
        "stream_sessions": """
WITH ev AS (
  SELECT doc_id % 50 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
         + to_seconds(CAST(doc_id * 30 + (doc_id // 200) * 3600
                           AS BIGINT)) AS ts
  FROM documents
), t AS (
  SELECT user_id, ts, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
         ) AS prev
  FROM ev
), f AS (
  SELECT *, CASE WHEN prev IS NULL OR tus - prev >= 1800000000
                 THEN 1 ELSE 0 END AS nf
  FROM t
), s AS (
  SELECT user_id, ts,
         SUM(nf) OVER (
           PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING
         ) AS si
  FROM f
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, si
""",
        "stream_window": """
WITH p AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds((doc_id * 10 // 600) * 600) AS window_start,
         lang, text
  FROM documents
)
SELECT window_start,
       window_start + to_minutes(10) AS window_end,
       lang,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
FROM p GROUP BY window_start, lang
""",
        # stream_dedup: the stateful streaming operator's single-batch run
        # is first-occurrence-per-content + copy count — plain SQL.  The
        # synthetic re-crawl (every 7th doc, id+1e6, later ts) is replicated
        # here so real duplicate groups exist at every sf.
        "stream_dedup": """
WITH all_p AS (
  SELECT doc_id AS id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS id, text, lang FROM documents
  WHERE doc_id % 7 = 0
), p AS (
  SELECT sha256(COALESCE(text, '')) AS content_key,
         'doc://' || CAST(id AS VARCHAR) AS url,
         TIMESTAMP '2024-01-01 00:00:00' + to_seconds(id) AS warc_ts,
         text, lang, id
  FROM all_p
)
SELECT content_key,
       arg_min(url, id) AS url,
       min(warc_ts) AS warc_ts,
       arg_min(text, id) AS text,
       arg_min(lang, id) AS lang,
       CAST(count(*) AS BIGINT) AS n_in_batch
FROM p GROUP BY content_key
""",
        # stream_dedup_jvm: the built-in dropDuplicates emits an engine-
        # chosen representative per content, so only the content-pure
        # projection is checked: one row per distinct text
        "stream_dedup_jvm": """
SELECT DISTINCT sha256(COALESCE(text, '')) AS content_key,
       CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars
FROM documents
""",
    }
