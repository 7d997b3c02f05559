"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how a production pipeline scales ANN:

- brute-force cosine top-k: exact baseline — JVM-side ``zip_with`` dot
  product + ``aggregate`` norms, global top-k via one sort (or per-partition
  top-k + merge under AQE).  O(N·d) but embarrassingly parallel; correct
  reference for recall measurement.
- IVF (inverted-file) top-k: probe only the query's cluster partition(s)
  (the ``label`` column of the embeddings table is the cluster assignment —
  at 100 TB this is a KMeans-assigned centroid id and becomes the table's
  partition key, so the scan prunes to 1/n_clusters of the data).
- cosine near-dup pairs: embedding-space analog of dedup — block by cluster,
  pair within block, cosine >= threshold.

The reference's analog is Qdrant kNN (k=5, cosine, dim 768 — refine_nodes.py:
45-57, vector_store.py:13); here the vectors live in a column and the search
is a DataFrame plan Catalyst can prune/push down.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rows a top-k search returns
TOP_K = 10
# cosine_neardup_pairs' gate: the synthetic embeddings are near-orthogonal
# (max within-label cosine ~0.47), so 0.35 yields a non-trivial pair set
NEARDUP_THRESHOLD = 0.35


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _pair_cosine(a, b):
    """Cosine of two vectors; NULL when either has zero norm (ANSI division
    would raise DIVIDE_BY_ZERO), so a threshold filter drops the pair."""
    denom = _norm(a) * _norm(b)
    return F.when(denom != 0, _dot(a, b) / denom)


def with_cosine(df: DataFrame, query_vec: Sequence[float]) -> DataFrame:
    """+ ``cosine`` of the ``embedding`` column vs a literal query vector
    (JVM-side, codegen)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col("embedding").cast("array<double>")
    return df.withColumn("cosine", _dot(v, q) / (_norm(v) * _norm(q)))


def cosine_topk(
    df: DataFrame, query_vec: Sequence[float], exclude_id: int
) -> DataFrame:
    """Exact brute-force top-``TOP_K`` by cosine over ``(vec_id,
    embedding)`` rows but the query's own ``exclude_id`` -> (vec_id,
    cosine)."""
    return (
        with_cosine(df, query_vec)
        .filter(F.col("vec_id") != exclude_id)
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "cosine")
    )


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    query_label: int,
    exclude_id: int,
) -> DataFrame:
    """IVF over ``(vec_id, embedding, label)``: restrict search to the
    query's cluster.  The ``label`` filter is a partition-pruning predicate
    when the table is partitioned by cluster id — the 100 TB scale path."""
    pruned = df.filter(F.col("label") == query_label)
    return cosine_topk(pruned, query_vec, exclude_id)


def assign_clusters(
    df: DataFrame, centroids: Sequence[Sequence[float]]
) -> DataFrame:
    """+ ``label``: argmax-cosine centroid assignment of the ``embedding``
    column, fully JVM-side.

    The k centroids become literal arrays, so assignment is k codegen'd dot
    products per row — no shuffle, no Python.  Ties break to the lowest
    centroid id (deterministic).  This is the missing producer for
    :func:`ivf_topk`'s cluster labels: at 100 TB the assignment runs as one
    narrow map and the output is written partitioned by ``label``."""
    v = F.col("embedding").cast("array<double>")
    nv = _norm(v)
    # the cosine expression mirrors with_cosine() exactly (same fold order),
    # which is verified bit-exact against DuckDB's list_cosine_similarity
    scored = [
        F.struct(
            (
                _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                / (nv * _norm(F.array(*[F.lit(float(x)) for x in c])))
            ).alias("cos"),
            F.lit(-i).alias("neg_id"),
        )
        for i, c in enumerate(centroids)
    ]
    best = F.greatest(*scored) if len(scored) > 1 else scored[0]
    return df.withColumn("label", (-best.getField("neg_id")).cast("int"))


def _hashing_tf(texts: pd.Series, dim: int):
    """float32 (len(texts), dim): the L2-normalized hashing-TF rows over
    word + char-3gram tokens of ``texts``.  A row depends on its own text
    only, so batching never changes a vector."""
    import numpy as np

    from .dedup import hash_tokens_u64

    n = len(texts)
    s = texts.fillna("").str.lower()
    # flat (row, token) stream WITH multiplicity (counts matter for
    # hashing-TF): word tokens + char 3-grams, exploded batch-wide
    toks_lists = s.str.split()
    w_counts = toks_lists.str.len().to_numpy()
    g_counts = (s.str.len() - 2).clip(lower=0).to_numpy()
    rows = np.concatenate(
        [
            np.repeat(np.arange(n), w_counts),
            np.repeat(np.arange(n), g_counts),
        ]
    )
    flat = [t for toks in toks_lists for t in toks]
    flat += [
        st[i : i + 3]
        for st in s
        for i in range(max(len(st) - 2, 0))
    ]
    M = np.zeros((n, dim), dtype=np.float64)
    if len(flat):
        # each DISTINCT token of the batch is hashed ONCE through
        # the cross-batch cache (md5 kept: the bucket assignment is
        # pinned by merge-behavior tests)
        uniq, inv = np.unique(
            np.asarray(flat, dtype=object), return_inverse=True
        )
        bu = (hash_tokens_u64(uniq) % np.uint64(dim)).astype(np.int64)
        np.add.at(M, (rows, bu[inv]), 1.0)
    norms = np.linalg.norm(M, axis=1)
    M = M / np.where(norms == 0, 1.0, norms)[:, None]
    return M.astype(np.float32)


# hashing_feature_vectors' vector width
HASHING_DIM = 256


def hashing_feature_vectors(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, features array<float>): HASHING_DIM-wide hashing-TF over word +
    char-3gram tokens, L2-normalized — the deterministic stand-in for an
    external embedding model (the reference embeds node renderings with a
    768-dim model, utils.py:786-873; the column contract is identical).
    Arrow-batched, no per-row Python outside the tokenizer."""
    def _feat(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "features": _hashing_tf(pdf[text_col], HASHING_DIM).tolist(),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        _feat, schema=f"{id_col} string, features array<float>"
    )


def hashing_cosine(a, b):
    """Column: cosine of the :func:`hashing_feature_vectors` vectors of the
    string columns ``a`` and ``b``, row by row in one Arrow pass.
    Bit-identical to ``_dot`` over the two feature columns cast to double:
    float32 components widened exactly, products summed left to right
    (``cumsum`` is sequential; ``sum`` would add pairwise)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cosine(x: pd.Series, y: pd.Series) -> pd.Series:
        prod = _hashing_tf(x, HASHING_DIM).astype(np.float64) * _hashing_tf(
            y, HASHING_DIM
        ).astype(np.float64)
        return pd.Series(np.cumsum(prod, axis=1)[:, -1])

    return _cosine(a, b)


def cosine_neardup_pairs(df: DataFrame) -> DataFrame:
    """Embedding near-duplicate pairs within ``label`` blocks of
    ``(vec_id, embedding, label)`` rows: (a, b, cosine) with cosine >=
    ``NEARDUP_THRESHOLD``.

    NOTE — recall oracle, not the scale shape: pairing is all-pairs within
    each block, O(ΣB²) over block sizes; a skewed cluster makes one block
    quadratic at 100 TB.  Production copies should use
    :func:`cosine_neardup_pairs_lsh` (SRP-banded candidates + the same exact
    verify); this exact variant stays as the recall reference the LSH
    variant is pinned against."""
    v = df.select(
        F.col("vec_id").alias("a"),
        F.col("label").alias("blk"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    w = df.select(
        F.col("vec_id").alias("b"),
        F.col("label").alias("blk"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    return (
        v.join(w, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cosine", _pair_cosine(F.col("va"), F.col("vb"))
        )
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .select("a", "b", "cosine")
    )


def srp_matrix(bits: int, dim: int) -> List[List[float]]:
    """Deterministic ±1 signed-random-projection matrix (md5-derived, no RNG
    state) — the SAME literals feed the Spark plan and the SQL oracle, so
    signature bits agree bit-for-bit across engines (sequential double fold
    == DuckDB ``list_dot_product``, verified)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"srp:{i}:{j}".encode()).digest()[0] & 1
            else -1.0
            for j in range(dim)
        ]
        for i in range(bits)
    ]


def srp_band_cols(vec_col, bits: int = 64, band_bits: int = 8, dim: int = 64):
    """One integer column per LSH band as JVM fold expressions — kept as the
    semantic SPEC of the signature (parity-pinned against the Arrow stage by
    test_training_ops), NOT the hot path: Spark higher-order functions are
    CodegenFallback (interpreted, one intermediate array per bit), and the
    flat element_at formulation blows planning/codegen up instead (measured
    7 s / 16 s respectively vs 0.3 s for the Arrow stage on 2k x 64
    vectors).  :func:`srp_signature` below is what the operator uses."""
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast(
        "array<double>"
    )
    R = srp_matrix(bits, dim)
    bit = [
        (_dot(v, F.array(*[F.lit(x) for x in row])) >= 0).cast("long")
        for row in R
    ]
    out = []
    for b in range(bits // band_bits):
        acc = F.lit(0).cast("long")
        for i in range(band_bits):
            acc = acc + bit[b * band_bits + i] * F.lit(1 << i)
        out.append(acc.alias(f"band{b}"))
    return out


def srp_signature(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    bits: int,
    band_bits: int,
    dim: int,
) -> DataFrame:
    """(id, blk, band0..bandN) via ONE Arrow-batched numpy stage.

    Bit-exactness contract (the DuckDB oracle recomputes the signature with
    ``list_dot_product`` over the same ±1 literals): accumulation is
    SEQUENTIAL OVER DIMENSIONS, vectorized over rows — ``acc ± V[:, j]``
    for ascending j performs the identical IEEE float64 operation sequence
    per row as the engine-side sequential fold, so sign bits agree
    bit-for-bit across numpy, Spark expressions, and DuckDB.  (A plain
    ``V @ R.T`` would use pairwise/SIMD summation — a DIFFERENT rounding
    order that can flip a near-zero dot's sign and desync the candidate
    sets.)"""
    import numpy as np
    import pandas as pd

    R = srp_matrix(bits, dim)
    n_bands = bits // band_bits
    id_t = df.schema[id_col].dataType.simpleString()
    blk_t = df.schema[block_col].dataType.simpleString()
    out_ddl = f"id {id_t}, blk {blk_t}, " + ", ".join(
        f"band{b} long" for b in range(n_bands)
    )

    def _sig(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            bits_mat = np.empty((n, bits), dtype=np.int64)
            for i in range(bits):
                acc = np.zeros(n, dtype=np.float64)
                row = R[i]
                for j in range(dim):
                    if row[j] > 0:
                        acc += V[:, j]
                    else:
                        acc -= V[:, j]
                bits_mat[:, i] = acc >= 0
            out = {"id": pdf[id_col].values, "blk": pdf[block_col].values}
            for b in range(n_bands):
                band = np.zeros(n, dtype=np.int64)
                for i in range(band_bits):
                    band += bits_mat[:, b * band_bits + i] << i
                out[f"band{b}"] = band
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col, block_col).mapInPandas(_sig, out_ddl)


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    bits: int = 64,
    band_bits: int = 8,
    dim: Optional[int] = None,
) -> DataFrame:
    """The 100 TB-shape embedding near-dup: SRP (SimHash-for-cosine) banded
    candidate generation + exact-cosine verify.

    Candidates are pairs sharing ANY (block, band, band-signature) bucket —
    cost is the band-bucket join (bounded by bucket occupancy, never all-pairs
    within a block), then the exact verify runs only over candidates.  With
    8 bands x 8 bits, a true pair at cosine 0.9987 misses all bands with
    probability ~1e-8 while ~96% of orthogonal pairs are never paired; the
    pytest pins pair-set EQUALITY with :func:`cosine_neardup_pairs` at the
    same threshold on planted near-duplicates (0.9).  Replaces the reference's
    Qdrant kNN candidate step (refine_nodes.py:45-57) at corpus scale.

    The signature is ONE Arrow-batched numpy stage (:func:`srp_signature`,
    sequential-fold bit-exact with the JVM spec and the SQL oracle); the
    candidate join and exact verify are JVM expressions."""
    if dim is None:
        # probe the first row for the vector length; an EMPTY input frame
        # (e.g. refine_pairs_semantic over an all-CourtCase block) must
        # yield an empty pair frame, not a TypeError on first()==None
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            id_t = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [], f"a {id_t}, b {id_t}, cosine double"
            )
        dim = len(row[0])
    n_bands = bits // band_bits
    # materialize the (id, vec, blk) source once: the signature pass AND
    # the two verify branches below otherwise each re-run the upstream
    # plan — which is a Python embedding stage when called from
    # refine_pairs_semantic (the embedder would execute three times)
    df = df.select(id_col, vec_col, block_col).localCheckpoint(eager=False)
    sig = srp_signature(df, id_col, vec_col, block_col, bits, band_bits, dim)
    banded = sig.select(
        "id",
        "blk",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band", "band_val"
        ),
    )
    # the band self-join reads this frame on BOTH sides: checkpoint so the
    # Arrow signature stage runs once, not once per join branch
    banded = banded.localCheckpoint()
    a = banded.select(F.col("id").alias("a"), "blk", "band", "band_val")
    b = banded.select(F.col("id").alias("b"), "blk", "band", "band_val")
    cand = (
        a.join(b, ["blk", "band", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    vb = df.select(
        F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cosine", _pair_cosine(F.col("va"), F.col("vb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
