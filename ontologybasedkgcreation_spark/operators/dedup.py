"""Deduplication operators for large-scale training-data pipelines.

Four families, all DataFrame-declarative (shuffles only on content keys, AQE
skew-handled), engineered for the 100 TB case:

- exact:          sha256(text) groupBy — one shuffle, map-side combinable.
- n-gram Jaccard: shingle inverted index -> shared-shingle pair join ->
                  Jaccard filter.  The index is df-capped (drop shingles with
                  document frequency above ``max_df``) which both bounds the
                  quadratic blow-up of hot shingles AND is the standard
                  prefix-filtering-style correctness/scale tradeoff.
- MinHash + LSH:  k per-shingle hashes -> per-doc minima -> banded bucket
                  join.  Hashes are lexicographic minima of md5(shingle||seed)
                  hex strings — deterministic, engine-portable (the DuckDB
                  oracle computes the identical signature), no Python.
- SimHash:        64-bit token-weighted signature in a vectorized pandas UDF;
                  near-dup candidates via 4x16-bit band equality (Hamming<=3
                  standard trick), then exact Hamming verify with built-in
                  bit ops.

The reference repo has no dedup (its "refine" kNN pass, refine_nodes.py:27-96,
is entity canonicalization — covered by operators/linking.py); these operators
extend the engine to the web-scale ingestion ahead of KG construction.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One survivor (min id) per identical text; count of clones kept."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (pure built-ins).

    Tokenization is whitespace-RUN splitting with empty tokens dropped —
    identical on newlines/tabs/double spaces to the DuckDB oracle's
    ``list_filter(string_split_regex(text, '\\s+'), t -> t <> '')``.

    Distinctness is PER DOCUMENT (the key includes ``doc``), so it is an
    ``array_distinct`` inside the row — not a corpus-wide ``.distinct()``,
    which compiled to a full exchange + hash aggregate over the exploded
    shingle stream in every consumer of this frame (r7: one shuffle
    removed from each of the five dedup query paths; set-identical)."""
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    uniq = F.array_distinct(F.filter(sh, lambda s: s != F.lit("")))
    return df.select(
        F.col(id_col).alias("doc"), F.explode(uniq).alias("shingle")
    )


def _spread(sh: DataFrame) -> DataFrame:
    """Hash-repartition a (doc, shingle) frame across the session's
    shuffle-partition count.  Heavy derived work (per-shingle md5 x 16
    seeds, pair joins) hangs below this frame; a small single-file corpus
    otherwise scans as ONE partition and serializes all of it.  The
    explicit partition count keeps AQE from coalescing the exchange away
    (the data is small by bytes — the point is task parallelism).  NOT
    part of shingles() itself: decontamination's training side must stay
    exchange-free (plan-pinned).  A non-integer setting (e.g. a platform's
    'auto') falls back to the default parallelism."""
    spark = sh.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n = spark.sparkContext.defaultParallelism
    return sh.repartition(n, F.col("doc"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 10_000,
) -> DataFrame:
    """(a, b, jaccard) pairs with Jaccard(shingle sets) >= threshold."""
    # the repartition spreads the shingle table before it is cached and
    # re-consumed: a small single-file corpus scans as ONE partition, and
    # without an exchange every downstream pass (pair join probes, md5
    # signatures in sibling queries reusing this cache) runs single-task
    # (r7: measured 12 s single-task md5 stages).  The round-start
    # .distinct() paid the same exchange implicitly; per-doc distinctness
    # itself is the row-local array_distinct in shingles().
    sh = _spread(shingles(df, id_col, text_col, n)).cache()
    sizes = sh.groupBy("doc").agg(F.count("*").alias("nsh"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    idx = sh.join(
        F.broadcast(freq.filter(F.col("df") <= max_df).select("shingle")),
        "shingle",
        "left_semi",
    )
    a = idx.select(F.col("doc").alias("a"), "shingle")
    b = idx.select(F.col("doc").alias("b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col("doc").alias("a"), F.col("nsh").alias("na")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("nsh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def jaccard_verify(
    candidates: DataFrame, sh: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard over CANDIDATE pairs only — the scale-safe composition
    (LSH candidates -> verify).  The shared-shingle count is computed by
    probing b's shingle set with a's (one asymmetric join), so the work is
    Σ|sh(a)| over candidates, never the quadratic hot-shingle pair join of
    :func:`ngram_jaccard_pairs` with a high ``max_df``.

    candidates: (a, b); sh: (doc, shingle) distinct.  Returns (a, b, jaccard)
    with jaccard >= threshold."""
    sizes = sh.groupBy("doc").agg(F.count("*").alias("nsh"))
    a_sh = candidates.join(
        sh.select(F.col("doc").alias("a"), "shingle"), "a"
    )
    shared = (
        a_sh.join(
            sh.select(F.col("doc").alias("b"), "shingle"), ["b", "shingle"]
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("doc").alias("a"), F.col("nsh").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc").alias("b"), F.col("nsh").alias("nb")), "b"
        )
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def lsh_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """The 100 TB-shape near-dup operator: MinHash-LSH candidate generation
    followed by exact-Jaccard verification.  Bounded everywhere — banded
    bucket join for candidates, per-candidate probe join for the verify."""
    sh = _spread(shingles(df, id_col, text_col, n)).localCheckpoint(
        eager=False
    )
    cand = minhash_lsh_pairs_from_shingles(sh, bands, rows_per_band)
    return jaccard_verify(cand, sh, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """(doc, seed, minhash): per-doc minimum of md5(shingle || '#' || seed).
    String-ordered md5 minima are a valid permutation-min proxy and are
    byte-identical across engines (the oracle recomputes them in SQL)."""
    seeded = sh.withColumn(
        "seed", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1)))
    ).withColumn(
        "h", F.md5(F.concat_ws("#", F.col("shingle"), F.col("seed")))
    )
    return seeded.groupBy("doc", "seed").agg(F.min("h").alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any full LSH band."""
    sh = _spread(shingles(df, id_col, text_col, n))
    return minhash_lsh_pairs_from_shingles(sh, bands, rows_per_band)


def minhash_lsh_pairs_from_shingles(
    sh: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """LSH band join over a prebuilt (doc, shingle) table."""
    sig = minhash_signatures(sh, bands * rows_per_band)
    banded = (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc", "band")
        .agg(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(F.col("minhash")))
            ).alias("band_sig")
        )
        # lazy checkpoint: the a/b self-join below otherwise plans a
        # broadcast-hash build whose BROADCAST side re-executes the whole
        # md5-signature chain (a shuffle exchange cannot be reused as a
        # broadcast exchange) — the signatures were computed twice at
        # round start too; materializing banded once removes the second
        # pass for every caller
        .localCheckpoint(eager=False)
    )
    a = banded.select(F.col("doc").alias("a"), "band", "band_sig")
    b = banded.select(F.col("doc").alias("b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document — one Arrow-batched numpy stage with NO
    per-row Python loop: the whole batch is exploded to one flat
    (row, token) frame, each DISTINCT token is md5-hashed ONCE per batch
    (the oracle pins md5-prefix hashes, so the hash itself must stay; on
    natural-language corpora the distinct-token count is a small fraction
    of the token stream, which is where the Python cost was), and the
    per-bit majority is a single scatter-add over an (n_rows, 64) matrix.
    Semantics are bit-identical to the per-row reference loop (distinct
    tokens per doc, majority ``2*sum >= n``, empty doc -> 0)."""

    def _sim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            toks_lists = pdf[text_col].fillna("").str.split()
            counts = toks_lists.str.len().to_numpy()
            val = np.zeros(n, dtype=np.uint64)
            if counts.sum() > 0:
                rows = np.repeat(np.arange(n), counts)
                flat = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks_lists]
                )
                # distinct tokens per row, then hash each DISTINCT token of
                # the batch exactly once
                tdf = pd.DataFrame({"r": rows, "t": flat}).drop_duplicates()
                uniq, inv = np.unique(
                    tdf["t"].to_numpy(), return_inverse=True
                )
                hs = hash_tokens_u64(uniq)[inv]
                r = tdf["r"].to_numpy()
                bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                acc = np.zeros((n, 64), dtype=np.int64)
                np.add.at(acc, r, bits)
                cnt = np.bincount(r, minlength=n)
                maj = (acc * 2 >= cnt[:, None]) & (cnt[:, None] > 0)
                val = (maj.astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64
                )
            yield pd.DataFrame(
                {"doc": pdf[id_col].values, "simhash": val.view(np.int64)}
            )

    return df.select(id_col, text_col).mapInPandas(
        _sim, schema="doc long, simhash long"
    )


def hash_token(tok: str) -> int:
    """Deterministic 64-bit token hash (md5 prefix) — no PYTHONHASHSEED
    dependence."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
    )


# Cross-batch token-hash cache: Spark reuses executor Python workers, and
# natural-language token/3-gram vocabularies repeat heavily across Arrow
# batches — after the first batches, md5 (the dominant residual Python
# cost of the vectorized stages) degrades to a dict lookup.  Bounded;
# cleared wholesale on overflow (values are pure functions of the key, so
# eviction only costs recomputation).
_TOKEN_HASH_CACHE: dict = {}
_TOKEN_HASH_CACHE_MAX = 1 << 19


def hash_tokens_u64(tokens) -> "np.ndarray":
    """Vectorized :func:`hash_token` over a sequence of (ideally unique)
    tokens -> uint64 array, through the cross-batch cache."""
    import hashlib

    cache = _TOKEN_HASH_CACHE
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        v = cache.get(t)
        if v is None:
            v = int.from_bytes(
                hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
            )
            if len(cache) >= _TOKEN_HASH_CACHE_MAX:
                cache.clear()
            cache[t] = v
        out[i] = v
    return out


def simhash_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by banded SimHash: 4x16-bit bands guarantee recall for
    Hamming distance <= 3; exact popcount verify after the band join.

    The band table is lazily checkpointed before the a/b self-join — the
    broadcast build side would otherwise re-run the Arrow signature
    stage (same rationale as minhash_lsh_pairs_from_shingles)."""
    bands = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[F.lit(i) for i in range(4)])
        ).alias("band"),
    ).withColumn(
        "band_bits",
        F.expr("shiftrightunsigned(simhash, band * 16) & 65535"),
    ).localCheckpoint(eager=False)
    a = bands.select(
        F.col("doc").alias("a"), F.col("simhash").alias("sim_a"), "band", "band_bits"
    )
    b = bands.select(
        F.col("doc").alias("b"), F.col("simhash").alias("sim_b"), "band", "band_bits"
    )
    cand = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    ).filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


# ---------------------------------------------------------------------------
# duplicate-group resolution
# ---------------------------------------------------------------------------


def resolve_duplicates(
    df: DataFrame, id_col: str, text_col: str, pairs: DataFrame
) -> DataFrame:
    """Candidate near-dup ``pairs`` (a, b) -> one KEPT representative per
    duplicate group: connected components over the pair graph, then within
    each group keep the longest text (ties: smallest id) — the "most
    complete copy wins" retention policy a training pipeline applies after
    any of the pair generators above.

    Returns (id, keep_id, group_size) for EVERY row of ``df``; singletons
    keep themselves.  Scale shape: the window runs only over docs that
    appear in a pair (a tiny fraction of the corpus — group membership
    comes from :func:`linking.connected_components`, pointer-doubling,
    one action per round); the singleton majority is a broadcast-anti-join
    pass-through that never shuffles on a key.
    """
    from .linking import connected_components

    p = pairs.select(
        F.col("a").cast("string").alias("a"), F.col("b").cast("string").alias("b")
    )
    comp = connected_components(p)  # (pre_key, comp) over pair endpoints
    ranked = (
        df.select(
            F.col(id_col),
            F.col(id_col).cast("string").alias("pre_key"),
            F.length(text_col).alias("_len"),
        )
        .join(comp, "pre_key")
        .drop("pre_key")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("comp").orderBy(F.desc("_len"), F.col(id_col))
    grouped = ranked.select(
        id_col,
        F.first(id_col).over(w).alias("keep_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("comp"))
        .alias("group_size"),
    )
    singletons = df.select(id_col).join(
        grouped.select(id_col), id_col, "left_anti"
    ).select(
        id_col,
        F.col(id_col).alias("keep_id"),
        F.lit(1).cast("long").alias("group_size"),
    )
    return grouped.unionByName(singletons)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Eval-set decontamination (the GPT-3/Llama rule: a training document
    that shares any word n-gram with a benchmark document is contaminated
    and must be dropped or scrubbed): (doc, eval_doc, n_shared) with
    n_shared = DISTINCT shared n-grams.  Production uses n=13; tests use
    smaller n for hit density.

    Scale shape: the eval side is benchmark-sized (thousands of docs /
    millions of grams — broadcastable), the training side streams through
    one explode + one broadcast-hash join + one map-side-combinable
    count: no shuffle of the 100 TB side at all.  Drop or scrub with an
    anti-join on the returned doc column."""
    train_sh = shingles(train, id_col, text_col, n)
    eval_sh = (
        shingles(eval_df, id_col, text_col, n)
        .withColumnRenamed("doc", "eval_doc")
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc", "eval_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


# Odd 64-bit multiplier (odd => invertible mod 2^64, so the prefix-sum
# formulation below can divide by it); SplitMix64-family constant.
_RK_BASE = 0x9E3779B97F4A7C15


def _rolling_gram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-position n-gram ROLLING hashes -> (id, pos, h:long) — the
    Rabin-Karp constant-factor upgrade over md5-per-position: each token
    is hashed once (md5-u64 through the cross-batch cache, the simhash
    discipline), then every gram hash is O(1) via wrapping-uint64 prefix
    sums instead of O(n-gram bytes) of md5, fully numpy-vectorized with
    no per-token Python loop:

        h(i) = sum_{j=0..n-1} t[i+j] * B^(n-1-j)   (mod 2^64)
             = (P[i+n-1] - P[i-1]) * B^(n-1+i)     (mod 2^64)

    with P the prefix sum of t[j] * B^(-j) (B odd => invertible mod
    2^64; uint64 wraparound IS the modulus).  Gram identity is then a
    64-bit fingerprint rather than a full md5 — collisions are
    possible in principle (~q^2/2^65 expected false-hot grams) but
    that is the standard Rabin-Karp dedup trade and only ever ADDS a
    marked span; the md5 path stays available as the exact reference
    (``gram_hash='md5'``) and the span outputs are pinned identical in
    tests."""
    id_type = dict(df.dtypes)[id_col]
    binv = pow(_RK_BASE, -1, 1 << 64)

    def _grams(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = np.uint64(_RK_BASE)
        BINV = np.uint64(binv)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # tokenizer parity with the md5 path's Spark split(lower(t),
            # '\\s+'): Java \s is the ASCII class [ \t\n\x0B\f\r] (no
            # UNICODE_CHARACTER_CLASS), while Python str.split() also
            # splits on U+00A0 etc. — use the explicit class and drop the
            # empty tokens the regex split produces at boundaries (the
            # cooccurrence_counts_fast discipline)
            toks_lists = (
                pdf[text_col]
                .fillna("")
                .str.lower()
                .str.split(r"[ \t\n\x0b\f\r]+")
                .map(lambda ts: [t for t in ts if t])
            )
            lens = toks_lists.str.len().to_numpy(dtype=np.int64)
            n_out = np.clip(lens - n + 1, 0, None)
            total_out = int(n_out.sum())
            if total_out == 0:
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks_lists]
            )
            uniq, inv = np.unique(flat, return_inverse=True)
            a = hash_tokens_u64(uniq)[inv]
            total = int(lens.sum())
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_in_doc = np.arange(total) - np.repeat(starts, lens)
            maxlen = int(lens.max())
            pow_b = np.empty(maxlen + n, dtype=np.uint64)
            pow_b[0] = 1
            np.multiply.accumulate(
                np.full(maxlen + n - 1, B, dtype=np.uint64), out=pow_b[1:]
            )
            pow_binv = np.empty(maxlen, dtype=np.uint64)
            pow_binv[0] = 1
            if maxlen > 1:
                np.multiply.accumulate(
                    np.full(maxlen - 1, BINV, dtype=np.uint64),
                    out=pow_binv[1:],
                )
            cs0 = np.concatenate(
                (np.zeros(1, dtype=np.uint64),
                 np.cumsum(a * pow_binv[pos_in_doc], dtype=np.uint64))
            )
            out_doc = np.repeat(np.arange(len(pdf)), n_out)
            out_starts = np.concatenate(([0], np.cumsum(n_out)[:-1]))
            i_local = np.arange(total_out) - np.repeat(out_starts, n_out)
            g = starts[out_doc] + i_local
            h = (cs0[g + n] - cs0[g]) * pow_b[(n - 1) + i_local]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values[out_doc],
                    "pos": i_local.astype(np.int32),
                    "h": h.view(np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        _grams, schema=f"{id_col} {id_type}, pos int, h long"
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_total: int = 2,
    gram_hash: str = "rolling",
) -> DataFrame:
    """Exact-substring duplicate spans — Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"): any word n-gram that
    occurs ``min_total``+ times ANYWHERE in the corpus marks its
    occurrences as duplicated text; maximal runs of consecutive
    duplicated n-gram starts are merged into token spans
    (doc, span_start, span_end, n_dup_tokens), 0-based inclusive token
    indices.  The paper dedups at 50-token granularity over a suffix
    array; the n-gram-hash formulation finds the identical >=n-token
    repeats and is distributable.

    Scale shape: per-position n-gram hashes come from ONE per-row array
    transform (no ×n row blowup before the explode); the hot-hash table
    is a map-side-combinable count (total occurrences, so a
    within-document repeat also counts, like the suffix array); the
    span merge is an islands window PER DOCUMENT — partitions are
    document-sized, never corpus-sized.  ``gram_hash='rolling'`` (the
    default) computes the per-position hashes with a Rabin-Karp rolling
    polynomial over once-hashed tokens — O(tokens) work instead of
    O(tokens × n) bytes md5-hashed — behind the same (doc, pos, h)
    contract; ``gram_hash='md5'`` keeps the exact full-gram-digest
    reference path (span outputs pinned identical in tests)."""
    from pyspark.sql import Window

    if gram_hash == "rolling":
        grams = _rolling_gram_rows(df, id_col, text_col, n)
    elif gram_hash == "md5":
        toks = df.select(
            F.col(id_col),
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
            ).alias("_t"),
        )
        grams = toks.select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"case when size(_t) >= {n} then "
                    f"transform(sequence(1, size(_t) - {n - 1}), "
                    f"i -> md5(concat_ws(' ', slice(_t, i, {n})))) "
                    f"else array() end"
                )
            ).alias("pos", "h"),
        )
    else:
        raise ValueError(
            f"gram_hash must be 'rolling' or 'md5', got {gram_hash!r}"
        )
    hot = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_total)
        .select("h")
    )
    marked = grams.join(hot, "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        marked.withColumn(
            "_new",
            F.when(
                F.coalesce(
                    F.col("pos") - F.lag("pos", 1).over(w), F.lit(2)
                )
                > 1,
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "n_dup_tokens"
            ),
        )
    )
    return islands
