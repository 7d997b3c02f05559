"""Corpus-trained distributional word embeddings (the real-encoder path of
the semantic refine pass).

The reference embeds node renderings with an external sentence encoder and
kNNs them in a vector store (``kg_creator/src/vector_store.py:13``,
``refine_nodes.py:45-57``); this sandbox has no downloadable model, so the
engine trains its own distributional embedding FROM THE CORPUS with a
published, deterministic method: positive-PMI co-occurrence factorization
(Levy & Goldberg 2014 showed PPMI+SVD is the closed-form equivalent of
skip-gram word2vec).  Tokens that appear in the same contexts ("apex" and
"supreme" before "court") land near each other even with zero lexical
overlap — exactly the alias class the hashing-TF stand-in cannot merge.

Scale shape (100 TB):

- co-occurrence counting is a plain DataFrame job — posexplode tokens,
  broadcast-join the capped vocabulary, one windowed self-join per document
  keyed on (doc, position), one groupBy.  Work is O(corpus tokens x window).
- only the (vocab x vocab) PPMI factorization runs on the driver, and the
  vocabulary is CAPPED (``max_vocab``, default 2000) — like ``kmeans_fit``,
  the driver holds model-sized state, never corpus-sized state.  The PPMI
  matrix is symmetric, so the factorization is one ``numpy.linalg.eigh``
  (deterministic, no RNG).
- the trained table (vocab x dim floats, <1 MB) broadcasts to an
  Arrow-batched embedder stage identical in contract to
  ``similarity.hashing_feature_vectors``: df(pre_key, norm_identity) ->
  df(pre_key, embedding) — the hook shape ``refine_pairs_semantic``
  consumes.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# context-only words that carry no identity signal; identities keep them in
# the string (normalize_identity preserves them) but the embedder skips them
EMBED_STOPWORDS = ("of", "the", "and", "a", "an", "in", "on", "for", "to")


def vocab_frame(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab: int = 2_000,
) -> DataFrame:
    """(token, n): the capped vocabulary — min corpus frequency, stopwords
    out, deterministically capped to the top ``max_vocab`` by (n desc,
    token)."""
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(
            (F.col("n") >= min_count)
            & ~F.col("token").isin(*EMBED_STOPWORDS)
        )
        .orderBy(F.desc("n"), "token")
        .limit(max_vocab)
    )


def cooccurrence_frame(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 4,
    min_count: int = 2,
    max_vocab: int = 2_000,
    id_col: Optional[str] = None,
    vocab_df: Optional[DataFrame] = None,
) -> DataFrame:
    """(w, c, n) with w <= c: windowed co-occurrence counts over the capped
    vocabulary — the distributed half of embedder training, also exposed as
    the oracle-checked ``cooccur`` driver query (one posexplode, one
    broadcast vocab semi-join, one windowed self-join per document, one
    groupBy).

    ``id_col``: unique document key if the corpus has one.  Default (None)
    keys by content hash — NOT monotonically_increasing_id: mid() is
    evaluated per OUTPUT row, so placed beside a posexplode it would give
    every token its own "document" and the windowed self-join would find
    zero pairs.  Caveat of the hash default: byte-identical duplicate
    documents collapse onto one key, and the self-join then pairs their
    token streams with each other (d copies contribute d² directed matches
    instead of d) — pass ``id_col`` when exact counts over a
    duplicate-bearing corpus matter.

    ``vocab_df``: pre-computed vocabulary frame — callers that already
    materialized the vocabulary (token_cooccurrence collects it first)
    pass it in so the corpus isn't re-scanned to rebuild it."""
    if vocab_df is None:
        vocab_df = vocab_frame(docs, text_col, min_count, max_vocab)
    doc_key = (
        F.col(id_col) if id_col is not None else F.xxhash64(F.col(text_col))
    )
    toks = docs.select(
        doc_key.alias("doc"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("pos", "token"),
    )
    kept = toks.join(
        F.broadcast(vocab_df.select("token")), "token", "left_semi"
    )
    # Window pairing as a PURE EQUI-JOIN on (doc, pos): the left side explodes
    # each kept token into its `window` forward probe positions, so the join
    # key carries the window constraint and Spark's hash/sort-merge join does
    # O(tokens x window) work.  (A doc-only equi-key with `pb <= pa+window` as
    # a post-join filter is a per-document cross product — O(tokens^2) pair
    # comparisons on long documents; plan-verified and rejected, see
    # test_embedding plan pin + BENCH/BASELINE.md A/B line.)
    probes = kept.select(
        "doc",
        F.col("token").alias("w"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos"),
    )
    b = kept.select("doc", "pos", F.col("token").alias("c"))
    return (
        probes.join(b, ["doc", "pos"])
        .groupBy("w", "c")
        .agg(F.count("*").alias("n"))
        # fold the two directions onto ordered (w <= c) keys so the table
        # is the symmetric half
        .select(
            F.least("w", "c").alias("w"),
            F.greatest("w", "c").alias("c"),
            "n",
        )
        .groupBy("w", "c")
        .agg(F.sum("n").alias("n"))
    )


def vocab_counts_fast(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab: int = 2_000,
) -> DataFrame:
    """(token, n) capped vocabulary — the batch-vectorized twin of
    :func:`vocab_frame`, exact-count-identical (pinned by the trainer
    parity test).  The spec op explodes every token into its own row and
    hash-aggregates 10^6-10^8 rows; here each partition tokenizes its
    documents once (the explicit ASCII whitespace class — Java ``\\s``
    parity, see :func:`cooccurrence_counts_fast`) and folds the token
    stream into one ``Counter`` per partition (dict-hash adds — an
    object-array ``np.unique`` sort measured slower than the JVM agg it
    was meant to replace), so the shuffle carries per-partition distinct
    tokens instead of the token stream.  The filter/cap/order discipline
    (n >= min_count, stopwords out, top ``max_vocab`` by (n desc, token))
    is identical DataFrame code over the summed partials."""
    import re

    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _vcount(batches):
        from collections import Counter

        acc: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col]:
                acc.update(ws_re.split(text or ""))
        acc.pop("", None)
        if acc:
            yield pd.DataFrame(
                {
                    "token": pd.Series(list(acc.keys()), dtype=object),
                    "n": pd.Series(list(acc.values()), dtype="int64"),
                }
            )

    # lowercase in the JVM, exactly as the spec op does: Python's
    # str.lower and the JVM's lower need not agree outside ASCII
    partials = docs.select(
        F.lower(F.col(text_col)).alias(text_col)
    ).mapInPandas(_vcount, schema="token string, n long")
    return (
        partials.groupBy("token")
        .agg(F.sum("n").alias("n"))
        .filter(
            (F.col("n") >= min_count)
            & ~F.col("token").isin(*EMBED_STOPWORDS)
        )
        .orderBy(F.desc("n"), "token")
        .limit(max_vocab)
    )


def cooccurrence_counts_fast(
    docs: DataFrame,
    vocab_tokens: List[str],
    text_col: str = "text",
    window: int = 4,
) -> DataFrame:
    """(w, c, n) with w <= c — the BATCH-VECTORIZED twin of
    :func:`cooccurrence_frame` for a pre-collected vocabulary, bit-identical
    by construction and pinned by the parity test (the repo's simhash
    pattern: the DataFrame spec op stays as the ``cooccur`` oracle, the
    numpy partial-count stage is the hot path).

    Why: the spec op explodes every kept token into ``window`` probe rows
    and shuffles them through a (doc, pos) equi-join — correct and
    O(tokens x window), but at trainer shape (20k docs x ~3.3k tokens)
    that is ~260 M shuffled rows and was measured at 98 s of the 113 s
    auto-train cost.  Here each partition folds its documents into ONE
    vocab x vocab int64 count matrix with ``np.add.at`` (vocab is capped,
    so the matrix is <= 2000^2 x 8 B = 32 MB) and emits only its nonzero
    partials; the shuffle is vocab-pair-sized, not corpus-sized.

    Duplicate-document parity: the spec keys documents by
    ``xxhash64(text)``, so d byte-identical copies collapse onto one join
    key and contribute d^2 directed matches (documented caveat on
    :func:`cooccurrence_frame`).  The fast path reproduces that exactly by
    pre-grouping on the text and weighting each distinct document's count
    matrix by d^2 — which also means duplicate text is tokenized once.

    Tokenizer parity: the spec splits on Java regex ``\\s+`` (ASCII
    whitespace — Java's ``\\s`` has no UNICODE_CHARACTER_CLASS here);
    the Python stage uses the explicit class ``[ \\t\\n\\x0b\\f\\r]+``,
    NOT ``str.split()`` (which also splits on Unicode whitespace like
    NBSP and would drift on web text)."""
    import re

    import pandas as pd

    tok2id = {t: i for i, t in enumerate(vocab_tokens)}
    n_vocab = len(vocab_tokens)
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
    spark = docs.sparkSession
    # id->token mapping as a broadcast join, not a 2000-element array
    # literal: giant flat literal trees are a planning hazard (CLAUDE.md)
    id_map = spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab_tokens)], "tid int, token string"
    )

    grouped = docs.groupBy(F.col(text_col).alias("text")).agg(
        F.count("*").alias("d")
    )

    def _count(batches):
        # per-document accumulation with a whole-batch token-id mapping:
        # documents are short enough that the per-doc delta loop is cheap;
        # the id mapping stays dict-get based (an object-array np.unique
        # sort measured 6x SLOWER at this shape — see OPTIMIZATION_r07.md
        # "negative results")
        counts = np.zeros((n_vocab, n_vocab), dtype=np.int64)
        for pdf in batches:
            for text, d in zip(pdf["text"], pdf["d"]):
                toks = ws_re.split(text or "")
                ids = np.fromiter(
                    (tok2id.get(t, -1) for t in toks if t != ""),
                    dtype=np.int64,
                )
                if ids.size < 2:
                    continue
                weight = int(d) * int(d)
                for delta in range(1, window + 1):
                    if delta >= ids.size:
                        break
                    a = ids[:-delta]
                    b = ids[delta:]
                    m = (a >= 0) & (b >= 0)
                    if m.any():
                        np.add.at(counts, (a[m], b[m]), weight)
        wi, ci = np.nonzero(counts)
        yield pd.DataFrame(
            {"wi": wi, "ci": ci, "n": counts[wi, ci]}
        )

    # group on the raw text (the spec's document key), then lowercase in
    # the JVM like the spec's tokenizer
    partials = grouped.select(F.lower("text").alias("text"), "d").mapInPandas(
        _count, schema="wi int, ci int, n long"
    )
    return (
        partials.groupBy("wi", "ci")
        .agg(F.sum("n").alias("n"))
        .join(F.broadcast(id_map), F.col("wi") == F.col("tid"))
        .select(F.col("token").alias("w"), "ci", "n")
        .join(F.broadcast(id_map), F.col("ci") == F.col("tid"))
        .select("w", F.col("token").alias("c"), "n")
        # identical directed->ordered fold to the spec op
        .select(
            F.least("w", "c").alias("w"),
            F.greatest("w", "c").alias("c"),
            "n",
        )
        .groupBy("w", "c")
        .agg(F.sum("n").alias("n"))
    )


def token_cooccurrence(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 4,
    min_count: int = 2,
    max_vocab: int = 2_000,
    fast: bool = True,
) -> tuple[List[tuple], Dict[str, int]]:
    """Distributed co-occurrence counting.

    Returns (rows, vocab_counts): rows = [(w, c, n), ...] with w < c (the
    symmetric half; the factorization mirrors it), vocab_counts = token ->
    corpus frequency for the capped vocabulary.  Both are vocabulary-sized
    (driver-safe); the corpus-sized work is all in the DataFrame job.

    ``fast=True`` (default) routes the counting through
    :func:`cooccurrence_counts_fast` (numpy partial matrices, parity-pinned
    bit-identical) and the vocabulary through :func:`vocab_counts_fast`
    (same parity discipline); ``fast=False`` keeps the spec ops — the
    ``cooccur`` oracle path and the parity test's reference leg."""
    vocab_df = (
        vocab_counts_fast(docs, text_col, min_count, max_vocab)
        if fast
        else vocab_frame(docs, text_col, min_count, max_vocab)
    )
    vocab_rows = vocab_df.collect()
    vocab_counts = {r["token"]: int(r["n"]) for r in vocab_rows}
    spark = docs.sparkSession
    if fast:
        cooc = cooccurrence_counts_fast(
            docs, sorted(vocab_counts), text_col, window
        )
    else:
        cooc = cooccurrence_frame(
            docs, text_col, window, min_count, max_vocab,
            # re-create the collected vocabulary as a literal frame: the
            # co-occurrence job then broadcasts it without re-running the
            # vocab aggregation over the corpus
            vocab_df=spark.createDataFrame(
                [(t,) for t in vocab_counts], "token string"
            ) if vocab_rows else vocab_df.select("token"),
        )
    rows = [(r["w"], r["c"], int(r["n"])) for r in cooc.collect()]
    return rows, vocab_counts


def ppmi_vectors(
    rows: Iterable[tuple],
    vocab_counts: Dict[str, int],
    dim: int = 64,
) -> Dict[str, np.ndarray]:
    """(w, c, n) half-matrix + marginals -> token -> L2-normalized vector.

    PPMI = max(0, log(p(w,c) / (p(w) p(c)))); the symmetric PPMI matrix is
    factorized with ``eigh`` (deterministic) and each token keeps the
    top-``dim`` eigenpairs scaled by sqrt(eigenvalue) — the symmetric SVD
    embedding of Levy & Goldberg (2014)."""
    vocab = sorted(vocab_counts)
    index = {t: i for i, t in enumerate(vocab)}
    v = len(vocab)
    if v == 0:
        return {}
    M = np.zeros((v, v), dtype=np.float64)
    marg = np.zeros(v, dtype=np.float64)
    total = 0.0
    for w, c, n in rows:
        i, j = index[w], index[c]
        M[i, j] += n
        M[j, i] += n
        marg[i] += n
        marg[j] += n
        total += 2.0 * n
    if total == 0:
        return {t: np.zeros(dim, dtype=np.float64) for t in vocab}
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((M * total) / np.outer(marg, marg))
    pmi[~np.isfinite(pmi)] = 0.0
    np.maximum(pmi, 0.0, out=pmi)
    lam, U = np.linalg.eigh(pmi)  # ascending eigenvalues
    k = min(dim, v)
    top = np.argsort(lam)[::-1][:k]
    lam_top = np.clip(lam[top], 0.0, None)
    emb = U[:, top] * np.sqrt(lam_top)[None, :]
    if k < dim:
        emb = np.pad(emb, ((0, 0), (0, dim - k)))
    # deterministic sign convention: eigh sign is arbitrary per column —
    # flip each column so its largest-|.| entry is positive
    flip = np.sign(emb[np.argmax(np.abs(emb), axis=0), np.arange(dim)])
    flip[flip == 0] = 1.0
    emb = emb * flip[None, :]
    out = {}
    for t, i in index.items():
        vec = emb[i]
        n2 = np.linalg.norm(vec)
        out[t] = vec / n2 if n2 > 0 else vec
    return out


def train_corpus_embedder(
    docs: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    window: int = 4,
    min_count: int = 2,
    max_vocab: int = 2_000,
):
    """Train on a corpus, return the embedder hook for
    :func:`linking.refine_pairs_semantic`:
    ``df(pre_key, norm_identity) -> df(pre_key, embedding array<double>)``.

    The whole model is the token-vector table (< vocab x dim x 8 bytes);
    it broadcasts into one Arrow stage that mean-pools a node identity's
    token vectors (stopwords and out-of-vocabulary tokens skipped) and
    L2-normalizes, so downstream SRP-LSH cosine works unchanged."""
    rows, vocab_counts = token_cooccurrence(
        docs, text_col, window=window, min_count=min_count, max_vocab=max_vocab
    )
    vectors = ppmi_vectors(rows, vocab_counts, dim=dim)
    return dict_embedder(vectors, dim=dim)


def dict_embedder(
    vectors: Dict[str, np.ndarray],
    dim: Optional[int] = None,
    stopwords: tuple = EMBED_STOPWORDS,
):
    """token->vector table (any provenance: corpus-trained above, or a
    vendored external model's rows) -> the refine_pairs_semantic embedder
    hook.  Mean-pool + L2-normalize per identity string."""
    if dim is None:
        dim = len(next(iter(vectors.values()))) if vectors else 64
    table = {t: np.asarray(v, dtype=np.float64) for t, v in vectors.items()}
    stop = set(stopwords)

    def embed(df: DataFrame) -> DataFrame:
        import pandas as pd

        id_col, text_col = df.columns[0], df.columns[1]

        def _embed(batches):
            for pdf in batches:
                out = []
                for s in pdf[text_col]:
                    acc = np.zeros(dim, dtype=np.float64)
                    k = 0
                    for t in (s or "").split():
                        if t in stop:
                            continue
                        vec = table.get(t)
                        if vec is not None:
                            acc += vec
                            k += 1
                    if k:
                        n2 = np.linalg.norm(acc)
                        if n2 > 0:
                            acc /= n2
                    out.append(acc.tolist())
                yield pd.DataFrame({id_col: pdf[id_col], "embedding": out})

        return df.mapInPandas(
            _embed, schema=f"{id_col} string, embedding array<double>"
        )

    return embed
