"""Trained quality classifier over hashed n-gram features.

The standard web-corpus curation step the reference family outsources to
fastText (GPT-3/LLaMA "quality filter": a linear classifier over bag-of-
ngram features, positives = a trusted domain, negatives = raw crawl):
here as deterministic fixed-iteration logistic regression expressed
entirely in DataFrame ops, the ``pagerank`` discipline applied to
gradient descent —

    w_{t+1} = w_t − lr · ( Σ_docs (σ(xᵀw_t) − y)·x / n  +  l2·w_t )

- features are the engine's hashed unigram+bigram buckets
  (``text_analysis._hashed_grams`` — 60-bit md5, the stratified_sample
  convention), so the model is NUM_BUCKETS rows no matter the corpus
  vocabulary (the hashing trick, as in DSIR's ``importance_weights``);
- iterations are FIXED, never convergence-polled (the budgeted form at
  scale), each one: a broadcast join of the model into the feature
  table, a per-doc margin sum, a map-side-combinable per-bucket gradient
  sum, one eager ``localCheckpoint`` on the NUM_BUCKETS-row model (the
  CC/pagerank one-action-per-round discipline);
- the training-set size rides as a LAZY 1-row aggregate broadcast
  cross-join — no driver-side ``count()``;
- scoring is one broadcast join + one groupBy on the doc id; the corpus
  is never shuffled except by its own id.

Both halves are pure ``pyspark.sql.functions`` plans — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import _hashed_grams

# The model: NUM_BUCKETS hashed-feature weights (training and scoring must
# share it), fit by ITERATIONS full-batch gradient steps of rate LR with
# L2 penalty L2.
NUM_BUCKETS = 256
ITERATIONS = 3
LR = 1.0
L2 = 0.1


def _features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bk, cnt) hashed-feature counts — raw term counts, the
    fastText bag-of-ngrams form."""
    return (
        _hashed_grams(df, id_col, text_col, NUM_BUCKETS)
        .groupBy(id_col, "bk")
        .agg(F.count("*").cast("double").alias("cnt"))
    )


def train_quality_classifier(
    pos: DataFrame, neg: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Fit the logistic model -> ``(bk, w)``, one row per feature bucket
    that occurs in the training set (absent buckets are implicitly 0 and
    stay 0 under plain GD; ``score_with_classifier`` coalesces them).

    ``pos``/``neg`` are the two labeled frames (y=1 / y=0) and their id
    sets must be DISJOINT (an id on both sides would fan out the label
    join); weights start at 0 (margin 0 -> p=0.5 everywhere), each fixed
    iteration applies one full-batch gradient step with L2.  At 100 TB the
    feature table is checkpointed once and every round touches it with ONE
    broadcast hash join (model side is NUM_BUCKETS rows) — no
    all-pairs, no driver-side vectors."""
    train = pos.select(
        F.col(id_col), F.col(text_col), F.lit(1.0).alias("y")
    ).unionByName(
        neg.select(F.col(id_col), F.col(text_col), F.lit(0.0).alias("y"))
    )
    feats = (
        _features(train, id_col, text_col)
        .join(train.select(id_col, "y"), id_col)
        .localCheckpoint()  # reused every round — bound lineage once
    )
    n_tot = F.broadcast(
        train.agg(F.count("*").cast("double").alias("n"))
    )
    weights = (
        feats.select("bk").distinct().withColumn("w", F.lit(0.0))
        .localCheckpoint()
    )
    for _ in range(ITERATIONS):
        margins = (
            feats.join(F.broadcast(weights), "bk")
            .groupBy(id_col, "y")
            .agg(F.sum(F.col("cnt") * F.col("w")).alias("m"))
            .select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))
                    - F.col("y")
                ).alias("resid"),
            )
        )
        grad = (
            feats.join(margins, id_col)
            .groupBy("bk")
            .agg(F.sum(F.col("resid") * F.col("cnt")).alias("g"))
            .crossJoin(n_tot)
            .select("bk", (F.col("g") / F.col("n")).alias("grad"))
        )
        weights = (
            weights.join(grad, "bk", "left")
            .select(
                "bk",
                (
                    F.col("w")
                    - F.lit(LR)
                    * (
                        F.coalesce("grad", F.lit(0.0))
                        + F.lit(L2) * F.col("w")
                    )
                ).alias("w"),
            )
            .localCheckpoint()
        )
    return weights


def score_with_classifier(
    df: DataFrame, weights: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Score every document -> ``(id, score)`` with score = σ(xᵀw),
    rounded to 7 decimals (order-dependent float sums across engines);
    gram-less documents pass through at σ(0) = 0.5 (the unigram_logprob
    output-contract discipline).  One broadcast join + one map-side-
    combinable groupBy — the corpus shuffles only by its own id."""
    per = (
        _features(df, id_col, text_col)
        .join(F.broadcast(weights), "bk", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.coalesce("w", F.lit(0.0))).alias("m")
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per, id_col, "left")
        .select(
            id_col,
            F.round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-F.coalesce("m", F.lit(0.0)))),
                7,
            ).alias("score"),
        )
    )
