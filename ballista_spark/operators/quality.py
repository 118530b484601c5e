"""Hashed n-gram quality classifier — the fastText/CCNet-style document
scorer every web-scale training-data pipeline runs (public method: Joulin
et al. 2016 "Bag of Tricks for Efficient Text Classification"; applied to
corpus filtering in CCNet and the LLaMA/GPT-3 data pipelines).

Three pieces, all pure DataFrame compositions:

- :func:`hashed_ngram_features` — the hashing trick: token n-grams →
  ``md5_long(gram) mod n_features`` buckets, L1-normalized per-doc counts.
  One explode + one (key, bucket) groupBy; the per-doc gram total rides
  the rows from before the explode so normalization costs no second
  shuffle.
- :func:`logreg_fit` — distributed logistic regression by batch gradient
  descent.  Spark-idiomatic iterative shape (same as kmeans_fit): the
  weight vector lives as a ≤ ``n_features``-row DataFrame that joins the
  feature rows (broadcast — bounded by construction: the hashing trick
  exists precisely to cap the model at a broadcastable size), and each
  iteration is two feature-sized shuffles (per-doc margin reduce,
  per-bucket gradient reduce).  The corpus is never collected;
  rounds run through ``iterate.iterate``.
- :func:`quality_classifier_score` — score = sigmoid(w·x + b) per doc,
  one broadcast join + one per-doc reduce.

Reference parity: the reference engine ships no ML operator — this exists
for the 100 TB training-data pipeline (SURVEY §2 "beyond the reference"
inventory), where quality filtering is a first-class stage.
"""

from __future__ import annotations

import math
from typing import NamedTuple, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballista_spark.operators.hashing import md5_long
from ballista_spark.operators.iterate import iterate
from ballista_spark.operators.lm import _gram_orders, _tokens

#: default hashed-feature space: 2^18 buckets ≈ 2 MB of float64 weights —
#: comfortably broadcastable, collision rate fine for quality filtering.
N_FEATURES = 2**18


class LogRegModel(NamedTuple):
    """Trained classifier: sparse weights (bucket, w) + intercept, plus
    the feature-hashing config the weights were trained under — scoring
    MUST re-hash with the same ``n_features``/``ngrams`` or bucket
    lookups silently miss (the same reason NgramLM carries n/alpha)."""

    weights: DataFrame
    bias: float
    n_features: int = N_FEATURES
    ngrams: "tuple[int, ...]" = (1, 2)


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_features: int = N_FEATURES,
    ngrams: Sequence[int] = (1, 2),
    normalize: bool = True,
) -> DataFrame:
    """(key, bucket, x) rows — L1-normalized hashed n-gram counts per doc.

    ``x`` sums to 1 within each document (empty docs produce no rows), so
    classifier margins are bounded regardless of document length.
    ``normalize=False`` returns raw integer counts instead (the form DSIR
    importance weighting needs — operators/dsir.py).

    Tokens and the gram array are materialized as columns in staged
    projections (whole-array zip_with construction — lm._gram_orders)
    so nothing tokenizes per array element; the naive per-position
    ``slice(tokenize(text), i, n)`` form measured ~90x slower.
    """
    staged = df.select(F.col(key_col).alias("key"), _tokens(text_col).alias("__toks"))
    grams = F.flatten(F.array(*_gram_orders(F.col("__toks"), tuple(ngrams))))
    exploded = (
        staged.select("key", grams.alias("__grams"))
        .select(
            "key",
            F.size("__grams").alias("total"),
            F.explode("__grams").alias("gram"),
        )
        .withColumn("bucket", F.pmod(md5_long("gram"), F.lit(n_features)))
    )
    x = (
        (F.count("*") / F.first("total")) if normalize else F.count("*").cast("double")
    )
    return exploded.groupBy("key", "bucket").agg(x.alias("x"))


def _sigmoid(z: F.Column) -> F.Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _margins(features: DataFrame, model_w: DataFrame, bias: float) -> DataFrame:
    """(key, margin) — w·x + b per document."""
    return (
        features.join(F.broadcast(model_w), "bucket", "left")
        .groupBy("key")
        .agg(
            (F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x")) + F.lit(bias)).alias(
                "margin"
            )
        )
    )


def logreg_fit(
    features: DataFrame,
    labels: DataFrame,
    label_col: str = "label",
    key_col: str = "key",
    n_iters: int = 30,
    lr: float = 10.0,
    reg: float = 0.0,
    n_features: int = N_FEATURES,
    ngrams: Sequence[int] = (1, 2),
) -> LogRegModel:
    """Train a logistic-regression classifier on hashed features.

    ``features``: (key, bucket, x) from :func:`hashed_ngram_features`;
    ``labels``: (key, label) with label in {0, 1}.  Pass the SAME
    ``n_features``/``ngrams`` the features were hashed with — they are
    stored on the model so scoring re-hashes identically.

    Batch gradient descent, one distributed pass per iteration:
    margin-reduce per doc (broadcast weight join), error join against the
    labels, gradient-reduce per bucket, driver-side weight update applied
    as a small outer join.  The learning rate defaults high because
    features are L1-normalized (margins move slowly otherwise); loss is
    monotone on separable synthetic fixtures at lr=10.
    """
    lab = labels.select(
        F.col(key_col).alias("key"), F.col(label_col).cast("double").alias("y")
    )
    feats = features.persist()
    n_docs = lab.count()
    bias, err = 0.0, None

    def step(weights: DataFrame) -> DataFrame:
        nonlocal err
        marg = _margins(feats, weights, bias)
        # doc-sized checkpoint: err feeds TWO consumers (the gradient
        # reduce below and the bias read); without it the margin join +
        # per-doc reduce recompute per consumer
        err = (
            marg.join(lab, "key")
            .select("key", (_sigmoid(F.col("margin")) - F.col("y")).alias("g"))
            .localCheckpoint(eager=False)
        )
        grad = (
            feats.join(err, "key")
            .groupBy("bucket")
            .agg((F.sum(F.col("g") * F.col("x")) / F.lit(n_docs)).alias("gw"))
        )
        return weights.join(grad, "bucket", "full").select(
            "bucket",
            (
                F.coalesce(F.col("w"), F.lit(0.0)) * F.lit(1.0 - lr * reg)
                - F.lit(lr) * F.coalesce(F.col("gw"), F.lit(0.0))
            ).alias("w"),
        )

    def read_bias(weights: DataFrame) -> None:
        # the round's one action: the bias gradient, with a count of the
        # new weights riding the same job, materializes both checkpoints
        nonlocal bias
        [row] = (
            err.agg((F.sum("g") / F.lit(n_docs)).alias("gb"))
            .crossJoin(weights.agg(F.count("*")))
            .collect()
        )
        bias -= lr * float(row["gb"] or 0.0)

    try:
        weights = iterate(
            feats.sparkSession.createDataFrame([], "bucket long, w double"),
            step, n_iters, delta=read_bias,
        ).state
        return LogRegModel(weights, bias, n_features, tuple(ngrams))
    finally:
        feats.unpersist()


def quality_classifier_score(
    df: DataFrame,
    model: LogRegModel,
    text_col: str = "text",
    key_col: str = "doc_id",
    score_col: str = "quality_prob",
) -> DataFrame:
    """Annotate ``df`` with sigmoid(w·x + b) in [0, 1] — the keep/drop
    probability a pipeline thresholds on.  Docs with no features (empty
    text) score sigmoid(b).  Features are re-hashed with the
    ``n_features``/``ngrams`` stored ON the model, so a model trained
    under non-default hashing cannot silently mis-score."""
    feats = hashed_ngram_features(
        df, text_col, key_col, model.n_features, model.ngrams
    )
    scores = _margins(feats, model.weights, model.bias).select(
        F.col("key").alias(key_col), _sigmoid(F.col("margin")).alias(score_col)
    )
    empty_score = 1.0 / (1.0 + math.exp(-model.bias))
    return df.join(scores, key_col, "left").withColumn(
        score_col, F.coalesce(F.col(score_col), F.lit(empty_score))
    )


# ---------------------------------------------------------------------------
# Model-free compressibility signals (Gopher/Dolma-family heuristics)

def compression_ratio(text: str = "text") -> "F.Column":
    """zlib-compressed length / raw UTF-8 length (DOUBLE, NULL for
    NULL/empty text) — the classic model-free junk detector: highly
    repetitive boilerplate (keyword stuffing, navigation spam, repeated
    templates) compresses far below natural prose (~0.3-0.6), while
    random/encrypted noise sits near or above 1.0.  Both tails are
    filtered in published pipelines (Gopher's repetition rules are a
    hand-rolled proxy for exactly this).

    Arrow-vectorized pandas UDF — the ONE justified Python stage here
    (no JVM zlib surface through the SQL function set); map-only, no
    state, no shuffle.  zlib level 6 is pinned for cross-run
    determinism.
    """
    @F.pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) / len(b)

        return s.map(one)

    return _ratio(F.col(text) if isinstance(text, str) else text)


def char_entropy(text: str = "text") -> "F.Column":
    """Shannon entropy of the character distribution in bits/char
    (DOUBLE, NULL for NULL/empty text).  Near-zero entropy = one-symbol
    spam; natural language sits ~4-5 bits/char; the signal complements
    :func:`compression_ratio` (entropy sees symbol skew, zlib sees
    longer-range repetition).  Same vectorized map-only UDF shape.
    """
    @F.pandas_udf("double")
    def _ent(s: pd.Series) -> pd.Series:
        import math as _m
        from collections import Counter

        def one(t):
            if not t:
                return None
            n = len(t)
            return -sum(
                (c / n) * _m.log2(c / n) for c in Counter(t).values()
            )

        return s.map(one)

    return _ent(F.col(text) if isinstance(text, str) else text)
