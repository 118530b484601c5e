"""Multiclass (softmax) text classification over hashed character
n-grams — trained language identification, the fastText flagship task
(Joulin et al. 2016 "Bag of Tricks for Efficient Text Classification";
fastText's lid.176 model is exactly char-n-gram features + a linear
multiclass head).  The engine's heuristic ``text.lang_id`` covers five
hard-coded stopword lists; this operator LEARNS the head from labeled
examples, for any label set — language, domain, topic, toxicity tier.

Same Spark-idiomatic iterative shape as ``quality.logreg_fit`` (binary
cousin) and ``similarity.kmeans_fit``:

- the model is a ``(label, bucket, w)`` DataFrame bounded by
  ``n_classes × n_features`` — broadcastable by construction (the
  hashing trick caps it); the corpus is never collected.
- one training iteration = margins (feature-sized broadcast join +
  per-(doc, class) reduce), softmax + error (two windows over the doc
  key — ONE shuffle), gradient (feature-sized join + per-(class,
  bucket) reduce), driver-side bias update from ``n_classes`` scalars;
  rounds run through ``iterate.iterate``.

Features are character n-grams (language ID needs sub-word signal;
word-grams can't see that "sch"/"ación"/"ться" are different languages)
hashed with the cross-engine ``md5_long``, so the numpy mirror in
tests/test_classify.py reproduces training end-to-end, bit-for-bit
modulo float summation order.

Reference parity: the reference engine ships no ML operators
(`rust/core/proto/ballista.proto` — relational surface only); this is
"beyond the reference" pipeline functionality like quality/DSIR/LM.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ballista_spark.operators.hashing import md5_long
from ballista_spark.operators.iterate import iterate

#: langid default feature space: 2^16 buckets × n_classes doubles —
#: a 176-language head is ~92 MB, still broadcast territory.
N_FEATURES = 2**16


class SoftmaxModel(NamedTuple):
    """Trained multiclass head: sparse ``(label, bucket, w)`` weights +
    per-class biases, plus the feature-hashing config training used —
    scoring re-hashes with the same ``n_features``/``ngrams`` or bucket
    lookups silently miss (the LogRegModel/NgramLM convention)."""

    weights: DataFrame
    biases: dict[str, float]
    n_features: int = N_FEATURES
    ngrams: "tuple[int, ...]" = (1, 2, 3)


def char_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_features: int = N_FEATURES,
    ngrams: Sequence[int] = (1, 2, 3),
    lowercase: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """(key, bucket, x) — L1-normalized hashed CHARACTER n-gram counts
    per document (the char-level twin of ``quality.hashed_ngram_features``).

    Pure JVM: per order n, ``transform(sequence(1, len-n+1), i ->
    substr(s, i, n))`` materializes the gram array in one projection
    (guarded to ``array()`` when the text is shorter than n), then one
    explode + one (key, bucket) groupBy — a single shuffle.  Documents
    with no grams (empty/NULL text) produce no rows.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    # materialize the (lowered) text into its own column BEFORE any HOF
    # lambda touches it: a lambda capturing the lower()/cast expression
    # subtree re-evaluates it per array element in the interpreted HOF
    # path — O(len²) per document (the lm._gram_orders pathology;
    # measured 22.9 s → 2.6 s for the sf0.1 feature build)
    lowered = df.select(
        F.col(key_col).alias("key"),
        (F.lower(col) if lowercase else col).alias("__s"),
    )
    s = F.col("__s")
    slen = F.length(s)

    # astral (non-BMP) codepoints break the regex fast path: Java's
    # regex engine advances the lookahead by code UNIT, so a surrogate
    # pair spawns a spurious low-surrogate-anchored gram that the
    # codepoint-exact substr path (and the numpy mirror) never emits
    has_astral = s.rlike("[\\x{10000}-\\x{10FFFF}]")

    def order_grams(n: int) -> F.Column:
        # fast path: one O(len) regex pass extracting the overlapping
        # grams via a capturing lookahead — vs the substr HOF below,
        # whose UTF-8 char-offset scan is O(i) per call → O(len²) per
        # document (measured 11.5 s → 3.2 s for the sf0.1 gram build).
        # CaseWhen evaluates per row, so only astral-bearing rows pay
        # the quadratic path.
        fast = F.regexp_extract_all(s, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)
        # NOTE: the inner lambda must stay single-parameter — a second
        # parameter (even a default like `n=n`) makes PySpark treat it
        # as an (element, index) lambda and silently bind the array
        # index to it
        exact = F.transform(
            F.sequence(F.lit(1), slen - F.lit(n - 1)),
            lambda i: s.substr(i, F.lit(n)),
        )
        return F.when(slen < n, F.array().cast("array<string>")).otherwise(
            F.when(has_astral, exact).otherwise(fast)
        )

    grams = F.flatten(F.array(*[order_grams(n) for n in ngrams]))
    exploded = (
        lowered.select("key", grams.alias("__grams"))
        .where(F.size("__grams") > 0)
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


def _class_margins(
    features: DataFrame, weights: DataFrame, biases: dict[str, float], grid: DataFrame
) -> DataFrame:
    """(key, y, m) for EVERY (document, class) pair: w_y·x + b_y.  The
    grid supplies pairs whose weight rows are all absent (iteration 0,
    unseen buckets) at margin b_y."""
    spark = features.sparkSession
    raw = (
        features.join(F.broadcast(weights), "bucket")
        .groupBy("key", "y")
        .agg(F.sum(F.col("w") * F.col("x")).alias("__m"))
    )
    bias_df = F.broadcast(
        spark.createDataFrame(list(biases.items()), "y string, b double")
    )
    return (
        grid.join(raw, ["key", "y"], "left")
        .join(bias_df, "y")
        .select(
            "key", "y", (F.coalesce("__m", F.lit(0.0)) + F.col("b")).alias("m")
        )
    )


def _softmax(margins: DataFrame) -> DataFrame:
    """(key, y, p) — numerically-stable softmax per key: two window
    passes over ONE hash partitioning on the doc key."""
    w = Window.partitionBy("key")
    e = F.exp(F.col("m") - F.max("m").over(w))
    return margins.withColumn("__e", e).select(
        "key", "y", (F.col("__e") / F.sum("__e").over(w)).alias("p")
    )


def softmax_fit(
    features: DataFrame,
    labels: DataFrame,
    label_col: str = "label",
    key_col: str = "key",
    n_iters: int = 30,
    lr: float = 5.0,
    reg: float = 0.0,
    n_features: int = N_FEATURES,
    ngrams: Sequence[int] = (1, 2, 3),
) -> SoftmaxModel:
    """Train a softmax-regression head by batch gradient descent.

    ``features``: (key, bucket, x) from :func:`char_ngram_features` (or
    the word-level ``quality.hashed_ngram_features``); ``labels``:
    (key, label).  The class set is the distinct labels (collected —
    n_classes strings).  Pass the SAME hashing config the features were
    built with; it is stored on the model.

    Shape (round-6 rewrite): the head is dense in CLASSES (a handful)
    and sparse in buckets, so training keeps the weights WIDE — one
    per-class column set per bucket — instead of (y, bucket, w) rows.
    Per iteration that is ONE fused distributed action — margins +
    stable softmax + error as per-class column expressions over a
    ``groupBy(key)`` (no (key × class) grid, no window pass), chained
    into the ``groupBy(bucket)`` gradient whose sentinel bucket −1 row
    (one (key, −1, x=1) feature per labeled doc) carries the per-class
    bias gradient — versus the row form's three jobs per round with a
    (key, y) grid join, window softmax, and n_classes× bigger shuffles
    (measured 29 s → ~13 s on the sf0.1 stress shape, 5 iterations;
    the fixed per-round scheduling latency was the cost, like
    pagerank's).  The sentinel also gives feature-less documents their
    bias-only margin row, so empty text needs no special path.
    Numerics match the numpy mirror to 1e-7 (test_classify.py) —
    identical formulas, only float summation order differs.  The
    returned model is the standard row-form :class:`SoftmaxModel`.
    """
    lab = (
        labels.select(
            F.col(key_col).alias("key"), F.col(label_col).cast("string").alias("__y")
        )
        .localCheckpoint(eager=True)
    )
    classes = sorted(r["__y"] for r in lab.select("__y").distinct().collect())
    k = len(classes)
    if k < 2:
        raise ValueError(f"need >= 2 classes, got {classes}")
    spark = features.sparkSession
    # one sentinel row (key, bucket −1, x=1) per LABELED key unifies the
    # whole loop: it gives feature-less docs a margin row (0 — the
    # bias-only softmax), and its x·g product makes the per-class BIAS
    # gradient fall out of the same groupBy(bucket) as the weight
    # gradient — no separate bias reduce, no special cohort
    feats = features.select("key", "bucket", "x").unionByName(
        lab.select("key", F.lit(-1).alias("bucket"), F.lit(1.0).alias("x"))
    ).persist()
    n_docs = lab.count()

    biases = [0.0] * k

    def step(wide: DataFrame) -> DataFrame:
        wide = wide.where(F.col("bucket") != -1)
        mcols = [F.col(f"__m{i}") + F.lit(biases[i]) for i in range(k)]
        mx = F.greatest(*mcols)
        ecols = [F.exp(m - mx) for m in mcols]
        tot = ecols[0]
        for e in ecols[1:]:
            tot = tot + e
        # ONE distributed action per iteration: margins → softmax →
        # error → weight gradient (groupBy bucket) with the raw
        # per-class bias-gradient sums riding a sentinel bucket −1
        # row — fusing what used to be three jobs (err checkpoint,
        # weight checkpoint, bias collect) halves the fixed
        # per-round scheduling latency that dominated this loop
        err = (
            feats.join(F.broadcast(wide), "bucket", "left")
            .groupBy("key")
            .agg(
                *[
                    F.sum(
                        F.col("x")
                        * F.coalesce(F.element_at(F.col("ws"), i + 1), F.lit(0.0))
                    ).alias(f"__m{i}")
                    for i in range(k)
                ]
            )
            .join(lab, "key")
            .select(
                "key",
                *[
                    (
                        ecols[i] / tot - (F.col("__y") == classes[i]).cast("double")
                    ).alias(f"__g{i}")
                    for i in range(k)
                ],
            )
        )
        gsum = (
            feats.join(err, "key")
            .groupBy("bucket")
            .agg(
                *[
                    (F.sum(F.col("x") * F.col(f"__g{i}")) / F.lit(n_docs)).alias(
                        f"__gw{i}"
                    )
                    for i in range(k)
                ]
            )
        )
        upd = [
            F.coalesce(F.element_at(F.col("ws"), i + 1), F.lit(0.0))
            * F.lit(1.0 - lr * reg)
            - F.lit(lr) * F.coalesce(F.col(f"__gw{i}"), F.lit(0.0))
            for i in range(k)
        ]
        raw = [F.coalesce(F.col(f"__gw{i}"), F.lit(0.0)) for i in range(k)]
        return wide.join(gsum, "bucket", "full").select(
            "bucket",
            # the sentinel carries the RAW per-class bias gradient (no
            # weight-style reg decay — biases are unregularized,
            # matching the numpy mirror)
            F.when(F.col("bucket") == -1, F.array(*raw))
            .otherwise(F.array(*upd))
            .alias("ws"),
        )

    def read_biases(wide: DataFrame) -> None:
        for r in wide.where(F.col("bucket") == -1).collect():
            for i in range(k):
                biases[i] -= lr * float(r["ws"][i])

    try:
        wide = iterate(
            spark.createDataFrame([], "bucket long, ws array<double>"),
            step, n_iters, delta=read_biases,
        ).state.where(F.col("bucket") != -1)
        class_arr = F.array(*[F.lit(c) for c in classes])
        weights = (
            wide.select("bucket", F.posexplode("ws"))
            .select(
                F.element_at(class_arr, F.col("pos") + 1).alias("y"),
                "bucket",
                F.col("col").alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        return SoftmaxModel(
            weights, dict(zip(classes, biases)), n_features, tuple(ngrams)
        )
    finally:
        feats.unpersist()


def softmax_probs(
    df: DataFrame,
    model: SoftmaxModel,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, y, p) — per-class probability for every document, including
    feature-less ones (empty text scores the bias-only softmax)."""
    feats = char_ngram_features(
        df, text_col, key_col, model.n_features, model.ngrams
    )
    spark = df.sparkSession
    grid = df.select(F.col(key_col).alias("key")).crossJoin(
        F.broadcast(
            spark.createDataFrame([(c,) for c in sorted(model.biases)], "y string")
        )
    )
    return _softmax(_class_margins(feats, model.weights, model.biases, grid))


def softmax_predict(
    df: DataFrame,
    model: SoftmaxModel,
    text_col: str = "text",
    key_col: str = "doc_id",
    pred_col: str = "pred",
    prob_col: str = "prob",
) -> DataFrame:
    """Annotate ``df`` with the argmax class and its probability (ties
    break toward the lexicographically smaller label — deterministic)."""
    probs = softmax_probs(df, model, text_col, key_col)
    w = Window.partitionBy("key").orderBy(F.col("p").desc(), F.col("y"))
    top = (
        probs.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            F.col("key").alias(key_col),
            F.col("y").alias(pred_col),
            F.col("p").alias(prob_col),
        )
    )
    return df.join(top, key_col, "left")


def langid_fit(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    key_col: str = "doc_id",
    n_features: int = N_FEATURES,
    ngrams: Sequence[int] = (1, 2, 3),
    n_iters: int = 30,
    lr: float = 5.0,
) -> SoftmaxModel:
    """Train a language identifier from labeled documents: char-n-gram
    features + softmax head (fastText lid recipe)."""
    feats = char_ngram_features(docs, text_col, key_col, n_features, ngrams)
    return softmax_fit(
        feats,
        docs.select(key_col, lang_col),
        label_col=lang_col,
        key_col=key_col,
        n_iters=n_iters,
        lr=lr,
        n_features=n_features,
        ngrams=ngrams,
    )


def langid_predict(
    df: DataFrame,
    model: SoftmaxModel,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Annotate with (lang_pred, lang_prob) from a :func:`langid_fit`
    model — the trained replacement for the heuristic ``text.lang_id``."""
    return softmax_predict(
        df, model, text_col, key_col, pred_col="lang_pred", prob_col="lang_prob"
    )


def softmax_predict_local(
    df: DataFrame,
    model: SoftmaxModel,
    text_col: str = "text",
    key_col: str = "doc_id",
    pred_col: str = "pred",
    prob_col: str = "prob",
) -> DataFrame:
    """Map-only serving twin of :func:`softmax_predict`: the weight
    matrix (n_classes × n_features doubles — bounded by the hashing
    trick, the same reason the join path may broadcast it) collects into
    an Arrow-batched pandas-UDF closure and every document is scored
    where it sits — no feature explode, no join, NO shuffle.

    Use this for serving and for STREAMS (the join/window path needs a
    per-doc aggregation Structured Streaming would reject without a
    watermark; this one is stateless and stream-admissible — compose
    with ``readStream`` directly).  Results equal the distributed path
    to float-summation noise (pinned in tests at 1e-9).  Prefer the
    join path when the head is too large for a task closure (e.g.
    n_features 2^20 × hundreds of classes).
    """
    import numpy as np

    classes = sorted(model.biases)
    cidx = {c: i for i, c in enumerate(classes)}
    W = np.zeros((model.n_features, len(classes)))
    for r in model.weights.collect():
        W[r["bucket"], cidx[r["y"]]] = r["w"]
    b = np.array([model.biases[c] for c in classes])
    n_features, ngrams = model.n_features, model.ngrams
    md5 = __import__("hashlib").md5

    out_type = T.StructType(
        [
            T.StructField("pred", T.StringType()),
            T.StructField("prob", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def score(texts: pd.Series) -> pd.DataFrame:
        def one(text):
            feats: dict[int, float] = {}
            if text is not None:
                s = text.lower()
                grams = []
                for n in ngrams:
                    if len(s) >= n:
                        grams += [s[i : i + n] for i in range(len(s) - n + 1)]
                for g in grams:
                    bk = int(md5(g.encode("utf-8")).hexdigest()[:15], 16) % n_features
                    feats[bk] = feats.get(bk, 0.0) + 1.0
                total = sum(feats.values())
                if total:
                    feats = {k: v / total for k, v in feats.items()}
            m = b.copy()
            for bk, v in feats.items():
                m = m + W[bk] * v
            e = np.exp(m - m.max())
            p = e / e.sum()
            # argmax with ties toward the lexicographically smaller label
            # (classes sorted, argmax returns the first max) — matches
            # softmax_predict's row_number ordering
            i = int(np.argmax(p))
            return classes[i], float(p[i])

        rows = [one(t) for t in texts]
        return pd.DataFrame(rows, columns=["pred", "prob"])

    struct = score(F.col(text_col))
    return df.withColumn("__s", struct).select(
        "*",
        F.col("__s.pred").alias(pred_col),
        F.col("__s.prob").alias(prob_col),
    ).drop("__s")
