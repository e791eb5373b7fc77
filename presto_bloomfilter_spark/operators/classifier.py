"""Trained quality classifier: hashed n-grams → logistic regression.

The standard trained pipeline stage the heuristic ``text_quality`` /
``lang_id`` operators approximate: a fasttext-style LINEAR classifier
(Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification") — each document is the MEAN of its hashed
unigram+bigram bucket indicators plus a bias, scored by a single
logistic unit.  Train on a labeled seed set (e.g. "docs from the
curated source are positive"), score every document with the
in-domain probability, filter or re-weight downstream.

Everything is engine-portable and deterministic, so a DuckDB oracle
can REFIT the identical model and replay every score:

- grams are the DSIR convention (selection._grams): ``str.split()``
  unigrams + ``\\x1f``-joined bigrams, multiplicity kept;
- the feature hash is the repo-wide md5 hex-prefix bucket
  (sampling.hex_prefix_bucket);
- features are mean-normalized (bucket count / total grams) with a
  constant bias coordinate at index ``buckets`` — bounded in [0, 1],
  so a fixed learning rate is stable at any document length;
- training is FULL-BATCH gradient descent from a zero init with a
  fixed iteration count and learning rate — no randomness anywhere,
  so the "fit" is a pure function of the labeled set and an unrolled
  SQL replay converges to the identical weights (ulp-level float
  noise only; public scores round to 6 decimals, the repo-wide
  cross-engine discipline).

Scale posture (the 100 TB path): training cost is bounded by the SEED
set, not the corpus — the (id, bucket, x) feature table and the label
table are built once and ``persist()``-ed (stats.py contract), each
GD iteration is two sample-sized aggregations (margins by id, then
gradient by bucket) whose map-side partials cap at |sample| / B + 1
groups per task, and only the (B+1)-row gradient ever reaches the
driver.  Scoring is the dsir_log_weights shape: explode grams →
md5 bucket → broadcast-join the (B+1)-row weight table → groupBy(id)
whose map-side partial reduces each task to ~one row per document —
pure JVM built-ins under whole-stage codegen, no Python anywhere.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F

__all__ = ["QualityClassifier", "gram_features", "train_quality_classifier",
           "score_quality", "LangClassifier", "train_lang_classifier",
           "predict_lang"]

_ROUND = 6


@dataclass(frozen=True)
class QualityClassifier:
    """A fitted linear model: ``weights[b]`` per hash bucket plus
    ``weights[buckets]`` as the bias; ``p = sigmoid(x . w)`` with x
    the mean-normalized bucket features."""

    weights: tuple[float, ...]
    buckets: int
    iters: int
    lr: float

    def __post_init__(self):
        if len(self.weights) != self.buckets + 1:
            raise ValueError(
                f"weights must have buckets+1={self.buckets + 1} entries "
                f"(bias last), got {len(self.weights)}")

    @property
    def bias(self) -> float:
        return self.weights[self.buckets]


def gram_features(df: DataFrame, buckets: int,
                  text_col: str = "text", id_col: str = "doc_id",
                  scale: float = 1.0) -> DataFrame:
    """(id, bucket, x) mean-normalized hashed-gram features plus the
    constant bias coordinate (bucket == ``buckets``, x == 1.0) — the
    bias row keeps gram-less documents alive, so every input document
    has at least one feature row.

    ``scale`` multiplies the gram coordinates (NOT the bias): raw
    mean-normalized values average 1/B per present bucket, so gradient
    descent updates gram weights ~B times slower than the bias and a
    short fixed-iteration fit learns only class priors; ``scale=B``
    puts both coordinate kinds at O(1) magnitude (the multiclass
    trainer's default)."""
    from presto_bloomfilter_spark.operators.sampling import hex_prefix_bucket
    from presto_bloomfilter_spark.operators.selection import _grams

    if buckets <= 0:
        raise ValueError("buckets must be positive")
    ids = df.select(F.col(id_col).cast("string").alias("id"),
                    F.col(text_col))
    counts = (ids.select("id", F.explode(_grams(text_col)).alias("g"))
              .select("id", hex_prefix_bucket(F.md5("g"), buckets)
                      .alias("bucket"))
              .groupBy("id", "bucket").agg(F.count("*").alias("c")))
    # one window-free normalization: total grams per doc via a second
    # map-side-partial aggregate, broadcast-safe join on id is NOT
    # needed — the totals table is the same cardinality as ids, so
    # join co-partitions on id (both sides hash-partition on id)
    totals = counts.groupBy("id").agg(F.sum("c").alias("t"))
    feats = (counts.join(totals, "id")
             .select("id", "bucket",
                     (F.col("c").cast("double") / F.col("t")
                      * F.lit(float(scale))).alias("x")))
    bias = ids.select("id", F.lit(buckets).cast("long").alias("bucket"),
                      F.lit(1.0).alias("x"))
    return feats.unionByName(bias)


def train_quality_classifier(
    labeled_df: DataFrame,
    buckets: int = 64,
    iters: int = 20,
    lr: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
) -> QualityClassifier:
    """Fit the logistic model on a labeled seed set by full-batch
    gradient descent:

        w_{t+1} = w_t - lr * X^T (sigmoid(X w_t) - y) / n

    ``label_col`` must be 0/1 (cast to double).  Each iteration runs
    two sample-bounded aggregations — per-doc margins, then the
    per-bucket gradient — and collects exactly ``buckets + 1`` gradient
    rows; the feature and label tables are persisted once and reused
    by all iterations (without that, every iteration would re-run the
    corpus-sized explode).  The returned weights are a pure function
    of the seed set: zero init, fixed lr/iters, no randomness.
    """
    if iters <= 0:
        raise ValueError("iters must be positive")
    if lr <= 0:
        raise ValueError("lr must be positive")
    spark = labeled_df.sparkSession
    feats = gram_features(labeled_df, buckets, text_col, id_col).persist()
    labels = (labeled_df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(label_col).cast("double").alias("y")).persist())
    n = labels.count()
    if n == 0:
        raise ValueError("empty labeled seed set")
    bad = labels.filter(F.col("y").isNull() | ~F.col("y").isin(0.0, 1.0)).limit(1).collect()
    if bad:
        raise ValueError(f"labels must be 0/1, found y={bad[0]['y']!r} "
                         f"for id={bad[0]['id']!r}")

    w = np.zeros(buckets + 1)
    try:
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(int(b), float(w[b])) for b in range(buckets + 1)],
                "bucket long, w double")
            margins = (feats.join(F.broadcast(wdf), "bucket")
                       .groupBy("id")
                       .agg(F.sum(F.col("x") * F.col("w")).alias("s")))
            resid = (labels.join(margins, "id", "left")
                     .select("id",
                             (F.lit(1.0)
                              / (F.lit(1.0) + F.exp(-F.coalesce("s", F.lit(0.0))))
                              - F.col("y")).alias("r")))
            grad_rows = (feats.join(resid, "id")
                         .groupBy("bucket")
                         .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
                         .collect())
            grad = np.zeros(buckets + 1)
            for row in grad_rows:
                grad[row["bucket"]] = row["g"]
            w = w - lr * grad / n
    finally:
        feats.unpersist()
        labels.unpersist()
    return QualityClassifier(weights=tuple(float(v) for v in w),
                             buckets=buckets, iters=iters, lr=lr)


def score_quality(df: DataFrame, model: QualityClassifier,
                  text_col: str = "text", id_col: str = "doc_id",
                  ) -> DataFrame:
    """Score every document with the in-domain probability
    ``sigmoid(x . w)``.  Returns DataFrame[id string, n_gram_types
    int, prob double] — n_gram_types is the count of DISTINCT hashed
    gram buckets (the bias row excluded), prob is rounded to 6
    decimals (cross-engine float discipline); a gram-less document
    scores ``sigmoid(bias)``.

    One corpus pass, zero Python: explode → md5 bucket →
    broadcast-join the (B+1)-row weight table → groupBy(id) with
    map-side partial aggregation — ~one shuffled row per document.
    """
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(int(b), float(model.weights[b])) for b in range(model.buckets + 1)],
        "bucket long, w double")
    feats = gram_features(df, model.buckets, text_col, id_col)
    return (feats.join(F.broadcast(wdf), "bucket")
            .groupBy("id")
            .agg((F.count("*") - 1).cast("int").alias("n_gram_types"),
                 F.sum(F.col("x") * F.col("w")).alias("s"))
            .select("id", "n_gram_types",
                    (F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s"))),
                             _ROUND) + F.lit(0.0)).alias("prob")))


def sigmoid(z: float) -> float:
    """Reference scalar sigmoid for tests/oracles."""
    return 1.0 / (1.0 + math.exp(-z))


# -------------------- multiclass (trained language ID) --------------------


@dataclass(frozen=True)
class LangClassifier:
    """A fitted multinomial (softmax) model over hashed-gram features:
    ``weights[k][b]`` per class k and bucket b, with the bias at index
    ``buckets``; ``p_k = softmax_k(x . w_k)``.  The trained counterpart
    of the heuristic ``text.lang_id`` — the fasttext language-ID shape
    (Joulin et al. 2016) with the same deterministic full-batch GD
    discipline as :class:`QualityClassifier`, so a DuckDB oracle can
    refit it exactly."""

    classes: tuple[str, ...]
    weights: tuple[tuple[float, ...], ...]
    buckets: int
    iters: int
    lr: float

    def __post_init__(self):
        if len(self.weights) != len(self.classes):
            raise ValueError(
                f"need one weight row per class, got {len(self.weights)} "
                f"rows for {len(self.classes)} classes")
        for row in self.weights:
            if len(row) != self.buckets + 1:
                raise ValueError(
                    f"each class needs buckets+1={self.buckets + 1} weights "
                    f"(bias last), got {len(row)}")
        if list(self.classes) != sorted(set(self.classes)):
            raise ValueError("classes must be sorted and distinct")


def _class_weights_df(spark, model: "LangClassifier"):
    rows = [(c, int(b), float(model.weights[k][b]))
            for k, c in enumerate(model.classes)
            for b in range(model.buckets + 1)]
    return spark.createDataFrame(rows, "cls string, bucket long, w double")


def train_lang_classifier(
    labeled_df: DataFrame,
    buckets: int = 64,
    iters: int = 20,
    lr: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    max_classes: int = 1000,
) -> LangClassifier:
    """Fit the softmax model on a labeled seed set by full-batch
    gradient descent on the cross-entropy loss:

        W_{t+1}[k] = W_t[k] - lr * X^T (softmax_k(X W_t) - y_k) / n

    Deterministic end to end: classes are the sorted distinct labels,
    init is zero, lr/iters fixed — the fit is a pure function of the
    seed set and unrolls into chained SQL CTEs for the oracle replay.
    Per iteration: one margins aggregation per (id, class) (the
    (B+1)·K-row weight table is broadcast), one softmax window over
    the K classes of each doc, one gradient aggregation — only the
    (B+1)·K gradient rows reach the driver, and the feature/label
    tables are persisted once across all iterations.  The seed set
    bounds every cost; corpus size never enters training."""
    if iters <= 0:
        raise ValueError("iters must be positive")
    if lr <= 0:
        raise ValueError("lr must be positive")
    spark = labeled_df.sparkSession
    cls_rows = (labeled_df.select(F.col(label_col).cast("string").alias("cls"))
                .distinct().limit(max_classes + 1).collect())
    classes = tuple(sorted(r["cls"] for r in cls_rows))
    if len(classes) > max_classes:
        raise ValueError(f"more than max_classes={max_classes} distinct "
                         f"labels in {label_col!r}")
    if len(classes) < 2 or any(c is None for c in classes):
        raise ValueError("need ≥2 non-NULL classes to train")
    k = len(classes)
    feats = gram_features(labeled_df, buckets, text_col, id_col,
                          scale=float(buckets)).persist()
    labels = (labeled_df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(label_col).cast("string").alias("y")).persist())
    n = labels.count()

    from pyspark.sql import Window
    wid = Window.partitionBy("id")
    w = np.zeros((k, buckets + 1))
    try:
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(classes[j], int(b), float(w[j][b]))
                 for j in range(k) for b in range(buckets + 1)],
                "cls string, bucket long, w double")
            margins = (feats.join(F.broadcast(wdf), "bucket")
                       .groupBy("id", "cls")
                       .agg(F.sum(F.col("x") * F.col("w")).alias("s")))
            probs = margins.withColumn(
                "p", F.exp("s") / F.sum(F.exp("s")).over(wid))
            resid = (probs.join(labels, "id")
                     .select("id", "cls",
                             (F.col("p")
                              - (F.col("cls") == F.col("y")).cast("double")
                              ).alias("r")))
            grad_rows = (feats.join(resid, "id")
                         .groupBy("cls", "bucket")
                         .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
                         .collect())
            grad = np.zeros((k, buckets + 1))
            idx = {c: j for j, c in enumerate(classes)}
            for row in grad_rows:
                grad[idx[row["cls"]]][row["bucket"]] = row["g"]
            w = w - lr * grad / n
    finally:
        feats.unpersist()
        labels.unpersist()
    return LangClassifier(
        classes=classes,
        weights=tuple(tuple(float(v) for v in row) for row in w),
        buckets=buckets, iters=iters, lr=lr)


def predict_lang(df: DataFrame, model: LangClassifier,
                 text_col: str = "text", id_col: str = "doc_id",
                 ) -> DataFrame:
    """Predict the most probable class per document → DataFrame[id
    string, pred_lang string, prob double] with prob the softmax
    probability of the winner rounded to 6 decimals; ties break to the
    lexicographically first class.  One corpus pass — explode → bucket
    → broadcast-join the (B+1)·K weight table → per-doc softmax window
    → per-doc argmax window — no Python anywhere."""
    from pyspark.sql import Window

    spark = df.sparkSession
    wdf = _class_weights_df(spark, model)
    feats = gram_features(df, model.buckets, text_col, id_col,
                          scale=float(model.buckets))
    margins = (feats.join(F.broadcast(wdf), "bucket")
               .groupBy("id", "cls")
               .agg(F.sum(F.col("x") * F.col("w")).alias("s")))
    wid = Window.partitionBy("id")
    pick = Window.partitionBy("id").orderBy(F.desc("p"), F.asc("cls"))
    return (margins
            .withColumn("p", F.exp("s") / F.sum(F.exp("s")).over(wid))
            .withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("id", F.col("cls").alias("pred_lang"),
                    (F.round("p", _ROUND) + F.lit(0.0)).alias("prob")))
