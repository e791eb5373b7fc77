"""Trained quality classifier (operators/classifier.py).

The distributed GD fit must equal a pure-numpy refit on the identical
features (same zero init / lr / iters), the scores must replay, and
the fitted model must actually separate a constructed good/bad corpus
— the property the heuristic text_quality cannot be trained into.
"""

import hashlib
import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from presto_bloomfilter_spark.operators import classifier

B = 32


def _py_grams(text):
    w = text.split()
    return w + [a + "\x1f" + b for a, b in zip(w, w[1:])]


def _py_bucket(g, buckets=B):
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets


def _py_features(rows, buckets=B):
    """{id: dense (buckets+1) mean-normalized feature vector}."""
    out = {}
    for did, text in rows:
        v = np.zeros(buckets + 1)
        gs = _py_grams(text)
        for g in gs:
            v[_py_bucket(g, buckets)] += 1.0
        if gs:
            v[:buckets] /= len(gs)
        v[buckets] = 1.0
        out[str(did)] = v
    return out


def _py_fit(rows, labels, buckets=B, iters=15, lr=2.0):
    feats = _py_features(rows, buckets)
    X = np.stack([feats[str(i)] for i, _ in rows])
    y = np.array([labels[str(i)] for i, _ in rows], dtype=float)
    w = np.zeros(buckets + 1)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - lr * (X.T @ (p - y)) / len(y)
    return w


GOOD = ["the quick brown fox jumps over the lazy dog",
        "a curated encyclopedia article about science",
        "careful prose with clear structure and citations",
        "the editors reviewed this article for accuracy"]
BAD = ["click here buy now cheap cheap cheap",
       "win win win free free free prize prize",
       "zzz qqq xxx spam spam spam spam",
       "buy cheap prize now click click click"]
ROWS = [(i, t) for i, t in enumerate(GOOD + BAD)]
LABELS = {str(i): (1.0 if i < len(GOOD) else 0.0) for i, _ in ROWS}


@pytest.fixture(scope="module")
def labeled(spark):
    return spark.createDataFrame(
        [(i, t, LABELS[str(i)]) for i, t in ROWS],
        "doc_id long, text string, label double")


def test_gram_features_match_numpy(spark, labeled):
    want = _py_features(ROWS)
    got = {}
    for r in classifier.gram_features(labeled, B).collect():
        got.setdefault(r.id, np.zeros(B + 1))[r.bucket] = r.x
    assert set(got) == set(want)
    for did in want:
        np.testing.assert_allclose(got[did], want[did], rtol=1e-12)


def test_train_matches_numpy_refit(spark, labeled):
    model = classifier.train_quality_classifier(
        labeled, buckets=B, iters=15, lr=2.0)
    w_ref = _py_fit(ROWS, LABELS, iters=15, lr=2.0)
    np.testing.assert_allclose(np.array(model.weights), w_ref, rtol=1e-9)
    assert model.bias == model.weights[B]


def test_score_matches_numpy_and_separates(spark, labeled):
    model = classifier.train_quality_classifier(
        labeled, buckets=B, iters=15, lr=2.0)
    got = {r.id: r for r in classifier.score_quality(labeled, model).collect()}
    w = np.array(model.weights)
    feats = _py_features(ROWS)
    for did, vec in feats.items():
        want = round(1.0 / (1.0 + math.exp(-float(vec @ w))), 6)
        assert got[did].prob == pytest.approx(want, abs=2e-6)
        assert got[did].n_gram_types == int(np.count_nonzero(vec[:B]))
    # the whole point: trained separation on the seed set
    assert min(got[str(i)].prob for i in range(len(GOOD))) > \
        max(got[str(i)].prob for i in range(len(GOOD), len(ROWS)))


def test_gramless_doc_scores_bias(spark):
    labeled = spark.createDataFrame(
        [(0, "good words here", 1.0), (1, "bad spam spam", 0.0)],
        "doc_id long, text string, label double")
    model = classifier.train_quality_classifier(
        labeled, buckets=B, iters=5, lr=1.0)
    empty = spark.createDataFrame([(99, "   ")], "doc_id long, text string")
    [r] = classifier.score_quality(empty, model).collect()
    assert r.n_gram_types == 0
    assert r.prob == pytest.approx(
        round(classifier.sigmoid(model.bias), 6), abs=1e-9)


def test_lang_id_expressible_as_trained_classifier(spark):
    """lang_id re-expressed over the trained classifier: two synthetic
    'languages' with disjoint function words separate perfectly."""
    lang_a = [f"der die das wort nummer w{i}" for i in range(10)]
    lang_b = [f"the and of word number w{i}" for i in range(10)]
    labeled = spark.createDataFrame(
        [(i, t, 1.0) for i, t in enumerate(lang_a)]
        + [(100 + i, t, 0.0) for i, t in enumerate(lang_b)],
        "doc_id long, text string, label double")
    model = classifier.train_quality_classifier(
        labeled, buckets=64, iters=20, lr=2.0)
    unseen = spark.createDataFrame(
        [(0, "der das neue wort"), (1, "the new word of")],
        "doc_id long, text string")
    got = {r.id: r.prob for r in
           classifier.score_quality(unseen, model).collect()}
    assert got["0"] > 0.5 > got["1"]


def test_validation(spark, labeled):
    with pytest.raises(ValueError, match="iters"):
        classifier.train_quality_classifier(labeled, iters=0)
    with pytest.raises(ValueError, match="lr"):
        classifier.train_quality_classifier(labeled, lr=0.0)
    with pytest.raises(ValueError, match="buckets"):
        classifier.gram_features(labeled, 0)
    with pytest.raises(ValueError, match="empty labeled"):
        classifier.train_quality_classifier(labeled.limit(0))
    with pytest.raises(ValueError, match="labels must be 0/1"):
        classifier.train_quality_classifier(
            labeled.withColumn("label", F.lit(0.5)))
    with pytest.raises(ValueError, match="buckets\\+1"):
        classifier.QualityClassifier((0.0,) * 3, buckets=8, iters=1, lr=1.0)


def test_null_label_raises(spark, labeled):
    """A NULL label is outside the 0/1 contract: it must raise, not drop
    out of the loss silently."""
    one_null = labeled.withColumn(
        "label", F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(F.col("label")))
    with pytest.raises(ValueError, match="labels must be 0/1, found y=None"):
        classifier.train_quality_classifier(one_null, iters=1)


# ------------------- multiclass (trained language ID) -------------------


def _py_fit_softmax(rows, labels, classes, buckets=B, iters=12, lr=2.0):
    feats = _py_features(rows, buckets)
    X = np.stack([feats[str(i)] for i, _ in rows])
    X[:, :buckets] *= buckets  # the multiclass scale=B convention
    Y = np.zeros((len(rows), len(classes)))
    for r, (i, _) in enumerate(rows):
        Y[r, classes.index(labels[str(i)])] = 1.0
    W = np.zeros((len(classes), buckets + 1))
    for _ in range(iters):
        S = X @ W.T
        P = np.exp(S) / np.exp(S).sum(axis=1, keepdims=True)
        W = W - lr * ((P - Y).T @ X) / len(rows)
    return W


def _lang_rows():
    """Three deterministic 'languages' with disjoint vocabularies plus
    a shared filler word."""
    rows, labels = [], {}
    vocab = {"aa": ["zorp", "blen", "quix", "marl"],
             "bb": ["t索", "w索k", "p索n", "k索"],
             "cc": ["ülm", "ärk", "öst", "ñip"]}
    i = 0
    for lang, words in vocab.items():
        for d in range(8):
            toks = [words[(d + j) % 4] for j in range(6)] + ["shared"]
            rows.append((i, " ".join(toks)))
            labels[str(i)] = lang
            i += 1
    return rows, labels


def test_lang_classifier_matches_numpy_refit(spark):
    rows, labels = _lang_rows()
    df = spark.createDataFrame(
        [(i, t, labels[str(i)]) for i, t in rows],
        "doc_id long, text string, lang string")
    model = classifier.train_lang_classifier(df, buckets=B, iters=12, lr=2.0)
    assert model.classes == ("aa", "bb", "cc")
    W = _py_fit_softmax(rows, labels, list(model.classes),
                        buckets=B, iters=12, lr=2.0)
    got = np.array(model.weights)
    assert np.allclose(got, W, atol=1e-9), np.abs(got - W).max()


def test_lang_classifier_separates_and_predicts(spark):
    rows, labels = _lang_rows()
    df = spark.createDataFrame(
        [(i, t, labels[str(i)]) for i, t in rows],
        "doc_id long, text string, lang string")
    model = classifier.train_lang_classifier(df, buckets=B, iters=20, lr=2.0)
    # held-out docs drawn from each vocabulary (unseen word orders)
    ev = spark.createDataFrame(
        [(100, "marl quix zorp blen zorp shared"),
         (101, "k索 p索n t索 w索k shared"),
         (102, "ñip öst ärk ülm ärk")],
        "doc_id long, text string")
    pred = {r.id: (r.pred_lang, r.prob)
            for r in classifier.predict_lang(ev, model).collect()}
    assert pred["100"][0] == "aa" and pred["101"][0] == "bb" \
        and pred["102"][0] == "cc", pred
    # winner prob must clearly beat 3-class chance (1/3); full-batch GD
    # at 20 iters is well separated but not yet saturated
    assert all(p > 0.42 for _, p in pred.values()), pred
    # training accuracy on the seed set itself
    acc = (classifier.predict_lang(df, model)
           .join(df.select(F.col("doc_id").cast("string").alias("id"), "lang"),
                 "id")
           .selectExpr("avg(CASE WHEN pred_lang = lang THEN 1.0 ELSE 0.0 END) a")
           .first()["a"])
    assert acc >= 0.95, acc


def test_lang_classifier_error_paths(spark):
    one = spark.createDataFrame([(0, "x", "aa")],
                                "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="classes"):
        classifier.train_lang_classifier(one, buckets=B, iters=2)
    rows, labels = _lang_rows()
    df = spark.createDataFrame(
        [(i, t, labels[str(i)]) for i, t in rows],
        "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="iters"):
        classifier.train_lang_classifier(df, iters=0)
    with pytest.raises(ValueError, match="max_classes"):
        classifier.train_lang_classifier(df, iters=1, max_classes=2)
    with pytest.raises(ValueError, match="classes must be sorted"):
        classifier.LangClassifier(classes=("b", "a"),
                                  weights=((0.0,) * (B + 1),) * 2,
                                  buckets=B, iters=1, lr=1.0)


def test_predict_lang_no_python_in_plan(spark):
    rows, labels = _lang_rows()
    df = spark.createDataFrame(
        [(i, t, labels[str(i)]) for i, t in rows],
        "doc_id long, text string, lang string")
    model = classifier.LangClassifier(
        classes=("aa", "bb"), weights=((0.1,) * (B + 1), (0.2,) * (B + 1)),
        buckets=B, iters=1, lr=1.0)
    plan = (classifier.predict_lang(df, model)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan
