"""roc_auc / calibration_bins / platt_scale — scorer-quality metrics.

Reference semantics are public textbook definitions (Mann-Whitney U AUC,
sklearn average_precision tie-grouping, Platt 1999 sigmoid fitting with
smoothed targets); tests pin them against independent numpy computations.
"""

import math

import numpy as np
import pytest
import pyspark.sql.functions as F

from ditto_spark.operators.evaluate import (
    calibration_bins,
    platt_scale,
    roc_auc,
)


def _numpy_auc_ap(scores, labels):
    """Independent tie-corrected AUC + tie-grouped average precision."""
    scores = np.asarray(scores, dtype=float)
    labels = np.asarray(labels, dtype=int)
    pos_s = scores[labels == 1]
    neg_s = scores[labels == 0]
    u = 0.0
    for s in pos_s:
        u += np.sum(s > neg_s) + 0.5 * np.sum(s == neg_s)
    auc = u / (len(pos_s) * len(neg_s))
    ap = 0.0
    p_tot = len(pos_s)
    for s in np.unique(scores):
        n_pos_here = int(np.sum(pos_s == s))
        if n_pos_here == 0:
            continue
        tp = int(np.sum(pos_s >= s))
        fp = int(np.sum(neg_s >= s))
        ap += (n_pos_here / p_tot) * (tp / (tp + fp))
    return auc, ap


def _scored_df(spark, scores, labels, parts=5):
    rows = [(float(s), int(y)) for s, y in zip(scores, labels)]
    return spark.createDataFrame(rows, "prob double, label int").repartition(parts)


def test_roc_auc_matches_numpy_with_ties(spark):
    rng = np.random.RandomState(7)
    scores = np.round(rng.rand(400), 2)  # 2dp → heavy ties
    labels = (rng.rand(400) < scores).astype(int)  # score-dependent labels
    if labels.sum() == 0 or labels.sum() == len(labels):  # pragma: no cover
        pytest.skip("degenerate draw")
    want_auc, want_ap = _numpy_auc_ap(scores, labels)
    got = roc_auc(_scored_df(spark, scores, labels)).collect()[0]
    assert got["n_pos"] == int(labels.sum())
    assert got["n_neg"] == int(len(labels) - labels.sum())
    assert got["auc"] == pytest.approx(want_auc, abs=1e-9)
    assert got["average_precision"] == pytest.approx(want_ap, abs=1e-9)


def test_roc_auc_perfect_separation(spark):
    scores = [0.1, 0.2, 0.3, 0.8, 0.9, 0.95]
    labels = [0, 0, 0, 1, 1, 1]
    got = roc_auc(_scored_df(spark, scores, labels)).collect()[0]
    assert got["auc"] == 1.0


def test_roc_auc_constant_scores_is_half(spark):
    # all-tied scores: AUC = 0.5 exactly; AP = prevalence
    scores = [0.5] * 10
    labels = [1, 0, 1, 0, 0, 0, 1, 0, 0, 0]
    got = roc_auc(_scored_df(spark, scores, labels)).collect()[0]
    assert got["auc"] == 0.5
    assert got["average_precision"] == pytest.approx(0.3, abs=1e-9)


def test_roc_auc_single_class_raises(spark):
    with pytest.raises(ValueError, match="both classes"):
        roc_auc(_scored_df(spark, [0.1, 0.9], [1, 1]))


def test_roc_auc_releases_its_caches(spark):
    """The row is computed eagerly; neither the score histogram nor the
    range-partitioned prefix-sum input stays cached afterwards. Compares
    RDD ids, not counts: the context cleaner may release caches that
    earlier tests left behind while roc_auc runs."""

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    df = _scored_df(spark, [0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])
    before = cached()
    roc_auc(df).collect()
    assert cached() - before == set()


def test_roc_auc_partition_invariant(spark):
    rng = np.random.RandomState(11)
    scores = np.round(rng.rand(200), 1)
    labels = (rng.rand(200) < 0.4).astype(int)
    a = roc_auc(_scored_df(spark, scores, labels, parts=1)).collect()[0]
    b = roc_auc(_scored_df(spark, scores, labels, parts=13)).collect()[0]
    assert a == b


def test_calibration_bins_known_values(spark):
    # bin 0: probs .0/.05, labels 0,1 → mean .025, frac_pos .5
    # bin 9: probs .95/.99 (and 1.0 clamps to bin 9), labels 1,1,1
    scores = [0.0, 0.05, 0.95, 0.99, 1.0]
    labels = [0, 1, 1, 1, 1]
    rows = {r["bin"]: r for r in calibration_bins(_scored_df(spark, scores, labels)).collect()}
    assert set(rows) == {0, 9}
    assert rows[0]["n"] == 2
    assert rows[0]["mean_prob"] == pytest.approx(0.025)
    assert rows[0]["frac_pos"] == pytest.approx(0.5)
    assert rows[9]["n"] == 3  # 1.0 clamped into the top bin
    # brier = mean((p-y)^2) over all 5 rows
    want_brier = np.mean([(p - y) ** 2 for p, y in zip(scores, labels)])
    assert rows[0]["brier"] == pytest.approx(want_brier, abs=1e-9)
    # ece = sum n_b/N * |frac_pos - mean_prob|
    want_ece = (2 / 5) * abs(0.5 - 0.025) + (3 / 5) * abs(1.0 - np.mean([0.95, 0.99, 1.0]))
    assert rows[9]["ece"] == pytest.approx(want_ece, abs=1e-9)


def test_calibration_bins_well_calibrated_has_low_ece(spark):
    rng = np.random.RandomState(3)
    scores = np.round(rng.rand(4000), 2)
    labels = (rng.rand(4000) < scores).astype(int)
    row = calibration_bins(_scored_df(spark, scores, labels)).collect()[0]
    assert row["ece"] < 0.05


def _numpy_platt(scores, labels, iters=8, ridge=1e-9):
    """Independent driver-side replica of the Newton trajectory."""
    s = np.asarray(scores, dtype=float)
    y = np.asarray(labels, dtype=int)
    p_tot, q_tot = int(y.sum()), int(len(y) - y.sum())
    t = np.where(y == 1, (p_tot + 1.0) / (p_tot + 2.0), 1.0 / (q_tot + 2.0))
    a, b = 0.0, round(math.log((p_tot + 1.0) / (q_tot + 1.0)), 9)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(a * s + b)))
        w = p * (1 - p)
        ga, gb = np.sum(s * (p - t)), np.sum(p - t)
        haa, hab, hbb = np.sum(s * s * w) + ridge, np.sum(s * w), np.sum(w) + ridge
        det = haa * hbb - hab * hab
        a = round(a - (hbb * ga - hab * gb) / det, 9)
        b = round(b - (haa * gb - hab * ga) / det, 9)
    return a, b


def test_platt_scale_matches_numpy_trajectory(spark):
    rng = np.random.RandomState(5)
    scores = np.round(rng.rand(300), 2)
    true_p = 1.0 / (1.0 + np.exp(-(4.0 * scores - 2.0)))
    labels = (rng.rand(300) < true_p).astype(int)
    got = platt_scale(_scored_df(spark, scores, labels)).collect()[0]
    want_a, want_b = _numpy_platt(scores, labels)
    assert got["a"] == pytest.approx(want_a, abs=1e-6)
    assert got["b"] == pytest.approx(want_b, abs=1e-6)
    # recovered slope/intercept should be in the neighbourhood of truth
    assert 2.0 < got["a"] < 6.5
    assert -4.0 < got["b"] < -0.5
    assert got["n_pos"] == int(labels.sum())


def test_platt_scale_improves_nll_over_prior(spark):
    rng = np.random.RandomState(9)
    scores = np.round(rng.rand(400), 2)
    labels = (rng.rand(400) < scores).astype(int)
    df = _scored_df(spark, scores, labels)
    fitted = platt_scale(df).collect()[0]
    # NLL of the 0-iteration model (prior-only sigmoid)
    prior = platt_scale(df, iters=0).collect()[0]
    assert fitted["nll"] < prior["nll"]


def test_platt_scale_partition_invariant_and_deterministic(spark):
    rng = np.random.RandomState(13)
    scores = np.round(rng.rand(150), 1)
    labels = (rng.rand(150) < scores).astype(int)
    a = platt_scale(_scored_df(spark, scores, labels, parts=1)).collect()[0]
    b = platt_scale(_scored_df(spark, scores, labels, parts=11)).collect()[0]
    assert a == b


def test_platt_scale_single_class_raises(spark):
    with pytest.raises(ValueError, match="both classes"):
        platt_scale(_scored_df(spark, [0.2, 0.8], [0, 0]))


def test_sampling_corrected_confusion_full_labels_exact(spark):
    """n_s = N_s in every stratum -> HT estimates ARE the exact confusion
    matrix; uncovered_pairs = 0."""
    from ditto_spark.operators.evaluate import sampling_corrected_confusion

    rows = [
        (i, i + 100, p, y)
        for i, (p, y) in enumerate(
            [(0.95, 1), (0.9, 1), (0.85, 0), (0.6, 1), (0.4, 0),
             (0.35, 0), (0.15, 1), (0.05, 0)]
        )
    ]
    scored = spark.createDataFrame(
        [(a, b, p) for a, b, p, _ in rows],
        "left_id int, right_id int, prob double",
    )
    labeled = spark.createDataFrame(
        [(a, b, y) for a, b, _, y in rows],
        "left_id int, right_id int, label int",
    )
    out = sampling_corrected_confusion(scored, labeled, tau=0.5).collect()[0]
    # exact: preds = prob > 0.5 -> tp=3 (0.95,0.9,0.6), fp=1 (0.85),
    # fn=1 (0.15), tn=3
    assert (out["est_tp"], out["est_fp"], out["est_fn"], out["est_tn"]) == (
        3.0, 1.0, 1.0, 3.0,
    )
    assert abs(out["precision"] - 0.75) < 1e-12
    assert abs(out["recall"] - 0.75) < 1e-12
    assert out["uncovered_pairs"] == 0 and out["n_labeled"] == 8


def test_sampling_corrected_confusion_ht_weights_and_uncovered(spark):
    """Hand-checked HT arithmetic: stratum 9 (N=4) fully labeled, stratum 0
    (N=6) labels 2 of 6 -> its cells weigh 3x; stratum 5 (N=2) unlabeled ->
    reported as uncovered, not silently dropped."""
    from ditto_spark.operators.evaluate import sampling_corrected_confusion

    hi = [(i, 900 + i, 0.95) for i in range(4)]          # stratum 9
    mid = [(50 + i, 950 + i, 0.55) for i in range(2)]    # stratum 5
    lo = [(100 + i, 990 + i, 0.05) for i in range(6)]    # stratum 0
    scored = spark.createDataFrame(
        hi + mid + lo, "left_id int, right_id int, prob double"
    )
    labeled = spark.createDataFrame(
        # stratum 9: 3 true matches, 1 false positive
        [(0, 900, 1), (1, 901, 1), (2, 902, 1), (3, 903, 0),
         # stratum 0: one labeled miss (fn), one true negative
         (100, 990, 1), (101, 991, 0)],
        "left_id int, right_id int, label int",
    )
    out = sampling_corrected_confusion(scored, labeled, tau=0.5).collect()[0]
    # weights: stratum 9 -> 4/4 = 1; stratum 0 -> 6/2 = 3
    assert out["est_tp"] == 3.0 and out["est_fp"] == 1.0
    assert out["est_fn"] == 3.0 and out["est_tn"] == 3.0
    assert out["uncovered_pairs"] == 2  # the unlabeled 0.55 stratum
    assert out["n_labeled"] == 6
    assert abs(out["precision"] - 0.75) < 1e-12
    assert abs(out["recall"] - 0.5) < 1e-12
