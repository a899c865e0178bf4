"""A3/A4 — crowd label aggregation over (task, worker, label) votes.

Reference: the fork aggregates ChatGPT-worker votes with MajorityVote /
Wawa / Dawid-Skene / GLAD / EBCC / BWA via crowd-kit and custom solvers
(/root/reference/analyze_gpt.py:153-187, /root/reference/ebcc.py:6-66,
/root/reference/bwa.py:19-36); per-worker majority over repetitions at
/root/reference/analyze_gpt.py:68-83.

Spark-first tiers:
* majority_vote — one groupBy (analyze_gpt.py:68-83 semantics: mean > 0.5).
* wawa — Worker-Agreement-with-Aggregate: majority first, then workers
  weighted by their agreement rate with the majority, then a weighted
  re-vote. Two groupBys + one join — fully relational, DuckDB-oracle-able.
* dawid_skene — per-worker confusion-matrix EM. The per-dataset vote matrix
  is small (the reference collects it to numpy; analyze_gpt.py:155-166);
  we run the EM *distributed per dataset group* with applyInPandas so a
  thousand datasets EM in parallel, matching the reference's math:
  fixed iteration count, majority-vote initialization, binary labels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.evaluate import (
    confusion_cells,
    confusion_f1,
    precision_recall_f1,
)


def majority_vote(
    votes: DataFrame,
    task_col: str = "task",
    label_col: str = "label",
) -> DataFrame:
    """(task, worker, label 0/1) → (task, crowd_label, n_votes); mean > 0.5
    (analyze_gpt.py:68-83: strict >, ties → 0)."""
    return votes.groupBy(task_col).agg(
        (F.avg(label_col) > 0.5).cast("int").alias("crowd_label"),
        F.count(F.lit(1)).alias("n_votes"),
    )


def wawa(
    votes: DataFrame,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
) -> DataFrame:
    """Worker-Agreement-with-Aggregate: weight each worker by agreement with
    the plain majority, then weighted-majority re-vote (> 0.5 of weight)."""
    mv = majority_vote(votes, task_col, label_col).select(task_col, "crowd_label")
    joined = votes.join(mv, task_col)
    weights = joined.groupBy(worker_col).agg(
        F.avg((F.col(label_col) == F.col("crowd_label")).cast("double")).alias("w")
    )
    weighted = joined.join(weights, worker_col)
    return weighted.groupBy(task_col).agg(
        (
            F.sum(F.col("w") * F.col(label_col)) > 0.5 * F.sum("w")
        ).cast("int").alias("crowd_label"),
        F.count(F.lit(1)).alias("n_votes"),
    )


def gold_standard(
    votes: DataFrame,
    truth: DataFrame,
    workers: list,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """GoldStandard aggregation (reference semantics at
    /root/reference/analyze_gpt.py:176-186): mean label per (worker, task)
    over repetitions → pivot to the task × workers vote-pattern matrix →
    group tasks by their COMPLETE vote pattern → agg_label = 1 iff the mean
    gold truth of that pattern > 0.5 — i.e. a truth-calibrated lookup table
    keyed by vote pattern.

    Fully relational: pivot + an avg window PARTITIONed BY the pattern
    columns (window partitioning treats NULL patterns as equal, so a
    pattern-join's null-key pitfall never arises). DuckDB-oracle-checked."""
    from pyspark.sql import Window

    mean_votes = votes.groupBy(task_col, worker_col).agg(
        F.avg(label_col).alias("mlabel")
    )
    wide = mean_votes.groupBy(task_col).pivot(worker_col, workers).agg(
        F.first("mlabel")
    )
    pattern_cols = [str(w) for w in workers]
    joined = wide.join(truth.select(task_col, truth_col), task_col)
    w = Window.partitionBy(*pattern_cols)
    return joined.select(
        task_col,
        (F.avg(truth_col).over(w) > 0.5).cast("int").alias("agg_label"),
    )


def worker_independence_chi2(
    votes: DataFrame,
    truth: DataFrame,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """A9 conditional-independence screen (reference
    /root/reference/crowd_independence.py:30-48: pairwise
    chi2_contingency between worker vote columns within each truth class,
    report the less-independent class). Binary labels → 2×2 tables, so the
    χ² statistic (Yates-corrected, scipy's 2×2 default) is closed-form:
    n·(|ad−bc| − n/2)²₊ / ((a+b)(c+d)(a+c)(b+d)) — pure JVM arithmetic
    over a task self-join + one agg, no scipy. With 1 dof the p-value is a
    monotone transform of the statistic, so ranking by max χ² ≡ the
    reference's ranking by min p (documented deviation: we emit the
    statistic; Spark has no erfc and the ranking is what the analysis
    uses). Output: (w1, w2, chi2_y1, chi2_y0, chi2_max) for w1 < w2."""
    v = votes.join(truth.select(task_col, truth_col), task_col)
    a = v.select(
        task_col, F.col(truth_col).alias("y"),
        F.col(worker_col).alias("w1"), F.col(label_col).alias("l1"),
    )
    b = v.select(
        task_col, F.col(truth_col).alias("y"),
        F.col(worker_col).alias("w2"), F.col(label_col).alias("l2"),
    )
    pairs = a.join(b, [task_col, "y"]).where(F.col("w1") < F.col("w2"))
    # the 2×2 table n_{l1 l2} is the confusion matrix of l1 against l2:
    # n00 = tn, n01 = fn, n10 = fp, n11 = tp
    cnt = pairs.groupBy("w1", "w2", "y").agg(*confusion_cells("l1", "l2"))
    n00, n01, n10, n11 = F.col("tn"), F.col("fn"), F.col("fp"), F.col("tp")
    n = n00 + n01 + n10 + n11
    det = F.abs(n00 * n11 - n01 * n10)
    yates = F.greatest(det - n / 2.0, F.lit(0.0))
    denom = (n00 + n01) * (n10 + n11) * (n00 + n10) * (n01 + n11)
    chi2 = F.when(denom > 0, n * yates * yates / denom).otherwise(F.lit(0.0))
    per_class = cnt.select("w1", "w2", "y", chi2.alias("chi2"))
    return (
        per_class.groupBy("w1", "w2")
        .agg(
            F.max(F.when(F.col("y") == 1, F.col("chi2"))).alias("chi2_y1"),
            F.max(F.when(F.col("y") == 0, F.col("chi2"))).alias("chi2_y0"),
        )
        .select(
            "w1", "w2",
            F.coalesce("chi2_y1", F.lit(0.0)).alias("chi2_y1"),
            F.coalesce("chi2_y0", F.lit(0.0)).alias("chi2_y0"),
            F.greatest(
                F.coalesce("chi2_y1", F.lit(0.0)),
                F.coalesce("chi2_y0", F.lit(0.0)),
            ).alias("chi2_max"),
        )
    )


def optimal_f1_cutoff(
    votes: DataFrame,
    truth: DataFrame,
    workers: list,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """A10 `method_optimal_f1` (reference crowd_independence.py:143-159):
    group tasks by their complete worker-vote pattern, compute each
    pattern's mean gold truth, then sweep cutoff levels (the distinct
    pattern-truth means ≤ 0.5, descending, plus 0.0) labeling a pattern 1
    iff mean-truth > level; keep the level with the best F1 against truth
    (ties → the level tried first, i.e. the highest). Returns
    (task, agg_label) at the argmax level.

    Relational: pivot + pattern-window mean (same shape as gold_standard),
    broadcast crossJoin against the tiny level grid for the sweep, one
    driver scalar for the argmax (like tune_threshold)."""
    from pyspark.sql import Window

    mean_votes = votes.groupBy(task_col, worker_col).agg(
        F.avg(label_col).alias("mlabel")
    )
    wide = mean_votes.groupBy(task_col).pivot(worker_col, workers).agg(
        F.first("mlabel")
    )
    pattern_cols = [str(w) for w in workers]
    joined = wide.join(truth.select(task_col, truth_col), task_col)
    w = Window.partitionBy(*pattern_cols)
    pat = joined.withColumn("mt", F.avg(truth_col).over(w)).persist()
    levels = (
        pat.select(F.col("mt").alias("level"))
        .where(F.col("mt") <= 0.5)
        .distinct()
        .unionByName(pat.sparkSession.createDataFrame([(0.0,)], "level double"))
        .distinct()
    )
    crossed = pat.crossJoin(F.broadcast(levels))
    pred = (F.col("mt") > F.col("level")).cast("int")
    per_level = crossed.groupBy("level").agg(*confusion_cells(pred, truth_col))
    scored = per_level.select("level", precision_recall_f1("tp", "fp", "fn")[2])
    best = scored.orderBy(F.desc("f1"), F.desc("level")).limit(1).collect()[0]
    out = pat.select(
        task_col, (F.col("mt") > F.lit(float(best["level"]))).cast("int").alias("agg_label")
    )
    # drop the sweep cache; materializing `out` recomputes the pattern
    # window once (cheap) instead of pinning executor memory per call
    pat.unpersist()
    return out


def worker_partial_correlations(
    votes: DataFrame,
    truth: DataFrame,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """A9 partial correlations (reference
    /root/reference/crowd_independence.py:50-71: pingouin partial_corr of
    every worker-column pair with Ground Truth as the single covariate).
    With one covariate the partial correlation is closed-form,
        r_xy·t = (r_xy − r_xt·r_yt) / sqrt((1 − r_xt²)(1 − r_yt²)),
    so the whole analysis is three F.corr aggregates over a task self-join —
    fully relational, DuckDB-oracle-checkable, no pingouin. Votes are first
    averaged per (task, worker) (repetitions collapse to a mean, like
    gold_standard); correlations run over the pair's common tasks, which is
    also what pingouin's row-wise NaN-drop computes. Output:
    (w1, w2, r_xy, r_xt, r_yt, partial_r) for w1 < w2; partial_r is NULL
    when either marginal correlation with truth is ±1 (degenerate)."""
    mean_votes = votes.groupBy(task_col, worker_col).agg(
        F.avg(label_col).alias("mlabel")
    )
    v = mean_votes.join(truth.select(task_col, truth_col), task_col)
    a = v.select(
        task_col, F.col(truth_col).alias("t"),
        F.col(worker_col).alias("w1"), F.col("mlabel").alias("l1"),
    )
    b = v.select(
        task_col, F.col(worker_col).alias("w2"), F.col("mlabel").alias("l2"),
    )
    pairs = a.join(b, task_col).where(F.col("w1") < F.col("w2"))
    agg = pairs.groupBy("w1", "w2").agg(
        F.corr("l1", "l2").alias("r_xy"),
        F.corr("l1", "t").alias("r_xt"),
        F.corr("l2", "t").alias("r_yt"),
    )
    denom = F.sqrt(
        (1.0 - F.col("r_xt") * F.col("r_xt"))
        * (1.0 - F.col("r_yt") * F.col("r_yt"))
    )
    return agg.withColumn(
        "partial_r",
        F.when(
            denom > 0,
            (F.col("r_xy") - F.col("r_xt") * F.col("r_yt")) / denom,
        ),
    )


def worker_f1_ranking(
    votes: DataFrame,
    truth: DataFrame,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """Per-worker individual F1 vs gold (reference ordered_crowd,
    crowd_independence.py:169-174), with the removal order attached:
    rank 0 = best worker (removed first). Ties follow the reference's
    reversed tuple sort: F1 desc, then worker desc. A worker's per-task
    prediction is the majority of their own repetitions (single votes pass
    through unchanged)."""
    from pyspark.sql import Window

    wl = votes.groupBy(worker_col, task_col).agg(
        (F.avg(label_col) > 0.5).cast("int").alias("wlabel")
    )
    j = wl.join(truth.select(task_col, truth_col), task_col)
    per = j.groupBy(worker_col).agg(*confusion_cells("wlabel", truth_col))
    w = Window.orderBy(F.desc("f1"), F.desc(worker_col))
    return per.select(
        worker_col, precision_recall_f1("tp", "fp", "fn")[2]
    ).withColumn(
        "removal_rank", F.row_number().over(w) - 1
    )


def worker_removal_curve(
    votes: DataFrame,
    truth: DataFrame,
    methods: dict | None = None,
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    truth_col: str = "truth",
) -> DataFrame:
    """A9 iterative worker-removal curve (reference iterative_crowd,
    crowd_independence.py:111-141): remove workers best-first (by
    worker_f1_ranking); BEFORE each removal evaluate every aggregation
    method's F1 on the remaining crowd. Step k therefore uses the workers
    with removal_rank ≥ k, k = 0 … n_workers−1.

    The loop is driver-side over ≤ |workers| steps — workers are O(10) in
    the reference's analysis (a per-crowd constant, not data-scaled) while
    each step's aggregation + confusion count is fully distributed, the
    legitimate small-axis/driver-loop split (same reasoning as the τ sweep).
    Output: (n_removed, method, f1), F1 = 2tp/(2tp+fp+fn) like the
    reference's sklearn f1_score (reported as a fraction, not ×100)."""
    if methods is None:
        methods = {"majority_vote": majority_vote, "wawa": wawa}
    ranked = worker_f1_ranking(
        votes, truth, task_col, worker_col, label_col, truth_col
    ).collect()
    order = [r[worker_col] for r in sorted(ranked, key=lambda r: r["removal_rank"])]
    t = truth.select(task_col, truth_col)
    rows = []
    for k in range(len(order)):
        remaining = order[k:]
        sub = votes.where(F.col(worker_col).isin(remaining))
        for name in sorted(methods):
            pred = methods[name](sub).select(task_col, "crowd_label")
            decided = pred.join(t, task_col).select(
                F.col("crowd_label").alias("match"), F.col(truth_col).alias("label")
            )
            rows.append((k, name, confusion_f1(decided).collect()[0]["f1"]))
    return votes.sparkSession.createDataFrame(
        rows, "n_removed int, method string, f1 double"
    )


GLAD_SCHEMA = "dataset string, task string, crowd_label int, p1 double"


def glad(
    votes: DataFrame,
    dataset_col: str = "dataset",
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    n_iter: int = 30,
    n_grad: int = 20,
    lr: float = 0.05,
    eps: float = 1e-9,
) -> DataFrame:
    """GLAD (Whitehill et al., NIPS'09 — the algorithm behind crowd-kit's
    GLAD used at /root/reference/analyze_gpt.py:187): per-worker ability
    α_j, per-task inverse-difficulty β_i > 0, P(label correct) =
    σ(α_j·β_i). EM with gradient M-step on (α, log β), Gaussian priors
    (α ~ N(1,1), log β ~ N(0,1)). Deterministic: fixed init α=1, β=1,
    fixed iteration counts. One independent solve per dataset group via
    applyInPandas — the same distribution shape as Dawid-Skene."""

    def em(pdf: pd.DataFrame) -> pd.DataFrame:
        ds = pdf[dataset_col].iloc[0]
        tasks, t_idx = np.unique(pdf[task_col].to_numpy(), return_inverse=True)
        workers, w_idx = np.unique(pdf[worker_col].to_numpy(), return_inverse=True)
        labels = pdf[label_col].to_numpy().astype(np.float64)
        nt, nw = len(tasks), len(workers)
        alpha = np.ones(nw)
        log_beta = np.zeros(nt)
        # init posterior from vote mean
        p1 = np.zeros(nt)
        np.add.at(p1, t_idx, labels)
        cnt = np.zeros(nt)
        np.add.at(cnt, t_idx, 1)
        p1 = p1 / np.maximum(cnt, 1)
        prior1 = 0.5
        for _ in range(n_iter):
            # E-step: per-task log-odds of z=1 under current (alpha, beta)
            x = alpha[w_idx] * np.exp(log_beta)[t_idx]
            sig = 1.0 / (1.0 + np.exp(-x))
            sig = np.clip(sig, eps, 1 - eps)
            # log P(l_ij | z=1) - log P(l_ij | z=0):
            # z=1: l=1 → log σ, l=0 → log(1-σ); z=0 mirrored
            delta = np.where(labels == 1, 1.0, -1.0) * (np.log(sig) - np.log(1 - sig))
            llr = np.full(nt, np.log(prior1 / (1 - prior1)))
            np.add.at(llr, t_idx, delta)
            p1 = 1.0 / (1.0 + np.exp(-np.clip(llr, -500, 500)))
            # M-step: gradient ascent on Q(α, log β)
            for _ in range(n_grad):
                beta = np.exp(log_beta)
                x = alpha[w_idx] * beta[t_idx]
                sig = 1.0 / (1.0 + np.exp(-x))
                # m_ij = P(label is what a correct worker says | posterior)
                m = np.where(labels == 1, p1[t_idx], 1 - p1[t_idx])
                resid = m - sig
                g_alpha = np.zeros(nw)
                np.add.at(g_alpha, w_idx, resid * beta[t_idx])
                g_alpha -= alpha - 1.0  # N(1,1) prior
                g_lbeta = np.zeros(nt)
                np.add.at(g_lbeta, t_idx, resid * alpha[w_idx] * beta[t_idx])
                g_lbeta -= log_beta  # N(0,1) prior on log β
                alpha += lr * g_alpha
                log_beta += lr * g_lbeta
                log_beta = np.clip(log_beta, -5, 5)
        return pd.DataFrame(
            {
                "dataset": np.full(nt, ds, dtype=object),
                "task": tasks.astype(str),
                "crowd_label": (p1 > 0.5).astype(np.int32),
                "p1": p1,
            }
        )

    return (
        votes.select(
            F.col(dataset_col).cast("string").alias(dataset_col),
            F.col(task_col).cast("string").alias(task_col),
            F.col(worker_col).cast("string").alias(worker_col),
            F.col(label_col).cast("int").alias(label_col),
        )
        .groupBy(dataset_col)
        .applyInPandas(em, schema=GLAD_SCHEMA)
    )


DS_SCHEMA = "dataset string, task string, crowd_label int, p1 double"


def dawid_skene(
    votes: DataFrame,
    dataset_col: str = "dataset",
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    n_iter: int = 20,
    eps: float = 1e-9,
) -> DataFrame:
    """Binary Dawid-Skene EM, one independent EM per dataset group
    (applyInPandas — groups run in parallel across executors; within a
    group the matrix is small, as in the reference's driver-side solve)."""

    def em(pdf: pd.DataFrame) -> pd.DataFrame:
        ds = pdf[dataset_col].iloc[0]
        tasks, t_idx = np.unique(pdf[task_col].to_numpy(), return_inverse=True)
        workers, w_idx = np.unique(pdf[worker_col].to_numpy(), return_inverse=True)
        labels = pdf[label_col].to_numpy().astype(np.int64)
        nt, nw = len(tasks), len(workers)
        # init: per-task P(y=1) from vote mean
        p1 = np.zeros(nt)
        np.add.at(p1, t_idx, labels)
        cnt = np.zeros(nt)
        np.add.at(cnt, t_idx, 1)
        p1 = p1 / np.maximum(cnt, 1)
        for _ in range(n_iter):
            # M: worker confusion rates. pi[w, y, l] = P(worker says l | y)
            pi = np.full((nw, 2, 2), eps)
            wgt1 = p1[t_idx]
            wgt0 = 1.0 - wgt1
            np.add.at(pi, (w_idx, 1, labels), wgt1)
            np.add.at(pi, (w_idx, 0, labels), wgt0)
            pi /= pi.sum(axis=2, keepdims=True)
            prior1 = min(max(p1.mean(), eps), 1 - eps)
            # E: per-task log-likelihoods
            ll1 = np.full(nt, np.log(prior1))
            ll0 = np.full(nt, np.log(1.0 - prior1))
            np.add.at(ll1, t_idx, np.log(pi[w_idx, 1, labels]))
            np.add.at(ll0, t_idx, np.log(pi[w_idx, 0, labels]))
            m = np.maximum(ll1, ll0)
            e1 = np.exp(ll1 - m)
            e0 = np.exp(ll0 - m)
            p1 = e1 / (e1 + e0)
        return pd.DataFrame(
            {
                "dataset": np.full(nt, ds, dtype=object),
                "task": tasks.astype(str),
                "crowd_label": (p1 > 0.5).astype(np.int32),
                "p1": p1,
            }
        )

    return (
        votes.select(
            F.col(dataset_col).cast("string").alias(dataset_col),
            F.col(task_col).cast("string").alias(task_col),
            F.col(worker_col).cast("string").alias(worker_col),
            F.col(label_col).cast("int").alias(label_col),
        )
        .groupBy(dataset_col)
        .applyInPandas(em, schema=DS_SCHEMA)
    )


def dawid_skene_relational(
    votes: DataFrame,
    dataset_col: str = "dataset",
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    n_iter: int = 20,
    eps: float = 1e-9,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Binary Dawid-Skene EM expressed entirely in relational DataFrame ops
    — the web-scale twin of `dawid_skene`.

    `dawid_skene` (applyInPandas, matching the reference's driver-side numpy
    solve at /root/reference/analyze_gpt.py:155-166) needs each dataset
    group's full vote matrix inside one Python worker; at 10^9+ votes per
    dataset that group no longer fits. This variant keeps every step as a
    keyed join/aggregate — per iteration: one (dataset, task) join to attach
    the current posterior to each vote, one (dataset, worker) aggregate for
    the confusion-matrix weights, one (dataset) aggregate for the class
    prior, one (dataset, worker) join + (dataset, task) aggregate for the
    E-step log-likelihoods — so map-side partial aggregation and AQE handle
    arbitrarily large vote tables, and no step ever materializes a matrix.
    Lineage is cut with a lazy localCheckpoint every `checkpoint_every`
    iterations (a persisted round table on a real cluster).

    The math is identical to `dawid_skene`'s numpy EM (same vote-mean init,
    eps-smoothed confusion rates pi[w,y,l] = (eps + n_yl)/(2*eps + n_y·),
    clamped empirical prior, max-subtracted softmax posterior), so the two
    agree to float tolerance; a single step (n_iter=1) is plain SQL and is
    DuckDB-oracle-checked end-to-end (`crowd_ds_em_step`)."""
    v = votes.select(
        F.col(dataset_col).cast("string").alias("dataset"),
        F.col(task_col).cast("string").alias("task"),
        F.col(worker_col).cast("string").alias("worker"),
        F.col(label_col).cast("int").alias("label"),
    )
    p1 = v.groupBy("dataset", "task").agg(F.avg("label").alias("p1"))
    lab = F.col("label").cast("double")
    for i in range(n_iter):
        # M-step: eps-smoothed per-worker confusion-rate weights n[y, l]
        w = (
            v.join(p1, ["dataset", "task"])
            .groupBy("dataset", "worker")
            .agg(
                F.sum(F.col("p1") * lab).alias("n11"),
                F.sum(F.col("p1") * (1.0 - lab)).alias("n10"),
                F.sum((1.0 - F.col("p1")) * lab).alias("n01"),
                F.sum((1.0 - F.col("p1")) * (1.0 - lab)).alias("n00"),
            )
        )
        prior = p1.groupBy("dataset").agg(
            F.least(
                F.greatest(F.avg("p1"), F.lit(eps)), F.lit(1.0 - eps)
            ).alias("prior1")
        )
        # E-step: per-vote log pi[w, y, label], summed per task
        num1 = F.when(F.col("label") == 1, F.col("n11")).otherwise(F.col("n10"))
        num0 = F.when(F.col("label") == 1, F.col("n01")).otherwise(F.col("n00"))
        e = (
            v.join(w, ["dataset", "worker"])
            .groupBy("dataset", "task")
            .agg(
                F.sum(
                    F.log((num1 + eps) / (F.col("n11") + F.col("n10") + 2 * eps))
                ).alias("s1"),
                F.sum(
                    F.log((num0 + eps) / (F.col("n01") + F.col("n00") + 2 * eps))
                ).alias("s0"),
            )
        )
        ll = e.join(prior, "dataset").select(
            "dataset",
            "task",
            (F.log("prior1") + F.col("s1")).alias("ll1"),
            (F.log(1.0 - F.col("prior1")) + F.col("s0")).alias("ll0"),
        )
        m = F.greatest("ll1", "ll0")
        e1 = F.exp(F.col("ll1") - m)
        e0 = F.exp(F.col("ll0") - m)
        p1 = ll.select("dataset", "task", (e1 / (e1 + e0)).alias("p1"))
        if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            p1 = p1.localCheckpoint(eager=False)
    return p1.select(
        "dataset",
        "task",
        (F.col("p1") > 0.5).cast("int").alias("crowd_label"),
        "p1",
    )


BWA_SCHEMA = "dataset string, task string, crowd_label int, z0 double, z1 double"


def bwa(
    votes: DataFrame,
    dataset_col: str = "dataset",
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    a_v: float = 15.0,
    lambda_: float = 1.0,
    prior_correction: bool = True,
    max_iter: int = 500,
    early_stop: bool = True,
) -> DataFrame:
    """Bayesian Weighted Average crowd aggregation (reference semantics at
    /root/reference/bwa.py:4-36, re-derived on dense numpy): per-class
    one-vs-rest soft labels z_i refined against inverse-variance worker
    weights v_j; crowd_label = argmax over the two class scores. One
    independent solve per dataset group via applyInPandas (the reference is
    a single-process scipy.sparse solve; groups parallelize across
    executors here, each group's matrix stays worker-local)."""

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ds = pdf[dataset_col].iloc[0]
        tasks, t_idx = np.unique(pdf[task_col].to_numpy(), return_inverse=True)
        workers, w_idx = np.unique(pdf[worker_col].to_numpy(), return_inverse=True)
        labels = pdf[label_col].to_numpy().astype(np.int64)
        ni, nw = len(tasks), len(workers)
        exists = np.zeros((ni, nw))
        exists[t_idx, w_idx] = 1.0
        W_i = np.bincount(t_idx, minlength=ni).astype(np.float64)
        n_labels = len(labels)
        adj_coef = 4 * (1 - 1 / 2) if prior_correction else 1.0

        def solve_class(k: int) -> np.ndarray:
            y1 = np.zeros((ni, nw))
            sel = labels == k
            y1[t_idx[sel], w_idx[sel]] = 1.0
            N_j = exists.sum(axis=0)
            z = y1.sum(axis=1) / exists.sum(axis=1)
            b_v = a_v * W_i.dot(z * (1 - z)) / n_labels * adj_coef
            for _ in range(max_iter):
                last = z.copy()
                mu = z.mean()
                resid = (exists * z[:, None] - y1) ** 2
                v = (a_v + N_j) / (b_v + resid.sum(axis=0))
                z = (lambda_ * mu + y1.dot(v)) / (lambda_ + exists.dot(v))
                # early_stop=False pins the iteration count (an exactly
                # unrollable trajectory — what the DuckDB crowd_bwa oracle
                # replays); default True keeps the reference's convergence
                # break for production use.
                if early_stop and np.allclose(last, z, rtol=1e-3):
                    break
            return z

        z0 = solve_class(0)
        z1 = solve_class(1)
        return pd.DataFrame(
            {
                "dataset": np.full(ni, ds, dtype=object),
                "task": tasks.astype(str),
                "crowd_label": (z1 > z0).astype(np.int32),
                "z0": z0,
                "z1": z1,
            }
        )

    return (
        votes.select(
            F.col(dataset_col).cast("string").alias(dataset_col),
            F.col(task_col).cast("string").alias(task_col),
            F.col(worker_col).cast("string").alias(worker_col),
            F.col(label_col).cast("int").alias(label_col),
        )
        .groupBy(dataset_col)
        .applyInPandas(solve, schema=BWA_SCHEMA)
    )


# --------------------------------------------------------------------------
# EBCC — Enhanced Bayesian Classifier Combination (variational Bayes)
# --------------------------------------------------------------------------

def _gammaln(x: np.ndarray) -> np.ndarray:
    """log Γ via Stirling series with recurrence for small arguments
    (numpy-only; scipy is not installed in this container)."""
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros_like(x)
    # push arguments above 8 with lnΓ(x) = lnΓ(x+n) − Σ ln(x+k)
    shift = np.zeros_like(x)
    xs = x.copy()
    for _ in range(8):
        small = xs < 8.0
        if not small.any():
            break
        shift[small] += np.log(xs[small])
        xs[small] += 1.0
    inv = 1.0 / xs
    inv2 = inv * inv
    series = inv / 12.0 - inv * inv2 / 360.0 + inv * inv2 * inv2 / 1260.0
    out = (xs - 0.5) * np.log(xs) - xs + 0.5 * np.log(2 * np.pi) + series
    return out - shift


def _digamma(x: np.ndarray) -> np.ndarray:
    """ψ(x) via recurrence + asymptotic expansion (numpy-only)."""
    x = np.asarray(x, dtype=np.float64)
    shift = np.zeros_like(x)
    xs = x.copy()
    for _ in range(8):
        small = xs < 6.0
        if not small.any():
            break
        shift[small] += 1.0 / xs[small]
        xs[small] += 1.0
    inv = 1.0 / xs
    inv2 = inv * inv
    return (
        np.log(xs) - 0.5 * inv - inv2 / 12.0 + inv2 * inv2 / 120.0
        - inv2 * inv2 * inv2 / 252.0
    ) - shift


def _dirichlet_entropy(alpha: np.ndarray) -> float:
    a0 = alpha.sum()
    logB = _gammaln(alpha).sum() - _gammaln(np.array(a0))
    k = len(alpha)
    return float(
        logB + (a0 - k) * _digamma(np.array(a0)) - ((alpha - 1) * _digamma(alpha)).sum()
    )


def _md5_exp_draws(keys: list[str], nc: int, ng: int, seed: int,
                   restart: int) -> np.ndarray:
    """Deterministic Exp(1) draws keyed by md5 — the engine-portable
    replacement for the seeded Dirichlet init (normalized exponentials ARE
    a Dirichlet(1,...,1) draw): u = (md5-hex6 + 0.5)/2^24, e = -ln(u).
    Replays in DuckDB as ('0x'||substr(md5(key),1,6))::BIGINT — the same
    dyadic-uniform device the sampling/FS oracles use."""
    import hashlib

    e = np.empty((len(keys), nc, ng), dtype=np.float64)
    for ti, key in enumerate(keys):
        for k in range(nc):
            for g in range(ng):
                h = hashlib.md5(
                    f"{seed}:{key}|{k}|{g}|{restart}".encode()
                ).hexdigest()[:6]
                e[ti, k, g] = -np.log((int(h, 16) + 0.5) / 16777216.0)
    return e


def _ebcc_vb_once(t_idx, w_idx, labels, ni, nw, nc, num_groups, a_pi, alpha,
                  a_v, b_v, seed, max_iter, init_e=None, tol=1e-3):
    """One VB run (reference math at /root/reference/ebcc.py:6-66,
    re-derived dense): subtype-group mixture over worker confusion
    Dirichlets; returns (z_ik, ELBO). init_e: optional (ni, nc, ng)
    positive draws replacing the seeded Dirichlet init (normalized per
    (i,k) — deterministic md5 mode); tol=None disables the convergence
    break so a fixed iteration budget unrolls exactly (oracle mode)."""
    y1 = np.zeros((nc, ni, nw))
    for k in range(nc):
        sel = labels == k
        y1[k, t_idx[sel], w_idx[sel]] = 1.0
    beta_kl = np.eye(nc) * (a_v - b_v) + b_v

    z_ik = y1.sum(axis=2).T  # (ni, nc)
    z_ik = z_ik / z_ik.sum(axis=1, keepdims=True)
    if init_e is not None:
        zg = init_e / init_e.sum(axis=2, keepdims=True) * z_ik[:, :, None]
    else:
        rng = np.random.RandomState(seed)
        zg = rng.dirichlet(np.ones(num_groups), z_ik.shape) * z_ik[:, :, None]

    eta_km = nu_k = mu = Eq_pi = Eq_tau = Eq_v = None
    for _ in range(max_iter):
        eta_km = a_pi / num_groups + zg.sum(axis=0)          # (nc, ng)
        nu_k = alpha + z_ik.sum(axis=0)                       # (nc,)
        mu = np.tile(beta_kl[None, :, None, :], (nw, 1, num_groups, 1)).astype(np.float64)
        for l in range(nc):
            for k in range(nc):
                mu[:, k, :, l] += y1[l].T.dot(zg[:, k, :])
        Eq_pi = _digamma(eta_km) - _digamma(eta_km.sum(axis=-1, keepdims=True))
        Eq_tau = _digamma(nu_k) - _digamma(np.array(nu_k.sum()))
        Eq_v = _digamma(mu) - _digamma(mu.sum(axis=-1, keepdims=True))

        zg_new = Eq_pi[None, :, :] + Eq_tau[None, :, None]
        zg_new = np.tile(zg_new, (ni, 1, 1)).astype(np.float64)
        for l in range(nc):
            for k in range(nc):
                zg_new[:, k, :] += y1[l].dot(Eq_v[:, k, :, l])
        zg_new -= zg_new.reshape(ni, -1).max(axis=1)[:, None, None]
        zg = np.exp(zg_new)
        zg /= zg.reshape(ni, -1).sum(axis=1)[:, None, None]

        last = z_ik
        z_ik = zg.sum(axis=-1)
        if tol is not None and np.allclose(last, z_ik, atol=tol):
            break

    elbo = ((eta_km - 1) * Eq_pi).sum() + ((nu_k - 1) * Eq_tau).sum()
    elbo += ((mu - 1) * Eq_v).sum()
    elbo += _dirichlet_entropy(nu_k)
    for k in range(nc):
        elbo += _dirichlet_entropy(eta_km[k])
    elbo += (_gammaln(mu) - (mu - 1) * _digamma(mu)).sum()
    a0 = mu.sum(axis=-1)
    elbo += ((a0 - nc) * _digamma(a0) - _gammaln(a0)).sum()
    p = zg.reshape(ni, -1)
    with np.errstate(divide="ignore", invalid="ignore"):
        elbo += float(-(p * np.where(p > 0, np.log(p), 0.0)).sum())
    return z_ik, float(elbo)


EBCC_SCHEMA = "dataset string, task string, crowd_label int, p1 double"


def ebcc(
    votes: DataFrame,
    dataset_col: str = "dataset",
    task_col: str = "task",
    worker_col: str = "worker",
    label_col: str = "label",
    num_groups: int = 10,
    n_restarts: int = 5,
    seed: int = 1234,
    max_iter: int = 500,
    init: str = "random",
    tol: float | None = 1e-3,
) -> DataFrame:
    """EBCC crowd aggregation (analyze_gpt.py:158-163 protocol: multiple
    seeded VB restarts, keep the max-ELBO run), one solve per dataset group
    via applyInPandas. Deterministic: restart seeds are seed+i.

    init="md5" swaps the seeded-RandomState Dirichlet draw for a
    md5-keyed one (md5(seed:dataset|task|k|g|restart) dyadic uniform →
    Exp(1) → normalized = Dirichlet(1,..,1)) — the same distribution,
    but replayable in portable SQL, which with tol=None (fixed iteration
    budget, no convergence break) makes a small-budget run exactly
    unrollable as DuckDB CTEs (crowd_ebcc's oracle; the reference's own
    seeded init at /root/reference/ebcc.py:28-30 shows determinism is
    the intended contract)."""
    assert init in ("random", "md5")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ds = pdf[dataset_col].iloc[0]
        tasks, t_idx = np.unique(pdf[task_col].to_numpy(), return_inverse=True)
        workers, w_idx = np.unique(pdf[worker_col].to_numpy(), return_inverse=True)
        labels = pdf[label_col].to_numpy().astype(np.int64)
        ni, nw = len(tasks), len(workers)
        best = None
        for i in range(n_restarts):
            init_e = (
                _md5_exp_draws(
                    [f"{ds}|{t}" for t in tasks], 2, num_groups, seed, i
                )
                if init == "md5"
                else None
            )
            z, elbo = _ebcc_vb_once(
                t_idx, w_idx, labels, ni, nw, 2, num_groups,
                a_pi=0.1, alpha=1.0, a_v=4.0, b_v=1.0,
                seed=seed + i, max_iter=max_iter, init_e=init_e, tol=tol,
            )
            if best is None or elbo > best[1]:
                best = (z, elbo)
        z = best[0]
        p1 = z[:, 1] / np.maximum(z.sum(axis=1), 1e-12)
        return pd.DataFrame(
            {
                "dataset": np.full(ni, ds, dtype=object),
                "task": tasks.astype(str),
                "crowd_label": (p1 > 0.5).astype(np.int32),
                "p1": p1,
            }
        )

    return (
        votes.select(
            F.col(dataset_col).cast("string").alias(dataset_col),
            F.col(task_col).cast("string").alias(task_col),
            F.col(worker_col).cast("string").alias(worker_col),
            F.col(label_col).cast("int").alias(label_col),
        )
        .groupBy(dataset_col)
        .applyInPandas(solve, schema=EBCC_SCHEMA)
    )
