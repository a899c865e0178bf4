"""Evaluation — the pipeline's last stage (… → threshold → evaluate) and
the scorer / clustering quality metrics beside it. One helper owns each
formula; every metric here and in crowd.py calls it instead of a copy:

  confusion_cells      tp/fp/fn/tn counts (0, never NULL, on empty input):
                       confusion_f1, the τ sweep, HT confusion, crowd's χ²,
                       optimal cutoff and per-worker F1
  precision_recall_f1  the ratios, 0.0 on a zero denominator; f1 =
                       2tp/(2tp+fp+fn) as in the reference's f1.py:9-19
  _contingency,        predicted × truth cells (pc, tc, n) + marginals, and
  _pair_sums, _c2      the pair counts Σ C(n, 2) off them (doubles):
                       pairwise F1, B-cubed, Rand/ARI/NMI — pairs never
                       materialize
  _best_tau            argmax-F1 τ over ditto.py:98-109's grid (0.00…0.95,
                       strict prob > τ, ties → lowest τ): tune_threshold(_verified)
  _score_histogram     (s, n, pos, neg) per distinct score: ROC-AUC/AP, Platt
  _prob_bin            least(floor(p·10), 9): calibration bins, HT strata
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import range_prefix_scan

# the reference's τ grid: 0.00, 0.05, …, 0.95
N_TAUS, TAU_STEP = 20, 0.05
# equal-width probability bins over [0, 1]
N_PROB_BINS = 10
# largest |swept F1 − re-scored F1| tune_threshold_verified accepts
VERIFY_ATOL = 1e-9


def confusion_cells(pred: str | Column, label: str) -> list[Column]:
    """Aggregate expressions for the 2×2 confusion cells (tp, fp, fn, tn)
    of a 0/1 prediction (a column name or expression) against a 0/1 label
    column. They are counts, so an empty input gives 0, never NULL."""
    p = F.col(pred) if isinstance(pred, str) else pred
    y = F.col(label)
    return [
        F.count(F.when((p == 1) & (y == 1), 1)).alias("tp"),
        F.count(F.when((p == 1) & (y == 0), 1)).alias("fp"),
        F.count(F.when((p == 0) & (y == 1), 1)).alias("fn"),
        F.count(F.when((p == 0) & (y == 0), 1)).alias("tn"),
    ]


def precision_recall_f1(tp: str, fp: str, fn: str) -> tuple[Column, Column, Column]:
    """(precision, recall, f1) from the named confusion-count columns (long
    or double); each ratio is 0.0 when its denominator is 0."""
    tp, fp, fn = F.col(tp), F.col(fp), F.col(fn)

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    return (
        ratio(tp, tp + fp).alias("precision"),
        ratio(tp, tp + fn).alias("recall"),
        ratio(2.0 * tp, 2 * tp + fp + fn).alias("f1"),
    )


def confusion_f1(scored_with_labels: DataFrame) -> DataFrame:
    """(…, match, label) → single row (tp, fp, fn, tn, precision, recall, f1)."""
    return scored_with_labels.agg(*confusion_cells("match", "label")).select(
        "tp", "fp", "fn", "tn", *precision_recall_f1("tp", "fp", "fn")
    )


def threshold_grid_f1(scored_with_labels: DataFrame) -> DataFrame:
    """Per-threshold F1 over the ditto grid (strict prob > τ).

    crossJoin with the tiny grid is broadcast by Catalyst; the agg is a
    single shuffle keyed by τ (20 keys)."""
    grid = scored_with_labels.sparkSession.range(N_TAUS).select(
        # round: float accumulation otherwise yields e.g. 0.9500000000000001
        F.round(F.col("id") * TAU_STEP, 6).alias("tau")
    )
    pred = (F.col("prob") > F.col("tau")).cast("int")
    per_tau = (
        scored_with_labels.crossJoin(F.broadcast(grid))
        .groupBy("tau")
        .agg(*confusion_cells(pred, "label"))
    )
    return per_tau.select(
        "tau", "tp", "fp", "fn", precision_recall_f1("tp", "fp", "fn")[2]
    )


def _best_tau(scored_with_labels: DataFrame, caller: str) -> Row:
    """The grid row with the highest F1; ties → lowest τ, matching the
    reference's `>` update. Raises ValueError naming `caller` when the
    validation frame is empty (the grid then has no rows)."""
    best = (
        threshold_grid_f1(scored_with_labels)
        .orderBy(F.desc("f1"), F.asc("tau"))
        .limit(1)
        .collect()
    )
    if not best:
        raise ValueError(f"{caller}: the validation frame is empty, no τ to tune")
    return best[0]


def tune_threshold(scored_with_labels: DataFrame) -> float:
    """argmax-F1 τ on validation probs (ditto.py:98-109)."""
    return float(_best_tau(scored_with_labels, "tune_threshold")["tau"])


def tune_threshold_verified(
    scored_with_labels: DataFrame, rescore
) -> tuple[float, float, float]:
    """M4's full tune-then-VERIFY flow (matcher.py:229-252): sweep τ on the
    validation probs, then RE-RUN the predict path from scratch (`rescore`
    is a zero-arg callable returning a fresh (prob, label) DataFrame — a
    fresh plan through the scorer, not the cached probs) at the chosen τ
    and compare the achieved F1 against the sweep's claimed best. A
    mismatch beyond VERIFY_ATOL means the scorer is nondeterministic
    between runs (exactly what the reference's real_f1-vs-load_f1 check
    guards) and raises. Returns (tau, swept_f1, verified_f1)."""
    best = _best_tau(scored_with_labels, "tune_threshold_verified")
    tau, swept_f1 = float(best["tau"]), float(best["f1"])
    fresh = rescore()
    decided = fresh.withColumn("match", (F.col("prob") > F.lit(tau)).cast("int"))
    verified_f1 = float(confusion_f1(decided).collect()[0]["f1"])
    if abs(verified_f1 - swept_f1) > VERIFY_ATOL:
        raise RuntimeError(
            f"threshold verification failed: sweep claimed F1={swept_f1} at "
            f"tau={tau} but re-running predict measured F1={verified_f1} — "
            "the scorer is not deterministic across runs"
        )
    return tau, swept_f1, verified_f1


def _c2(col: str) -> Column:
    """C(n, 2) as a double — n(n−1)/2 in int64 overflows once a cluster
    passes ~3e9 members."""
    d = F.col(col).cast("double")
    return d * (d - F.lit(1.0)) / F.lit(2.0)


def _contingency(
    predicted: DataFrame, truth: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Join two (conv_id, cluster_id) assignments into contingency cells
    (pc, tc, n), n = |predicted cluster pc ∩ truth cluster tc|, plus the
    marginals (pc, np) and (tc, nt). O(#cells) rows, never pairs."""
    cells = (
        predicted.select("conv_id", F.col("cluster_id").alias("pc"))
        .join(truth.select("conv_id", F.col("cluster_id").alias("tc")), "conv_id")
        .groupBy("pc", "tc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    psz = cells.groupBy("pc").agg(F.sum("n").alias("np"))
    tsz = cells.groupBy("tc").agg(F.sum("n").alias("nt"))
    return cells, psz, tsz


def _pair_sums(cells: DataFrame, psz: DataFrame, tsz: DataFrame) -> DataFrame:
    """One row of within-cluster pair counts off the contingency table:
    s_ij = Σ C(n_ij, 2) (same predicted AND truth cluster), s_a = Σ C(n_i·, 2)
    (same predicted cluster), s_b = Σ C(n_·j, 2) (same truth cluster).
    Doubles; 0.0 on empty input."""

    def total(df: DataFrame, col: str, name: str) -> DataFrame:
        return df.agg(F.coalesce(F.sum(_c2(col)), F.lit(0.0)).alias(name))

    return (
        total(cells, "n", "s_ij")
        .crossJoin(total(psz, "np", "s_a"))
        .crossJoin(total(tsz, "nt", "s_b"))
    )


def cluster_pairwise_f1(predicted: DataFrame, truth: DataFrame) -> DataFrame:
    """Cluster-level metric: precision/recall/F1 over implied within-cluster
    pairs. predicted/truth: (conv_id, cluster_id).

    Pairs are NEVER materialized — one giant predicted cluster (a hot
    template) would imply O(|cluster|²) rows. Instead pair counts come from
    the contingency table (`_pair_sums`): tp = Σ_ij C(n_ij,2); predicted
    pairs = Σ_i C(n_i·,2); truth pairs = Σ_j C(n_·j,2). One Spark action
    collects the single result row — linear in rows regardless of cluster
    sizes."""
    sums = _pair_sums(*_contingency(predicted, truth))
    counts = sums.select(
        F.col("s_ij").cast("long").alias("tp"),
        (F.col("s_a") - F.col("s_ij")).cast("long").alias("fp"),
        (F.col("s_b") - F.col("s_ij")).cast("long").alias("fn"),
    )
    row = counts.select(
        "tp", "fp", "fn", *precision_recall_f1("tp", "fp", "fn")
    ).collect()[0]
    return predicted.sparkSession.createDataFrame(
        [tuple(row)],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )


def bcubed(predicted: DataFrame, truth: DataFrame, ndigits: int = 9) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin '98) — the standard ER
    clustering metric alongside pairwise F1: per record, precision = |its
    predicted cluster ∩ its truth cluster| / |predicted cluster|, recall =
    the same over |truth cluster|; both averaged over records. Unlike
    pairwise F1 it is not dominated by the largest clusters (each RECORD
    votes once, not each pair).

    Same contingency table as cluster_pairwise_f1 — with
    n_ij = |pred i ∩ truth j|: Σ_records precision = Σ_ij n_ij²/n_i·,
    Σ_records recall = Σ_ij n_ij²/n_·j. Pairs/records never materialize;
    the whole metric is one join + narrow aggregates, fully relational
    (no driver collect except the final row)."""
    inter, psz, tsz = _contingency(predicted, truth)
    agg = (
        inter.join(psz, "pc")
        .join(tsz, "tc")
        .agg(
            F.sum("n").alias("n_rec"),
            F.sum(F.col("n") * F.col("n") / F.col("np")).alias("sp"),
            F.sum(F.col("n") * F.col("n") / F.col("nt")).alias("sr"),
        )
    )
    p = F.col("sp") / F.col("n_rec")
    r = F.col("sr") / F.col("n_rec")
    return agg.select(
        F.round(p, ndigits).alias("bcubed_precision"),
        F.round(r, ndigits).alias("bcubed_recall"),
        F.round(2 * p * r / (p + r), ndigits).alias("bcubed_f1"),
    )


def blocking_metrics(
    candidates: DataFrame, truth: DataFrame, n_records: int
) -> DataFrame:
    """Classic blocking-quality metrics (Christen 2012, "Data Matching"
    §7.4 — public; the standard evaluation for any ER blocker):
      reduction_ratio     1 - |C| / (n·(n-1)/2)  — comparisons avoided
      pairs_completeness  |C ∩ T| / |T|          — truth recall of the blocker
      pairs_quality       |C ∩ T| / |C|          — candidate precision
    over candidate pairs C and true match pairs T, both (left_id, right_id)
    canonicalized to unordered distinct pairs. One row out, ratios
    rounded to 9 dp.

    Shape: two dedups + one semi-join, each keyed by the id pair; the
    three counts are single-row aggregates cross-joined at the end (1×1×1
    rows — no data movement). All ratios are int/int divisions → the
    DuckDB oracle reproduces them bit-for-bit."""

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("left_id", "right_id").alias("a"),
            F.greatest("left_id", "right_id").alias("b"),
        ).distinct()

    c = canon(candidates)
    t = canon(truth)
    total = n_records * (n_records - 1) // 2
    c_cnt = c.agg(F.count(F.lit(1)).alias("n_candidates"))
    t_cnt = t.agg(F.count(F.lit(1)).alias("n_truth"))
    h_cnt = c.join(t, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_covered")
    )
    return (
        c_cnt.crossJoin(t_cnt)
        .crossJoin(h_cnt)
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_covered").cast("long").alias("n_covered"),
            F.round(1 - F.col("n_candidates") / F.lit(total), 9).alias(
                "reduction_ratio"
            ),
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_covered") / F.col("n_truth"), 9),
            ).otherwise(F.lit(0.0)).alias("pairs_completeness"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_covered") / F.col("n_candidates"), 9),
            ).otherwise(F.lit(0.0)).alias("pairs_quality"),
        )
    )


def cluster_agreement(predicted: DataFrame, truth: DataFrame) -> DataFrame:
    """Partition-agreement metrics between two clusterings: Rand index,
    adjusted Rand index (Hubert & Arabie 1985) and sqrt-normalized mutual
    information — the standard label-free complements to B-cubed for
    judging ER cluster stability (e.g. two thresholds, two blockers, or
    pred vs truth). Input: (conv_id, cluster_id) on both sides. Rounded
    to 6 dp.

    Shape: the contingency table of cluster_pairwise_f1; every Σ is over
    contingency cells / marginals (O(#clusters) rows, never pairs), so
    the metric costs one shuffle more than the clustering itself. All
    pair counts go through doubles before ratios (`_c2`) — n(n-1)/2 at
    10^12 records overflows int64, so no bigint pair arithmetic anywhere.
    Conventions: ARI = 1 when the expected-index denominator is 0 (both
    partitions trivial); NMI = 0 when either entropy is 0. Raises
    ValueError when the clusterings share fewer than 2 conv_ids (the
    metrics are undefined there; silent nulls would hide e.g. comparing
    clusterings of two different corpora) — the eager guard is one
    limit-2 probe job on the joined ids."""
    shared = predicted.select("conv_id").join(truth.select("conv_id"), "conv_id")
    if len(shared.distinct().limit(2).take(2)) < 2:
        raise ValueError(
            "cluster_agreement: inputs share fewer than 2 conv_ids — "
            "partition-agreement metrics are undefined"
        )
    inter, psz, tsz = _contingency(predicted, truth)
    rec = inter.agg(F.sum("n").cast("double").alias("n_rec"))

    nc = F.col("n_rec")
    mi_h = (
        inter.join(psz, "pc")
        .join(tsz, "tc")
        .crossJoin(rec)
        .agg(
            F.sum(
                (F.col("n") / nc)
                * F.log2(
                    nc
                    * F.col("n")
                    # marginals as doubles: a long*long np*nt overflows
                    # int64 once clusters pass ~3e9 members
                    / (F.col("np").cast("double") * F.col("nt").cast("double"))
                )
            ).alias("mi")
        )
    )
    h_p = rec.crossJoin(psz).agg(
        (-F.sum((F.col("np") / nc) * F.log2(F.col("np") / nc))).alias("h_p")
    )
    h_t = rec.crossJoin(tsz).agg(
        (-F.sum((F.col("nt") / nc) * F.log2(F.col("nt") / nc))).alias("h_t")
    )

    agg = (
        rec.crossJoin(_pair_sums(inter, psz, tsz))
        .crossJoin(mi_h)
        .crossJoin(h_p)
        .crossJoin(h_t)
    )
    total = _c2("n_rec")
    expected = F.col("s_a") * F.col("s_b") / total
    max_idx = (F.col("s_a") + F.col("s_b")) / F.lit(2.0)
    ari_den = max_idx - expected
    ari = F.when(ari_den == 0, F.lit(1.0)).otherwise(
        (F.col("s_ij") - expected) / ari_den
    )
    ri = (total + 2 * F.col("s_ij") - F.col("s_a") - F.col("s_b")) / total
    nmi_den = F.sqrt(F.col("h_p") * F.col("h_t"))
    nmi = F.when(nmi_den == 0, F.lit(0.0)).otherwise(F.col("mi") / nmi_den)
    return agg.select(
        F.round(ri, 6).alias("rand_index"),
        F.round(ari, 6).alias("adjusted_rand"),
        F.round(nmi, 6).alias("nmi"),
    )


def _score_histogram(
    scored_with_labels: DataFrame, caller: str
) -> tuple[DataFrame, int, int]:
    """The one data-sized groupBy behind roc_auc and platt_scale: the cached
    distinct-score histogram (s, n, pos, neg) of (prob, label) and its class
    totals (P, Q); the caller unpersists it. Raises ValueError naming
    `caller` when either class is absent."""
    hist = (
        scored_with_labels.groupBy(F.col("prob").alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("label").cast("long")).alias("pos"),
        )
        .withColumn("neg", F.col("n") - F.col("pos"))
        .persist()
    )
    tot = hist.agg(F.sum("pos").alias("p"), F.sum("neg").alias("q")).collect()[0]
    p_tot, q_tot = int(tot["p"] or 0), int(tot["q"] or 0)
    if p_tot == 0 or q_tot == 0:
        hist.unpersist()
        raise ValueError(
            f"{caller}: needs both classes present (n_pos={p_tot}, n_neg={q_tot})"
        )
    return hist, p_tot, q_tot


def roc_auc(scored_with_labels: DataFrame) -> DataFrame:
    """Tie-corrected ROC-AUC (Mann-Whitney U) + average precision (the
    PR-curve summary, sklearn `average_precision_score` semantics with
    tied scores grouped) — the threshold-free complements to the M4 sweep
    for judging a pairwise scorer before a cutoff is chosen. One row out:
    (n_pos, n_neg, auc, average_precision), rounded to 9 dp.

    Scale shape: ONE data-sized groupBy collapses the corpus to the
    distinct-score histogram (`_score_histogram`); everything after runs on
    histogram rows. The running counts below each score come from the
    two-phase distributed prefix scan (`blocking.range_prefix_scan`) — no
    single-partition window even when the score space is large. With
    cum_neg<(s) exclusive:  U = Σ_s pos(s)·(cum_neg<(s) + neg(s)/2),
    AUC = U / (P·Q);  AP = Σ_s (pos(s)/P) · TP(s)/(TP(s)+FP(s)) over
    descending thresholds, with TP(s) = P − cum_pos<(s). Integer cumsums
    are exact, so the DuckDB oracle reproduces both to 9 dp. The row is
    computed eagerly and every cache it used is released before return.

    Raises ValueError when either class is absent (AUC undefined)."""
    hist, p_tot, q_tot = _score_histogram(scored_with_labels, "roc_auc")
    P, Q = F.lit(float(p_tot)), F.lit(float(q_tot))
    tp = P - F.col("cum_pos")  # records scoring >= s that are positive
    fp = Q - F.col("cum_neg")
    u = F.sum(F.col("pos") * (F.col("cum_neg") + F.col("neg") / F.lit(2.0)))
    ap = F.sum((F.col("pos") / P) * (tp / (tp + fp)))
    try:
        with range_prefix_scan(hist, ["s"], ["pos", "neg"]) as scan:
            row = scan.agg(
                F.round(u / (P * Q), 9).alias("auc"),
                F.round(ap, 9).alias("average_precision"),
            ).collect()[0]
    finally:
        hist.unpersist()
    return scored_with_labels.sparkSession.createDataFrame(
        [(p_tot, q_tot, row["auc"], row["average_precision"])],
        "n_pos long, n_neg long, auc double, average_precision double",
    )


def _prob_bin() -> Column:
    """Equal-width bin of `prob` over [0, 1]: least(floor(p·N_PROB_BINS),
    N_PROB_BINS−1), top-clamped so p = 1.0 lands in the last bin. The same
    IEEE arithmetic in Spark and DuckDB, so binning is engine-exact."""
    return F.least(
        F.floor(F.col("prob") * N_PROB_BINS).cast("int"), F.lit(N_PROB_BINS - 1)
    )


def calibration_bins(scored_with_labels: DataFrame) -> DataFrame:
    """Reliability table + scalar calibration metrics for a probabilistic
    matcher: equal-width probability bins (`_prob_bin`) with (n, mean
    predicted prob, observed positive rate), plus the expected calibration
    error ECE = Σ_b (n_b/N)·|frac_pos_b − mean_prob_b| and the Brier score
    mean((p−y)²) attached to every row (single-row summary cross-joined —
    no data movement); ratios rounded to 9 dp. The standard pre-deployment
    check that match probabilities mean what they say before a τ cutoff is
    trusted.

    Shape: one groupBy on the bin index (≤ N_PROB_BINS keys) + one global
    agg; zero windows, zero UDFs."""
    b = scored_with_labels.select(
        _prob_bin().alias("bin"),
        F.col("prob").alias("p"),
        F.col("label").cast("int").alias("y"),
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("p").alias("mean_prob"),
        F.avg("y").alias("frac_pos"),
    )
    summary = b.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("brier"),
    )
    ece = (
        per.crossJoin(summary)
        .agg(
            F.sum(
                (F.col("n") / F.col("n_total"))
                * F.abs(F.col("frac_pos") - F.col("mean_prob"))
            ).alias("ece")
        )
    )
    return (
        per.crossJoin(summary.select("brier"))
        .crossJoin(ece)
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.round("mean_prob", 9).alias("mean_prob"),
            F.round("frac_pos", 9).alias("frac_pos"),
            F.round("brier", 9).alias("brier"),
            F.round("ece", 9).alias("ece"),
        )
    )


def platt_scale(scored_with_labels: DataFrame, iters: int = 8) -> DataFrame:
    """Platt scaling (Platt 1999): fit p(y=1|s) = sigmoid(a·s + b) to raw
    matcher scores (the `prob` column) by Newton-Raphson on the NLL with
    Platt's smoothed targets t+ = (P+1)/(P+2), t− = 1/(Q+2) and a 1e-9
    ridge on the Hessian diagonal — the classical score calibrator that
    turns an uncalibrated cross-encoder / FS log-odds score into a
    probability the τ threshold can trust. One row out:
    (a, b, n_pos, n_neg, nll), rounded to 6 dp.

    Scale shape: ONE data-sized groupBy collapses the corpus to the
    distinct-score histogram (`_score_histogram`); each Newton step is then
    a single 5-sum aggregate over histogram rows (gradient + 2×2 Hessian),
    solved on the driver — estimation cost per step is independent of
    corpus size, and only 2 scalars ever live driver-side. Fixed `iters`
    steps, no early-exit (deterministic trajectory).

    Cross-engine convention: (a, b) are rounded to 9 dp after every step,
    so last-ulp differences between JVM/libm exp-log and the oracle
    engine's cannot accumulate — the DuckDB oracle unrolls the identical
    steps as CTEs and reproduces the trajectory exactly (the fs_em_params
    pattern). Init: a=0, b=round(ln((P+1)/(Q+1)), 9)."""
    import math

    ridge = 1e-9
    hist, p_tot, q_tot = _score_histogram(scored_with_labels, "platt_scale")
    t_pos = (p_tot + 1.0) / (p_tot + 2.0)
    t_neg = 1.0 / (q_tot + 2.0)
    a = 0.0
    b = round(math.log((p_tot + 1.0) / (q_tot + 1.0)), 9)
    for _ in range(iters):
        z = F.lit(a) * F.col("s") + F.lit(b)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = F.col("n") * p * (F.lit(1.0) - p)
        r = F.col("pos") * (p - F.lit(t_pos)) + F.col("neg") * (p - F.lit(t_neg))
        g = hist.agg(
            F.sum(F.col("s") * r).alias("ga"),
            F.sum(r).alias("gb"),
            F.sum(F.col("s") * F.col("s") * w).alias("haa"),
            F.sum(F.col("s") * w).alias("hab"),
            F.sum(w).alias("hbb"),
        ).collect()[0]
        ga, gb = float(g["ga"]), float(g["gb"])
        haa, hab, hbb = float(g["haa"]) + ridge, float(g["hab"]), float(g["hbb"]) + ridge
        det = haa * hbb - hab * hab
        a = round(a - (hbb * ga - hab * gb) / det, 9)
        b = round(b - (haa * gb - hab * ga) / det, 9)
    z = F.lit(a) * F.col("s") + F.lit(b)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    pc = F.greatest(p, F.lit(1e-15))
    qc = F.greatest(F.lit(1.0) - p, F.lit(1e-15))
    nll_row = hist.agg(
        (
            -F.sum(
                F.col("pos") * (F.lit(t_pos) * F.log(pc) + F.lit(1.0 - t_pos) * F.log(qc))
                + F.col("neg") * (F.lit(t_neg) * F.log(pc) + F.lit(1.0 - t_neg) * F.log(qc))
            )
        ).alias("nll")
    ).collect()[0]
    hist.unpersist()
    return scored_with_labels.sparkSession.createDataFrame(
        [(round(a, 6), round(b, 6), p_tot, q_tot, round(float(nll_row["nll"]), 6))],
        "a double, b double, n_pos long, n_neg long, nll double",
    )


def sampling_corrected_confusion(
    scored: DataFrame, labeled: DataFrame, tau: float
) -> DataFrame:
    """Population confusion estimates from a PARTIAL labeled sample —
    stratified Horvitz-Thompson estimation, the standard design when the
    candidate set is too large to label (you label a few hundred pairs per
    score stratum and weight each labeled pair by its stratum's inverse
    inclusion probability):

        est_cell = Σ_s (N_s / n_s) · cell_count_in_labeled(s)

    with N_s the stratum size in the FULL scored candidate set and n_s its
    labeled count. Unbiased for every confusion cell under any per-stratum
    sampling design with known N_s/n_s — in particular the boundary-heavy
    designs that would wildly bias a naive sample mean. Labeling the whole
    set (n_s = N_s) reduces every estimate to the exact confusion matrix
    (pytest-pinned against confusion_f1).

    Inputs: scored (left_id, right_id, prob), labeled (left_id, right_id,
    label); a pair is predicted a match when prob > tau. Strata are the
    equal-width bins of `_prob_bin`, least(floor(prob·10), 9) over [0, 1]
    — NOT clerical_review_sample's buckets, which are
    floor((s − (τ − width)) / bucket_width) inside |s − τ| ≤ width, so the
    labeled sample must be drawn (or re-stratified) per these bins.
    Plan: two stratum-keyed partial aggs (full table: counts only; labeled:
    cell counts) + one ≤10-row join — nothing data-sized shuffles but
    bare (stratum, counts) rows. Strata with labels absent contribute their
    labeled cells only if n_s > 0; strata with N_s > 0 but n_s = 0 are
    REPORTED via uncovered_pairs instead of silently dropped.

    Output (one row): est_tp/fp/fn/tn, precision, recall, f1 (within the
    scored candidate set), n_labeled, uncovered_pairs."""
    keys = ["left_id", "right_id"]
    sizes = (
        scored.select(_prob_bin().alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("N_full"))
    )
    lab = labeled.join(scored.select(*keys, "prob"), keys).select(
        _prob_bin().alias("__s"),
        (F.col("prob") > F.lit(tau)).cast("int").alias("p"),
        F.col("label").cast("int").alias("y"),
    )
    cells = lab.groupBy("__s").agg(
        F.count(F.lit(1)).alias("n_lab"), *confusion_cells("p", "y")
    )
    j = sizes.join(cells, "__s", "left")
    w = F.col("N_full") / F.col("n_lab")
    est = j.agg(
        *[
            F.sum(F.when(F.col("n_lab") > 0, w * F.col(c))).alias(f"est_{c}")
            for c in ("tp", "fp", "fn", "tn")
        ],
        F.sum(F.coalesce(F.col("n_lab"), F.lit(0))).alias("n_labeled"),
        F.sum(F.when(F.col("n_lab").isNull(), F.col("N_full")).otherwise(F.lit(0)))
        .alias("uncovered_pairs"),
    )
    return est.select(
        "est_tp", "est_fp", "est_fn", "est_tn",
        *precision_recall_f1("est_tp", "est_fp", "est_fn"),
        "n_labeled", "uncovered_pairs",
    )
