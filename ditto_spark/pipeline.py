"""End-to-end record-linkage pipeline (SURVEY.md §3.1 Spark rebuild):

transcripts → serialize → MinHash-LSH blocking → pairwise scorer (Arrow UDF
or JVM surrogate) → strict p > τ → large-star/small-star connected
components → clusters.

Exchanges up to the scored pairs, with AQE off (pinned per stage in
tests/test_plans.py):
  serialize   1 hash exchange: groupBy(conv_id); the frame is persisted
  block       2 hash exchanges and 1 broadcast: the band-bucket size window
              on (band_idx, band_key), whose layout the per-salt-cell
              pairing reuses; the distinct (left_id, right_id); and the
              cached signatures, broadcast once for both est_jaccard
              lookups
  pair text   1 broadcast of the serialized texts, shared by the left_id
              and right_id lookups
  Arrow score 1 round-robin repartition to defaultParallelism
              (`repartition_pairs` overrides the count), so the CPU-bound
              UDF spreads over every core (see stage_pair_text); the JVM
              scorer adds none
The lookups broadcast by `blocking.entity_lookup`'s rule: when the entity
side does not fit autoBroadcastJoinThreshold, each is a shuffled hash join
built on the entity side instead. The executed plan prints the serialized
frame's exchange again under each cached read of it, and each shared
broadcast a second time as a reuse: 1 line for serialized, 6 for the
candidates, and 10 for the scored pairs (9 with the JVM scorer).
Clustering then runs two local contraction passes and, when they leave a
star forest (the usual dedup shape), reads the clusters off one per-node
aggregate; otherwise it runs the CC iterations (bounded O(log n) rounds)
as jobs of their own.

This module is the only owner of the stage graph: the `stage_*` functions
below map a `PipelineConfig` onto the operators, and `dedup_transcripts`,
the progressive variant, threshold tuning and the checkpointed pipeline
(`checkpoint.py`) all compose them.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.serialize import serialize_conversations
from ditto_spark.operators.blocking import block_minhash_lsh
from ditto_spark.operators.scoring import (
    attach_pair_text,
    score_pairs,
    score_pairs_builtin,
    apply_threshold,
)
from ditto_spark.operators.cluster import assign_clusters, cover_singletons


@dataclass
class PipelineConfig:
    # b=21 bands × r=3 rows: candidate prob 1-(1-s³)²¹ ≈ 0.98 at Jaccard 0.55
    # (noisy duplicate variants) while staying ~0 below 0.15 — recall-oriented,
    # precision restored by the scorer + threshold downstream.
    shingle_n: int = 2
    num_perm: int = 64
    num_bands: int = 21
    rows_per_band: int = 3
    max_bucket: int = 200
    lsh_prefilter: float | None = 0.15  # est_jaccard floor before scoring
    tau: float = 0.5
    use_arrow_udf_scorer: bool = True
    repartition_pairs: int | None = None


# Fraction of candidate pairs progressive scoring is assumed to prune when
# deciding whether it pays (the skew drill measured 58% pruned).
PROGRESSIVE_PRUNE_FRAC = 0.5


@dataclass
class PipelineResult:
    serialized: DataFrame
    candidates: DataFrame
    scored: DataFrame
    matches: DataFrame
    clusters: DataFrame


def stage_candidates(serialized: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """serialized → MinHash-LSH candidate pairs (left_id < right_id)."""
    return block_minhash_lsh(
        serialized,
        text_col="block_text",
        shingle_n=cfg.shingle_n,
        num_perm=cfg.num_perm,
        num_bands=cfg.num_bands,
        rows_per_band=cfg.rows_per_band,
        max_bucket=cfg.max_bucket,
        threshold=cfg.lsh_prefilter,
    )


def stage_pair_text(
    candidates: DataFrame, serialized: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Attach both sides' text to the pairs. For the Arrow scorer, also
    round-robin them over defaultParallelism partitions, one per core: the
    scorer is CPU-bound per pair, and AQE would otherwise coalesce the pair
    table into a few ~64MB partitions and strand the UDF on a handful of
    Python workers. No more partitions than cores, because each
    mapInPandas task costs a fixed amount of Python CPU whatever its size:
    pyspark's worker calls importlib.invalidate_caches() at the start of
    every task, and under Python 3.11 that re-reads pyspark.zip's directory
    once per zipimporter on sys.path (16 in a worker), measured at
    0.12-0.20 s of CPU per task on a 4-core VM, against a surrogate kernel
    of ~18 µs/pair, ~0.5 s for the ~29k pairs of the hot_skew benchmark.
    On a real cluster `repartition_pairs` sizes partitions by pair count
    instead, to cap model memory per partition (SURVEY.md §7)."""
    with_text = attach_pair_text(candidates, serialized)
    if not cfg.use_arrow_udf_scorer:
        return with_text
    n_parts = cfg.repartition_pairs or int(
        candidates.sparkSession.sparkContext.defaultParallelism
    )
    return with_text.repartition(n_parts)


def stage_scored(
    with_text: DataFrame, cfg: PipelineConfig, scorer_factory=None
) -> DataFrame:
    """`stage_pair_text` output → (left_id, right_id, prob), scored by the
    Arrow UDF (`scorer_factory`, default the surrogate) or, with
    use_arrow_udf_scorer=False, by the JVM surrogate."""
    if cfg.use_arrow_udf_scorer:
        return score_pairs(with_text, scorer_factory)
    return score_pairs_builtin(with_text)


def stage_matches(scored: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Scored pairs → the pairs with prob > τ."""
    return apply_threshold(scored, cfg.tau).where(F.col("match") == 1)


def stage_clusters(serialized: DataFrame, matches: DataFrame) -> DataFrame:
    """Match edges → (conv_id, cluster_id) over every serialized conv_id."""
    # candidates are distinct (left < right) by construction → the CC init
    # can skip its dedup shuffle over the full edge set
    return assign_clusters(
        serialized, matches.select("left_id", "right_id"), assume_unique=True
    )


def tune_threshold_on_pairs(
    serialized: DataFrame,
    labeled_pairs: DataFrame,
    cfg: PipelineConfig | None = None,
    verify: bool = True,
) -> float:
    """M4 validation flow (matcher.py:192-253 / ditto.py:98-109): score the
    labeled validation pairs with the SAME scorer the pipeline uses, sweep
    the τ grid distributed, return argmax-F1 τ (ties → lowest τ).

    verify=True replicates the reference's predict-then-verify loop
    (matcher.py:229-252): the scorer re-runs from scratch at the chosen τ
    and the achieved F1 must reproduce the sweep's claim — guarding against
    a nondeterministic scorer."""
    from ditto_spark.operators.evaluate import tune_threshold, tune_threshold_verified

    cfg = cfg or PipelineConfig()

    def score_fresh() -> DataFrame:
        with_text = stage_pair_text(
            labeled_pairs.select("left_id", "right_id"), serialized, cfg
        )
        scored = stage_scored(with_text, cfg)
        return scored.join(
            labeled_pairs.select("left_id", "right_id", "label"),
            ["left_id", "right_id"],
        )

    if verify:
        tau, _, _ = tune_threshold_verified(score_fresh(), score_fresh)
        return tau
    return tune_threshold(score_fresh())


def dedup_transcripts_tuned(
    transcripts: DataFrame,
    labeled_pairs: DataFrame,
    cfg: PipelineConfig | None = None,
) -> tuple["PipelineResult", float]:
    """Full reference inference flow: tune τ on labeled validation pairs,
    then run the pipeline at the tuned τ."""
    cfg = cfg or PipelineConfig()
    serialized = serialize_conversations(transcripts).persist()
    tau = tune_threshold_on_pairs(serialized, labeled_pairs, cfg)
    # thread the already-persisted serialization into the pipeline run — a
    # second serialize pass (plus a second cached copy) is pure waste
    res = dedup_transcripts(transcripts, replace(cfg, tau=tau), serialized=serialized)
    return res, tau


def calibrate_scorer_cost(
    with_text: DataFrame,
    scorer_factory=None,
    n_sample: int = 2048,
) -> float:
    """Measured seconds/pair of the pairwise scorer on a driver-side
    calibration batch — the number the progressive break-even needs. The
    batch is collected once and the scorer callable timed directly (model
    cost, not Spark overhead). The surrogate's cost depends on how often
    texts repeat in a batch, since it tokenizes each distinct text once.
    On a 4-core VM this calibration measured 18 µs/pair on the hot_skew
    benchmark, where one hot template fills the batch, and 47 µs/pair on
    batch_dedup, where most pairs bring new texts. A real LM costs orders
    of magnitude more — the regime split that decides progressive vs
    one-shot."""
    import time

    from ditto_spark.operators.scoring import surrogate_scorer_factory

    pdf = with_text.select("left_txt", "right_txt").limit(n_sample).toPandas()
    if pdf.empty:
        return 0.0
    scorer = (scorer_factory or surrogate_scorer_factory)()
    t0 = time.monotonic()
    scorer(pdf["left_txt"], pdf["right_txt"])
    return (time.monotonic() - t0) / len(pdf)


def progressive_break_even_cost(
    n_pairs: int,
    n_batches: int,
    prune_frac: float,
    per_batch_overhead_sec: float,
) -> float:
    """Minimum scorer cost/pair (sec) at which progressive scoring wins:
    the pruned work (prune_frac × n_pairs pairs never scored) must exceed
    the fixed per-batch overhead (meta-CC + two id-keyed joins) times
    n_batches. Below this, one-shot is faster — BENCH/skew_drill.json
    measured exactly that (progressive 262 s vs one-shot 146 s at
    surrogate cost despite 58% pruning)."""
    return (n_batches * per_batch_overhead_sec) / max(
        prune_frac * n_pairs, 1.0
    )


def dedup_transcripts_progressive(
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    n_batches: int = 4,
    serialized: DataFrame | None = None,
    auto: bool = False,
    scorer_factory=None,
    batch_overhead_sec: float = 30.0,
) -> tuple[DataFrame, dict]:
    """Flagship variant with progressive (pay-as-you-go) scoring: candidate
    pairs run through the Arrow scorer in descending est_jaccard batches and
    pairs whose endpoints already share a cluster are pruned unscored
    (`scoring.score_pairs_progressive` — cluster output provably identical
    to the one-shot pipeline, tested in test_scoring/test_pipeline).
    Always scores with the Arrow UDF (`scorer_factory`), whatever
    cfg.use_arrow_udf_scorer says.

    Use when the scorer dominates (at the 50x stress point the score stage
    is 355 s of 409 s): duplicate-heavy corpora resolve near-clique groups
    from their first accepted spanning edges and the remaining clique pairs
    — the quadratic part — never reach the model. Trades n_batches extra
    edge-sized meta-CC rounds + two id joins per batch for the saved LM
    invocations; keep the one-shot path when pair probabilities for EVERY
    candidate are themselves a deliverable (auditing, calibration).

    auto=True applies the measured break-even (round-4 verdict #5: the skew
    drill measured progressive 1.8x SLOWER at surrogate cost while pruning
    58% of pairs) instead of trusting the operator: the candidate count and
    a calibration-batch scorer cost decide between progressive and the
    one-shot scorer — both produce identical clusters, so the choice is
    purely a cost decision, and `stats["mode"]` records which ran plus the
    numbers behind the decision. `batch_overhead_sec` is the per-batch fixed
    cost (meta-CC + two id joins) the saved scorer work must exceed; the
    default is the sandbox measurement (BENCH/skew_drill.json ≈ 29 s) — at
    cluster scale re-measure and pass it.

    Returns (clusters, stats) — clusters schema identical to
    PipelineResult.clusters; stats has per-batch scored/pruned counts.
    """
    from ditto_spark.operators.scoring import score_pairs_progressive

    cfg = replace(cfg or PipelineConfig(), use_arrow_udf_scorer=True)
    if serialized is None:
        serialized = serialize_conversations(transcripts).persist()
    with_text = stage_pair_text(stage_candidates(serialized, cfg), serialized, cfg)

    stats: dict = {"mode": "progressive"}
    if auto:
        with_text = with_text.persist()
        n_pairs = with_text.count()
        cost = calibrate_scorer_cost(with_text, scorer_factory)
        break_even = progressive_break_even_cost(
            n_pairs, n_batches, PROGRESSIVE_PRUNE_FRAC, batch_overhead_sec
        )
        stats["decision"] = {
            "n_pairs": n_pairs,
            "scorer_cost_per_pair": cost,
            "break_even_cost_per_pair": break_even,
            "prune_frac_assumed": PROGRESSIVE_PRUNE_FRAC,
            "batch_overhead_sec": batch_overhead_sec,
        }
        if cost <= break_even:
            # one-shot wins: score everything, threshold, one CC pass.
            # Materialize the clusters while with_text is still cached, so
            # acting on them later does not rerun blocking and pair text.
            scored = stage_scored(with_text, cfg, scorer_factory)
            clusters = stage_clusters(
                serialized, stage_matches(scored, cfg)
            ).persist()
            clusters.count()
            with_text.unpersist()
            return clusters, {**stats, "mode": "one_shot"}
    assignments, batch_stats = score_pairs_progressive(
        with_text,
        threshold=cfg.tau,
        scorer_factory=scorer_factory,
        n_batches=n_batches,
    )
    if auto:
        with_text.unpersist()
    clusters = cover_singletons(
        serialized.select("conv_id").distinct(), assignments, "conv_id"
    )
    return clusters, {**stats, **batch_stats}


def dedup_transcripts(
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    serialized: DataFrame | None = None,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    # serialized feeds blocking, both sides of attach_pair_text, and the
    # final cluster assignment — materialize once (checkpoint table at scale)
    if serialized is None:
        serialized = serialize_conversations(transcripts).persist()
    candidates = stage_candidates(serialized, cfg)
    scored = stage_scored(stage_pair_text(candidates, serialized, cfg), cfg)
    matches = stage_matches(scored, cfg)
    clusters = stage_clusters(serialized, matches)
    return PipelineResult(serialized, candidates, scored, matches, clusters)
