"""End-to-end gates (BASELINE.md targets):
pairwise F1 >= 0.99 vs planted golden pairs at identical blocking keys;
cluster pairwise F1 vs planted clusters; determinism across runs."""

import pyspark.sql.functions as F
import pytest

from ditto_spark.pipeline import PipelineConfig, dedup_transcripts
from ditto_spark.operators.evaluate import confusion_f1, cluster_pairwise_f1
from ditto_spark.synth import golden_clusters, golden_pairs


def test_pairwise_f1_gate(spark, small_transcripts):
    """North-rule gate: pairwise F1 >= 0.99 on labeled pairs, where the
    prediction for a pair is cluster co-membership (the pipeline's entity
    clusters — transitivity heals individual blocking misses, exactly why
    the north_rule adds clustering on top of ditto's pairwise output)."""
    res = dedup_transcripts(small_transcripts, PipelineConfig(tau=0.5))
    golden = golden_pairs(small_transcripts)
    cl = res.clusters
    pred = (
        golden.join(
            cl.withColumnsRenamed({"conv_id": "left_id", "cluster_id": "lc"}), "left_id"
        )
        .join(cl.withColumnsRenamed({"conv_id": "right_id", "cluster_id": "rc"}), "right_id")
        .withColumn("match", (F.col("lc") == F.col("rc")).cast("int"))
    )
    m = confusion_f1(pred).collect()[0]
    assert m["f1"] >= 0.99, f"pairwise F1 {m['f1']} (tp={m['tp']} fp={m['fp']} fn={m['fn']})"


def test_cluster_f1_gate(spark, small_transcripts):
    res = dedup_transcripts(small_transcripts, PipelineConfig(tau=0.5))
    truth = golden_clusters(small_transcripts)
    m = cluster_pairwise_f1(res.clusters, truth).collect()[0]
    assert m["f1"] >= 0.98, f"cluster F1 {m['f1']}"


def test_every_conv_assigned_exactly_once(spark, tiny_transcripts):
    res = dedup_transcripts(tiny_transcripts)
    n_conv = tiny_transcripts.select("conv_id").distinct().count()
    assert res.clusters.count() == n_conv
    assert res.clusters.select("conv_id").distinct().count() == n_conv


def test_determinism_two_runs(spark, tiny_transcripts):
    a = dedup_transcripts(tiny_transcripts).clusters
    b = dedup_transcripts(tiny_transcripts).clusters
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_steady_pass_compiles_nothing(spark, tiny_transcripts, tmp_path):
    """A repeated pass must find all of its generated code in Spark's
    codegen cache. The pass is the benchmark's: read the corpus from
    parquet, dedup, collect the clusters. Its working set outgrows
    Spark's default 100-entry cache, which then recompiles on every pass;
    the session sizes the cache above it, so the second pass compiles
    nothing."""
    path = str(tmp_path / "corpus")
    tiny_transcripts.write.parquet(path)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    dedup_transcripts(spark.read.parquet(path)).clusters.collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    dedup_transcripts(spark.read.parquet(path)).clusters.collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_builtin_scorer_path(spark, tiny_transcripts):
    res = dedup_transcripts(
        tiny_transcripts, PipelineConfig(use_arrow_udf_scorer=False, tau=0.5)
    )
    truth = golden_clusters(tiny_transcripts)
    m = cluster_pairwise_f1(res.clusters, truth).collect()[0]
    assert m["f1"] >= 0.95


def test_tuned_threshold_pipeline(spark, tiny_transcripts):
    """M4 wiring: tune tau on golden validation pairs, then dedup at the
    tuned tau; F1 vs planted truth must stay >= 0.99."""
    from ditto_spark.synth import golden_pairs, golden_clusters
    from ditto_spark.pipeline import dedup_transcripts_tuned
    from ditto_spark.operators.evaluate import cluster_pairwise_f1

    pairs = golden_pairs(tiny_transcripts, neg_per_pos=2)
    res, tau = dedup_transcripts_tuned(tiny_transcripts, pairs)
    assert 0.0 <= tau <= 0.95
    m = cluster_pairwise_f1(res.clusters, golden_clusters(tiny_transcripts)).collect()[0]
    assert m["f1"] >= 0.99, f"tuned-pipeline F1 {m['f1']} at tau={tau}"


def test_bcubed_known_values(spark):
    from ditto_spark.operators.evaluate import bcubed

    # classic example: truth {a,b,c}{d,e}; predicted {a,b}{c,d,e}
    pred = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("c", "p2"), ("d", "p2"), ("e", "p2")],
        "conv_id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t1"), ("d", "t2"), ("e", "t2")],
        "conv_id string, cluster_id string",
    )
    row = bcubed(pred, truth).collect()[0]
    # precision per record: a,b: 2/2; c: 1/3; d,e: 2/3 → (1+1+1/3+2/3+2/3)/5
    # recall per record:    a,b: 2/3; c: 1/3; d,e: 2/2 → (2/3+2/3+1/3+1+1)/5
    import pytest
    assert row["bcubed_precision"] == pytest.approx((1 + 1 + 1/3 + 2/3 + 2/3) / 5, abs=1e-9)
    assert row["bcubed_recall"] == pytest.approx((2/3 + 2/3 + 1/3 + 1 + 1) / 5, abs=1e-9)
    p, r = row["bcubed_precision"], row["bcubed_recall"]
    assert row["bcubed_f1"] == pytest.approx(2 * p * r / (p + r), abs=1e-9)


def test_bcubed_perfect_clustering(spark):
    from ditto_spark.operators.evaluate import bcubed

    assign = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y")], "conv_id string, cluster_id string"
    )
    row = bcubed(assign, assign).collect()[0]
    assert row["bcubed_precision"] == 1.0 == row["bcubed_recall"] == row["bcubed_f1"]


def test_blocking_metrics_known_values(spark):
    from ditto_spark.operators.evaluate import blocking_metrics

    cand = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (4, 3)], "left_id long, right_id long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 1)], "left_id long, right_id long"
    )
    row = blocking_metrics(cand, truth, n_records=5).collect()[0]
    # canonicalized: cand {1-2, 2-3, 3-4}, truth {1-2, 1-3}, covered {1-2}
    assert row["n_candidates"] == 3 and row["n_truth"] == 2
    assert row["n_covered"] == 1
    assert row["reduction_ratio"] == 0.7          # 1 - 3/10
    assert row["pairs_completeness"] == 0.5
    assert abs(row["pairs_quality"] - 1 / 3) < 1e-9


def test_blocking_metrics_empty_truth(spark):
    from ditto_spark.operators.evaluate import blocking_metrics

    cand = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    truth = spark.createDataFrame([], "left_id long, right_id long")
    row = blocking_metrics(cand, truth, n_records=3).collect()[0]
    assert row["pairs_completeness"] == 0.0 and row["n_covered"] == 0


def test_cluster_agreement_hand_computed(spark):
    from ditto_spark.operators.evaluate import cluster_agreement

    # pred {1,2},{3}; truth {1},{2,3} — classic small case
    pred = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 30)], "conv_id long, cluster_id long"
    )
    truth = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 2)], "conv_id long, cluster_id long"
    )
    row = cluster_agreement(pred, truth).collect()[0]
    # contingency: n=[[1,0],[0? ...]] pred10={1,2} truth1={1} truth2={2};
    # pred30={3} truth2={3}. s_ij=0, s_a=1, s_b=1, total=3.
    # RI = (3 + 0 - 1 - 1)/3 = 1/3; ARI = (0 - 1/3)/(1 - 1/3) = -0.5
    assert row["rand_index"] == pytest.approx(1 / 3, abs=1e-6)
    assert row["adjusted_rand"] == pytest.approx(-0.5, abs=1e-6)

    # perfect agreement (same partition, different labels)
    truth2 = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 9)], "conv_id long, cluster_id long"
    )
    row2 = cluster_agreement(pred, truth2).collect()[0]
    assert row2["rand_index"] == 1.0
    assert row2["adjusted_rand"] == 1.0
    assert row2["nmi"] == 1.0


def test_cluster_agreement_trivial_partitions(spark):
    from ditto_spark.operators.evaluate import cluster_agreement

    # both all-singletons: expected-index denominator is 0 -> ARI = 1
    pred = spark.createDataFrame(
        [(i, i) for i in range(4)], "conv_id long, cluster_id long"
    )
    row = cluster_agreement(pred, pred).collect()[0]
    assert row["adjusted_rand"] == 1.0
    assert row["rand_index"] == 1.0
    assert row["nmi"] == 1.0  # identical non-trivial partitions

    # everything in ONE cluster on both sides: zero entropy -> NMI = 0,
    # and the expected-index denominator is 0 -> ARI = 1 by convention
    one = spark.createDataFrame(
        [(i, 0) for i in range(4)], "conv_id long, cluster_id long"
    )
    row1 = cluster_agreement(one, one).collect()[0]
    assert row1["adjusted_rand"] == 1.0
    assert row1["nmi"] == 0.0


def test_progressive_pipeline_matches_one_shot(spark):
    """dedup_transcripts_progressive must produce the exact clusters of the
    one-shot flagship (transitivity pruning is output-preserving), while
    scoring strictly fewer pairs."""
    from ditto_spark.pipeline import (
        PipelineConfig,
        dedup_transcripts,
        dedup_transcripts_progressive,
    )
    from ditto_spark.synth import generate_transcripts

    t = generate_transcripts(spark, n_base=60, seed=42, max_dups=3, dup_prob=0.9)
    cfg = PipelineConfig()
    want = {
        (r["conv_id"], r["cluster_id"])
        for r in dedup_transcripts(t, cfg).clusters.collect()
    }
    clusters, stats = dedup_transcripts_progressive(t, cfg, n_batches=3)
    got = {(r["conv_id"], r["cluster_id"]) for r in clusters.collect()}
    assert got == want
    assert stats["pairs_pruned"] > 0


def test_progressive_auto_break_even(spark):
    """Round-4 verdict #5: auto mode must pick the measured-faster path in
    both cost regimes. Surrogate cost (tens of µs/pair) is far below
    break-even → one-shot; an artificially slowed scorer is far above →
    progressive.
    Either way the clusters are the one-shot pipeline's exactly."""
    import time

    import numpy as np

    from ditto_spark.pipeline import (
        PipelineConfig,
        dedup_transcripts,
        dedup_transcripts_progressive,
        progressive_break_even_cost,
    )
    from ditto_spark.operators.scoring import surrogate_scorer_factory
    from ditto_spark.synth import generate_transcripts

    t = generate_transcripts(spark, n_base=40, seed=42, max_dups=3, dup_prob=0.9)
    cfg = PipelineConfig()
    want = {
        (r["conv_id"], r["cluster_id"])
        for r in dedup_transcripts(t, cfg).clusters.collect()
    }

    # regime 1: cheap scorer → calibration lands below break-even → one-shot
    clusters, stats = dedup_transcripts_progressive(t, cfg, n_batches=3, auto=True)
    assert stats["mode"] == "one_shot"
    d = stats["decision"]
    assert d["scorer_cost_per_pair"] <= d["break_even_cost_per_pair"]
    # the branch releases its cached pair table before returning: the
    # clusters must already be materialized, or acting on them reruns
    # blocking and pair-text attachment
    assert clusters.is_cached
    assert {(r["conv_id"], r["cluster_id"]) for r in clusters.collect()} == want

    # regime 2: slowed scorer (5 ms/pair) with the batch overhead set to a
    # measured-small value, as a cluster operator would after re-measuring
    # (the default 30 s is the sandbox bench-scale constant and would need
    # a six-figure pair count to amortize)
    def slow_factory():
        inner = surrogate_scorer_factory()

        def score(lt, rt):
            time.sleep(0.005 * len(lt))
            return np.asarray(inner(lt, rt))

        return score

    clusters2, stats2 = dedup_transcripts_progressive(
        t,
        cfg,
        n_batches=3,
        auto=True,
        scorer_factory=slow_factory,
        batch_overhead_sec=0.05,
    )
    assert stats2["mode"] == "progressive"
    d2 = stats2["decision"]
    assert d2["scorer_cost_per_pair"] > d2["break_even_cost_per_pair"]
    assert {(r["conv_id"], r["cluster_id"]) for r in clusters2.collect()} == want

    # the rule itself: break-even falls as pair count grows (more prunable
    # work amortizes the same batch overhead)
    assert progressive_break_even_cost(10_000, 4, 0.5, 30.0) > \
        progressive_break_even_cost(1_000_000, 4, 0.5, 30.0)
