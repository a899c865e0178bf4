"""The benchmark under `perfbench/` re-composes the flagship from the public
stage operators and reads `PipelineConfig` fields directly; it is kept
unchanged between library revisions. This pins the library surface it
uses, so a simplification of `ditto_spark` cannot silently break the traced
run."""

import ast
import inspect
import os


def test_benchmark_imports_resolve():
    from ditto_spark.checkpoint import StageStore, dedup_transcripts_checkpointed
    from ditto_spark.operators.blocking import (  # noqa: F401
        candidates_from_bands,
        estimated_jaccard,
        lsh_bands,
        minhash_signatures,
        shingle,
        tokenize,
    )
    from ditto_spark.operators.cluster import (  # noqa: F401
        assign_clusters,
        connected_components,
    )
    from ditto_spark.operators.evaluate import cluster_pairwise_f1  # noqa: F401
    from ditto_spark.operators.scoring import (  # noqa: F401
        apply_threshold,
        attach_pair_text,
        score_pairs,
        score_pairs_builtin,
    )
    from ditto_spark.operators.serialize import serialize_conversations  # noqa: F401
    from ditto_spark.pipeline import (  # noqa: F401
        PipelineConfig,
        calibrate_scorer_cost,
        dedup_transcripts,
    )
    from ditto_spark.session import get_spark  # noqa: F401
    from ditto_spark.synth import generate_transcripts, golden_clusters  # noqa: F401

    assert callable(StageStore.materialize) and callable(StageStore.exists)
    params = inspect.signature(dedup_transcripts_checkpointed).parameters
    assert list(params) == ["spark", "transcripts", "store", "cfg"]
    assert params["cfg"].default is None


def test_benchmark_blocking_positional_signatures():
    """traced.py passes these arguments positionally."""
    from ditto_spark.operators import blocking as B
    from ditto_spark.operators.scoring import attach_pair_text

    def head(fn, n):
        return list(inspect.signature(fn).parameters)[:n]

    assert head(B.tokenize, 2) == ["df", "text_col"]
    assert list(inspect.signature(attach_pair_text).parameters) == [
        "pairs",
        "serialized",
    ]
    assert head(B.minhash_signatures, 2) == ["df", "id_col"]
    assert "num_perm" in inspect.signature(B.minhash_signatures).parameters
    assert head(B.lsh_bands, 4) == ["sig_df", "id_col", "num_bands", "rows_per_band"]
    assert head(B.candidates_from_bands, 3) == ["bands_df", "id_col", "max_bucket"]
    assert head(B.estimated_jaccard, 3) == ["pairs", "sig_df", "id_col"]


def test_benchmark_config_fields():
    from ditto_spark.pipeline import PipelineConfig

    cfg = PipelineConfig()
    for name in (
        "shingle_n",
        "num_perm",
        "num_bands",
        "rows_per_band",
        "max_bucket",
        "lsh_prefilter",
        "tau",
        "use_arrow_udf_scorer",
        "repartition_pairs",
    ):
        getattr(cfg, name)


def test_connected_components_reports_rounds(spark):
    from ditto_spark.operators.cluster import connected_components

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["left_id", "right_id"])
    connected_components(edges).collect()
    assert connected_components.last_rounds is not None


def test_benchmark_assign_clusters_surface(spark):
    """traced.py calls assign_clusters(serialized, matches,
    assume_unique=True) and reads its (conv_id, cluster_id) output."""
    from ditto_spark.operators.cluster import assign_clusters

    params = list(inspect.signature(assign_clusters).parameters)
    assert params[:2] == ["all_ids", "pairs"]
    assert "assume_unique" in params

    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "conv_id string")
    pairs = spark.createDataFrame([("a", "b")], "left_id string, right_id string")
    assert set(assign_clusters(ids, pairs, assume_unique=True).columns) == {
        "conv_id",
        "cluster_id",
    }

    traced = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "traced.py",
    )
    with open(traced) as f:
        tree = ast.parse(f.read())
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "assign_clusters"
    ]
    assert calls
    for call in calls:
        assert len(call.args) == 2
        assert {k.arg for k in call.keywords} <= {"assume_unique"}


def test_benchmark_cluster_pairwise_f1_surface(spark):
    """traced.py's same_f1 calls cluster_pairwise_f1(clusters, truth) and
    requires its f1 to equal the benchmark's own contingency-table formula
    (harness.pairwise_f1)."""
    from ditto_spark.operators.evaluate import cluster_pairwise_f1

    assert list(inspect.signature(cluster_pairwise_f1).parameters) == [
        "predicted",
        "truth",
    ]
    schema = "conv_id string, cluster_id string"
    pred = spark.createDataFrame(
        [("a", "1"), ("b", "1"), ("c", "1"), ("d", "2")], schema
    )
    truth = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y")], schema
    )
    out = cluster_pairwise_f1(pred, truth)
    assert out.columns == ["tp", "fp", "fn", "precision", "recall", "f1"]
    row = out.collect()[0]
    # cells (1,x)=2, (1,y)=1, (2,y)=1 → tp = C(2,2) = 1; predicted pairs
    # C(3,2) + C(1,2) = 3 → fp = 2; truth pairs C(2,2) + C(2,2) = 2 → fn = 1
    assert (row["tp"], row["fp"], row["fn"]) == (1, 2, 1)
    assert row["f1"] == 2.0 * 1 / (2 * 1 + 2 + 1)
    assert (row["precision"], row["recall"]) == (1 / 3, 1 / 2)
