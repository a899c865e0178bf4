"""Checkpoint/resume + lineage tests (north_rule: resumable from checkpoint
with per-partition lineage + metrics; BASELINE.md target: rerun after kill =
identical clusters)."""

import shutil

import pyspark.sql.functions as F
import pytest

from ditto_spark.checkpoint import StageStore, dedup_transcripts_checkpointed


def _cluster_sig(df):
    """Order-independent content signature of (conv_id, cluster_id)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("conv_id", "cluster_id")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def test_checkpoint_resume_identical_clusters(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "ckpt")
    s1 = StageStore(spark, root, "runA")
    r1 = dedup_transcripts_checkpointed(spark, tiny_transcripts, s1)
    sig1 = _cluster_sig(r1.clusters)
    stages1 = {rec["stage"]: rec for rec in s1.lineage()}
    assert set(stages1) == {"serialized", "candidates", "scored", "matches", "clusters"}
    assert not any(rec["resumed"] for rec in stages1.values())
    # per-partition metrics recorded and consistent with totals
    for rec in stages1.values():
        assert rec["rows"] == sum(rec["per_partition"].values())
        assert rec["partitions"] >= 1

    # simulate a crash after `scored`: downstream outputs lost
    shutil.rmtree(f"{root}/runA/matches")
    shutil.rmtree(f"{root}/runA/clusters")
    s2 = StageStore(spark, root, "runA")
    r2 = dedup_transcripts_checkpointed(spark, tiny_transcripts, s2)
    assert _cluster_sig(r2.clusters) == sig1
    resumed = {rec["stage"]: rec["resumed"] for rec in s2.records}
    assert resumed == {
        "serialized": True, "candidates": True, "scored": True,
        "matches": False, "clusters": False,
    }


def test_checkpoint_full_rerun_all_resumed(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "ckpt2")
    s1 = StageStore(spark, root, "runB")
    r1 = dedup_transcripts_checkpointed(spark, tiny_transcripts, s1)
    sig1 = _cluster_sig(r1.clusters)
    s2 = StageStore(spark, root, "runB")
    r2 = dedup_transcripts_checkpointed(spark, tiny_transcripts, s2)
    assert all(rec["resumed"] for rec in s2.records)
    assert _cluster_sig(r2.clusters) == sig1


def test_checkpoint_refuses_stale_config_resume(spark, tiny_transcripts, tmp_path):
    """Rerunning the same root/run_id with a DIFFERENT PipelineConfig (e.g.
    a new tau) must refuse to reuse checkpoints computed under the old
    config instead of silently resuming them."""
    from ditto_spark.pipeline import PipelineConfig

    root = str(tmp_path / "ckpt4")
    s1 = StageStore(spark, root, "runD")
    dedup_transcripts_checkpointed(spark, tiny_transcripts, s1, PipelineConfig(tau=0.5))
    assert s1.config_hash is not None
    assert all(rec.get("config_hash") == s1.config_hash for rec in s1.records)

    s2 = StageStore(spark, root, "runD")
    with pytest.raises(ValueError, match="config hash"):
        dedup_transcripts_checkpointed(
            spark, tiny_transcripts, s2, PipelineConfig(tau=0.9)
        )

    # same config → resume still works
    s3 = StageStore(spark, root, "runD")
    r3 = dedup_transcripts_checkpointed(
        spark, tiny_transcripts, s3, PipelineConfig(tau=0.5)
    )
    assert all(rec["resumed"] for rec in s3.records)
    assert r3.clusters.count() > 0


@pytest.mark.parametrize("arrow", [True, False], ids=["arrow_scorer", "jvm_scorer"])
def test_checkpoint_matches_unchechpointed_pipeline(
    spark, tiny_transcripts, tmp_path, arrow
):
    from ditto_spark.pipeline import PipelineConfig, dedup_transcripts

    cfg = PipelineConfig(use_arrow_udf_scorer=arrow)
    s = StageStore(spark, str(tmp_path / "ckpt3"), "runC")
    ck = dedup_transcripts_checkpointed(spark, tiny_transcripts, s, cfg)
    direct = dedup_transcripts(tiny_transcripts, cfg)
    assert _cluster_sig(ck.clusters) == _cluster_sig(direct.clusters)


def test_checkpoint_refuses_unhashed_preexisting_run(spark, tiny_transcripts, tmp_path):
    """A run dir with committed stages but no _config_hash (written before
    the guard existed) must be refused, not silently adopted."""
    import os

    from ditto_spark.pipeline import PipelineConfig

    root = str(tmp_path / "ckpt5")
    s1 = StageStore(spark, root, "runE")
    dedup_transcripts_checkpointed(spark, tiny_transcripts, s1, PipelineConfig())
    os.remove(os.path.join(root, "runE", "_config_hash"))  # simulate pre-guard dir
    with pytest.raises(ValueError, match="no _config_hash"):
        dedup_transcripts_checkpointed(
            spark, tiny_transcripts, StageStore(spark, root, "runE"), PipelineConfig()
        )
