"""Pieces shared by the timed and the traced run: workload table, session
environment, corpus generation, the pipeline calls being timed, and the
correctness checks on their output."""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile
import time

# Corpus per workload: a background of `n_base` seeded base conversations
# with their planted duplicates (generate_transcripts, no hot template),
# plus exactly `hot_convs` near-copies of one hot template
# (generate_transcripts with hot_template_frac=1 and no duplicates), which
# all belong to one planted cluster. `pass_s` is the wall time of one
# steady pipeline pass on an unloaded 4-core box; the timed phase runs
# round(--seconds / pass_s) passes.
WORKLOADS = {
    # production shape: many small duplicate groups, one modest hot group
    "batch_dedup": {"n_base": 400, "hot_convs": 18, "pass_s": 7.0},
    # the hot group fills LSH buckets past max_bucket=200
    "hot_skew": {"n_base": 80, "hot_convs": 240, "pass_s": 9.0},
}
DRIVER_MEMORY = "2g"
F1_FLOOR = 0.99
RESUME_LOST_STAGES = ("scored", "matches", "clusters")
# Generator seed of the hot template, the same for every benchmark seed.
# The template's length (3-12 turns of 6-17 tokens) sets the text length of
# every hot conversation, so left to the seed it alone would move `hot_skew`
# run time by about 30% between seeds. Seed 81 gives a template of median
# size among generator seeds 1-200: 7 turns, 500 characters.
HOT_TEMPLATE_SEED = 81


class CheckFailed(Exception):
    """A pipeline output failed the benchmark's correctness check."""


# ---------------------------------------------------------------- session


def spark_env(work: str) -> tuple[str, dict[str, str]]:
    """Pin every scratch location inside `work` and return the local dir and
    the session conf the benchmark adds to `get_spark`'s defaults: a driver
    heap sized for a 4-core, 16 GB box instead of the 64g default,
    committed up front, and the JVM temp dir.
    Spark honours SPARK_LOCAL_DIRS over spark.local.dir while the package
    reads DITTO_SPARK_LOCAL_DIR, so both point at the same directory."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["DITTO_SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers run the driver's interpreter, and the launcher JVM that
    # spark-submit starts writes nothing outside `work` either.
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # -Xms = -Xmx with pre-touch: the heap is resident from JVM start, so
    # peak RSS does not depend on when GC happened to grow the heap, and no
    # timed run pays lazy page commit (about 1 s per GB on a 4-core VM).
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    return local, conf


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------- corpus


def background_seed(seed: int) -> int:
    """Generator seed of the background corpus for benchmark seed `seed`,
    which may be any integer. It is below 2**31, since the generator seeds
    numpy RandomState with it (after an xor or a multiply-and-modulo) and that takes
    32 bits."""
    return random.Random(seed).randrange(2**31 - 1)


def write_corpus(spark, workload: str, seed: int, path: str) -> int:
    """Generate the workload's corpus into parquet; return its turn count."""
    from ditto_spark.synth import generate_transcripts

    params = WORKLOADS[workload]
    background = generate_transcripts(
        spark, n_base=params["n_base"], seed=background_seed(seed)
    )
    hot = generate_transcripts(
        spark,
        n_base=params["hot_convs"],
        seed=HOT_TEMPLATE_SEED,
        dup_prob=0.0,
        hot_template_frac=1.0,
    )
    background.unionByName(hot).write.parquet(path)
    return spark.read.parquet(path).count()


def corpus_truth(spark, path: str):
    """Planted clusters of the corpus (`synth.golden_clusters`) as a
    conv_id-indexed Series of cluster ids."""
    from ditto_spark.synth import golden_clusters

    truth = golden_clusters(spark.read.parquet(path)).toPandas()
    return truth.set_index("conv_id")["cluster_id"].sort_index()


def collect_clusters(clusters_df):
    """(conv_id, cluster_id) DataFrame → conv_id-indexed Series; raises
    CheckFailed when a conv_id is assigned more than once."""
    pdf = clusters_df.select("conv_id", "cluster_id").toPandas()
    if pdf["conv_id"].duplicated().any():
        raise CheckFailed("a conv_id was assigned to more than one cluster")
    return pdf.set_index("conv_id")["cluster_id"].sort_index()


def pairwise_f1(pred, truth) -> float:
    """Pairwise F1 from the contingency table, the same formula as
    `evaluate.cluster_pairwise_f1` (pairs never materialised)."""
    import pandas as pd

    df = pd.DataFrame({"pc": pred, "tc": truth})

    def pairs(*keys: str) -> int:
        n = df.groupby(list(keys)).size().to_numpy().astype("int64")
        return int((n * (n - 1) // 2).sum())

    tp = pairs("pc", "tc")
    fp, fn = pairs("pc") - tp, pairs("tc") - tp
    return 2.0 * tp / max(2 * tp + fp + fn, 1)


def check_clusters(pred, truth) -> float:
    """Coverage (every input conv_id exactly once) and F1 floor; returns F1."""
    if not pred.index.equals(truth.index):
        raise CheckFailed(
            f"clusters cover {len(pred)} conv_ids, the corpus has {len(truth)}"
        )
    f1 = pairwise_f1(pred, truth)
    if f1 < F1_FLOOR:
        raise CheckFailed(f"pairwise F1 {f1:.6f} < {F1_FLOOR}")
    return f1


def same_clusters(a, b, what: str) -> None:
    if not a.equals(b):
        raise CheckFailed(f"{what}: cluster assignments differ")


# ---------------------------------------------------------------- runs


def run_plain(spark, corpus: str):
    """One flagship run: parquet scan → materialised clusters. Returns
    (seconds, clusters DataFrame still cached)."""
    from ditto_spark.pipeline import PipelineConfig, dedup_transcripts

    t0 = time.perf_counter()
    res = dedup_transcripts(spark.read.parquet(corpus), PipelineConfig())
    clusters = res.clusters.persist()
    clusters.count()
    return time.perf_counter() - t0, clusters


def run_checkpointed(spark, corpus: str, store):
    """Checkpointed run into a StageStore; committed stages are reused.
    Returns (seconds, clusters read back from the stage table)."""
    from ditto_spark.checkpoint import dedup_transcripts_checkpointed

    t0 = time.perf_counter()
    res = dedup_transcripts_checkpointed(spark, spark.read.parquet(corpus), store)
    return time.perf_counter() - t0, res.clusters


def drop_post_blocking_stages(store) -> None:
    for stage in RESUME_LOST_STAGES:
        shutil.rmtree(os.path.join(store.root, store.run_id, stage))
