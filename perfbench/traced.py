"""Traced run: the flagship re-composed from the public stage functions,
with a span and a persist+count at every layer boundary, then a traced
checkpointed run that loses its post-blocking stages and resumes.

Spark is lazy, so a span around a call only measures the call if the call's
output is forced inside it; every boundary here is forced, and the spans
(parent-linked, one run id per pass) and counts stay in memory until the
end. Stages from Spark's event log are attributed to the innermost span
open at their submission. End-to-end metrics never come from this mode; it
reports per-layer self time and the tracing overhead (traced total minus
the untraced median wall time of the same process)."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

import pyspark.sql.functions as F

import eventlog
import harness
import measure
from ditto_spark.checkpoint import StageStore

LAYERS = ("serialize", "blocking", "scoring", "cluster")
STAGE_LAYER = {
    "serialized": "serialize",
    "candidates": "blocking",
    "scored": "scoring",
    "matches": "scoring",
    "clusters": "cluster",
}
CALIBRATION_PAIRS = 2048


def eventlog_conf(evdir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _force(df):
    df = df.persist()
    return df, df.count()


def traced_pipeline(spark, transcripts, cfg, tr: measure.Tracer):
    """pipeline.dedup_transcripts, stage by stage, each stage forced inside
    its span. Returns the persisted frames the counts are taken from."""
    from ditto_spark.operators.blocking import (
        candidates_from_bands,
        estimated_jaccard,
        lsh_bands,
        minhash_signatures,
        shingle,
        tokenize,
    )
    from ditto_spark.operators.cluster import assign_clusters, connected_components
    from ditto_spark.operators.scoring import (
        apply_threshold,
        attach_pair_text,
        score_pairs,
        score_pairs_builtin,
    )
    from ditto_spark.operators.serialize import serialize_conversations

    f = {}
    with tr.span("pipeline"):
        with tr.span("serialize"):
            f["serialized"], n = _force(serialize_conversations(transcripts))
            tr.count("serialize.entities_out", n)
        with tr.span("blocking"):
            with tr.span("blocking.signature"):
                shingled = shingle(
                    tokenize(f["serialized"], "block_text"), cfg.shingle_n
                )
                f["sig"], _ = _force(
                    minhash_signatures(shingled, "conv_id", num_perm=cfg.num_perm)
                )
            with tr.span("blocking.band_join"):
                f["bands"] = lsh_bands(
                    f["sig"], "conv_id", cfg.num_bands, cfg.rows_per_band
                )
                f["band_pairs"], n = _force(
                    candidates_from_bands(f["bands"], "conv_id", cfg.max_bucket)
                )
                tr.count("blocking.band_pairs", n)
            with tr.span("blocking.jaccard"):
                cands = estimated_jaccard(f["band_pairs"], f["sig"], "conv_id")
                if cfg.lsh_prefilter is not None:
                    cands = cands.where(F.col("est_jaccard") >= cfg.lsh_prefilter)
                f["candidates"], n = _force(cands)
                tr.count("blocking.candidates", n)
        with tr.span("scoring"):
            with tr.span("scoring.attach"):
                with_text = attach_pair_text(f["candidates"], f["serialized"])
                if cfg.use_arrow_udf_scorer:
                    parts = cfg.repartition_pairs or 2 * int(
                        spark.sparkContext.defaultParallelism
                    )
                    with_text = with_text.repartition(parts)
                f["with_text"], _ = _force(with_text)
            with tr.span("scoring.score"):
                scorer = score_pairs if cfg.use_arrow_udf_scorer else score_pairs_builtin
                f["scored"], n = _force(scorer(f["with_text"]))
                tr.count("scoring.pairs_scored", n)
                f["matches"], n = _force(
                    apply_threshold(f["scored"], cfg.tau).where(F.col("match") == 1)
                )
                tr.count("cluster.edges_in", n)
        with tr.span("cluster"):
            f["clusters"], n = _force(
                assign_clusters(
                    f["serialized"],
                    f["matches"].select("left_id", "right_id"),
                    assume_unique=True,
                )
            )
            tr.count("cluster.rounds", connected_components.last_rounds or 0)
    return f


def layer_counts(spark, f: dict, truth, tr: measure.Tracer) -> None:
    """Counts that need their own jobs, taken after the traced pass so they
    add nothing to its spans."""
    import pandas as pd

    c = tr.counts
    c["blocking.keep_ratio"] = c["blocking.candidates"] / max(c["blocking.band_pairs"], 1)
    c["scoring.accept_ratio"] = c["cluster.edges_in"] / max(c["scoring.pairs_scored"], 1)
    c["blocking.max_bucket"] = (
        f["bands"].groupBy("band_idx", "band_key").count().agg(F.max("count")).collect()[0][0]
    )
    sizes = f["clusters"].groupBy("cluster_id").count()
    row = sizes.agg(F.count(F.lit(1)), F.max("count")).collect()[0]
    c["cluster.clusters_out"], c["cluster.largest_cluster"] = row[0], row[1]
    # pair completeness: planted duplicate pairs that survive blocking
    truth_pdf = pd.DataFrame({"conv_id": truth.index, "tc": truth.to_numpy()})
    tdf = spark.createDataFrame(truth_pdf)
    kept = (
        f["candidates"].select("left_id", "right_id")
        .join(tdf.withColumnsRenamed({"conv_id": "left_id", "tc": "lt"}), "left_id")
        .join(tdf.withColumnsRenamed({"conv_id": "right_id", "tc": "rt"}), "right_id")
        .where(F.col("lt") == F.col("rt"))
        .count()
    )
    n = truth.groupby(truth).size().to_numpy().astype("int64")
    c["blocking.pair_completeness"] = kept / max(int((n * (n - 1) // 2).sum()), 1)


@dataclass
class TracedStageStore(StageStore):
    """A StageStore whose `materialize` forces each stage's computation in
    a span named after its layer, then times the checkpoint write (or the
    resume read) in a span of its own."""

    tracer: measure.Tracer | None = None

    def materialize(self, stage, df_or_thunk, inputs=None):
        tr = self.tracer
        if self.exists(stage):
            with tr.span("checkpoint.read"):
                return super().materialize(stage, df_or_thunk, inputs)
        with tr.span(STAGE_LAYER[stage]):
            df = df_or_thunk() if callable(df_or_thunk) else df_or_thunk
            df, _ = _force(df)
        with tr.span("checkpoint.write"):
            return super().materialize(stage, df, inputs)


def same_f1(spark, clusters, corpus: str, pred, truth) -> None:
    """The benchmark's pandas F1 must equal the library's evaluator."""
    from ditto_spark.operators.evaluate import cluster_pairwise_f1
    from ditto_spark.synth import golden_clusters

    truth_df = golden_clusters(spark.read.parquet(corpus))
    lib = cluster_pairwise_f1(clusters, truth_df).collect()[0]["f1"]
    own = harness.pairwise_f1(pred, truth)
    if abs(lib - own) > 1e-12:
        raise harness.CheckFailed(f"pairwise F1: evaluate {lib} vs benchmark {own}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, name))
        for d, _, names in os.walk(path)
        for name in names
    )


def run(spark, args, work: str, evdir: str) -> dict:
    from ditto_spark.pipeline import PipelineConfig, calibrate_scorer_cost

    corpus = os.path.join(work, "corpus")
    n_turns = harness.write_corpus(spark, args.workload, args.seed, corpus)
    truth = harness.corpus_truth(spark, corpus)
    cfg = PipelineConfig()
    results: dict[str, bool] = {}

    def check(what: str, fn) -> None:
        try:
            fn()
            results[what] = True
        except harness.CheckFailed as e:
            print(f"check failed: {what}: {e}")
            results[what] = False

    # warm-up, then an untraced run: the reference clusters and the
    # untraced wall time the tracing overhead is measured against
    harness.run_plain(spark, corpus)
    spark.catalog.clearCache()
    untraced, clusters = harness.run_plain(spark, corpus)
    reference = harness.collect_clusters(clusters)
    check("untraced clusters", lambda: harness.check_clusters(reference, truth))
    check("pairwise F1 vs evaluate", lambda: same_f1(
        spark, clusters, corpus, reference, truth))
    spark.catalog.clearCache()

    tr = measure.Tracer(run_id="flagship")
    f = traced_pipeline(spark, spark.read.parquet(corpus), cfg, tr)
    pipeline_span = next(s for s in tr.spans if s.name == "pipeline")
    traced_clusters = harness.collect_clusters(f["clusters"])
    check("traced vs dedup_transcripts", lambda: harness.same_clusters(
        traced_clusters, reference, "re-composed pipeline vs dedup_transcripts"))
    tr.count("serialize.turns_in", n_turns)
    layer_counts(spark, f, truth, tr)
    kernel = [
        calibrate_scorer_cost(f["with_text"], n_sample=CALIBRATION_PAIRS) for _ in range(3)
    ]
    tr.count("scoring.kernel_us_per_pair", statistics.median(kernel) * 1e6)
    spark.catalog.clearCache()

    # checkpointed run, then lose the post-blocking stages and resume
    root = os.path.join(work, "stages")
    ck_fresh = measure.Tracer(run_id="checkpoint_fresh")
    store = TracedStageStore(spark, root, tracer=ck_fresh)
    with ck_fresh.span("pipeline"):
        _, clusters = harness.run_checkpointed(spark, corpus, store)
    fresh = harness.collect_clusters(clusters)
    check("checkpointed vs dedup_transcripts", lambda: harness.same_clusters(
        fresh, reference, "checkpointed run vs dedup_transcripts"))
    write_bytes = dir_bytes(os.path.join(root, store.run_id))
    spark.catalog.clearCache()
    harness.drop_post_blocking_stages(store)
    ck_resume = measure.Tracer(run_id="checkpoint_resume")
    store = TracedStageStore(spark, root, tracer=ck_resume)
    with ck_resume.span("pipeline"):
        _, clusters = harness.run_checkpointed(spark, corpus, store)
    resumed = harness.collect_clusters(clusters)
    check("resumed vs fresh", lambda: harness.same_clusters(
        resumed, fresh, "resumed run vs fresh checkpointed run"))

    harness.stop_spark(spark)  # flushes the event log
    window = eventlog.within(
        eventlog.stages(eventlog.read_events(eventlog.event_files(evdir))),
        pipeline_span.start,
        pipeline_span.end,
    )

    m = {}
    for layer in LAYERS:
        m[f"{layer}.busy_s"] = (tr.total(layer), "s")
        m[f"{layer}.self_s"] = (tr.total(layer, self_only=True), "s")
    for child in ("blocking.signature", "blocking.band_join", "blocking.jaccard",
                  "scoring.attach", "scoring.score"):
        m[f"{child}_s"] = (tr.total(child), "s")
    units = {"blocking.keep_ratio": "ratio", "blocking.pair_completeness": "ratio",
             "scoring.accept_ratio": "ratio", "scoring.kernel_us_per_pair": "us"}
    for name, value in tr.counts.items():
        m[name] = (value, units.get(name, "count"))
    for layer, mb in eventlog.shuffle_mb_by_layer(window, tr, LAYERS).items():
        m[f"{layer}.shuffle_mb"] = (mb, "MB")
    for name, value in eventlog.engine_totals(
        window, pipeline_span.start, pipeline_span.end
    ).items():
        m[name] = (value, "count" if name == "engine.stages" else
                   "MB" if name.endswith("_mb") else "s")
    corpus_bytes = dir_bytes(corpus)
    m["checkpoint.write_s"] = (ck_fresh.total("checkpoint.write"), "s")
    m["checkpoint.write_mb"] = (write_bytes / 1e6, "MB")
    m["checkpoint.write_amp"] = (write_bytes / corpus_bytes, "ratio")
    m["checkpoint.resume_s"] = (ck_resume.total("pipeline"), "s")
    m["checkpoint.resume_read_s"] = (ck_resume.total("checkpoint.read"), "s")
    m["checkpoint.stages_resumed"] = (
        sum(1 for s in ck_resume.spans if s.name == "checkpoint.read"), "count"
    )
    m["trace.total_s"] = (pipeline_span.duration, "s")
    m["trace.overhead_s"] = (pipeline_span.duration - untraced, "s")

    print(f"untraced run {untraced:.3f} s; traced pass "
          f"{pipeline_span.duration:.3f} s; {len(window)} Spark stages in it")
    for name in sorted(m):
        print(f"  {name:32s} {m[name][0]:14.4f} {m[name][1]}")
    failed = sum(not ok for ok in results.values())
    return {"correct": failed == 0, "attempted": len(results), "failed": failed,
            "metrics": m}
