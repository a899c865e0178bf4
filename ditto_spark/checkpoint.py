"""Stage checkpointing, lineage, and resume (north_rule: "checkpointed
per-partition ... with lineage and resumable on failure").

The reference's only persistence is ad-hoc file memoization — re-use a
`.su`/`.dk` transform output if the file exists and is non-empty
(/root/reference/ditto_light/summarize.py:129-135, knowledge.py:40-41) and a
pickled embedding cache (/root/reference/blocking/blocker.py:34-39). This
module is the cluster-grade version of that idea: every pipeline stage writes
a parquet table under `<root>/<run_id>/<stage>/` (Iceberg at real scale — the
sandbox has no Iceberg jars, parquet keeps identical semantics: atomic
directory commit via Spark's _SUCCESS marker), records lineage + per-partition
metrics, and a re-run skips any stage whose committed output already exists.

Per-partition metrics are collected DISTRIBUTED (groupBy(spark_partition_id))
— no collect of data rows, only the per-partition row counts, exactly what a
1000-executor run would ship to a metrics table.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ditto_spark.operators.serialize import serialize_conversations
from ditto_spark.pipeline import (
    PipelineConfig,
    PipelineResult,
    stage_candidates,
    stage_clusters,
    stage_matches,
    stage_pair_text,
    stage_scored,
)


def _success_marker(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


@dataclass
class StageStore:
    """Checkpoint store for one pipeline run.

    root/run_id/<stage>/          parquet output of the stage
    root/run_id/_lineage.jsonl    one record per materialized stage:
                                  {stage, inputs, rows, partitions, wall_sec,
                                   per_partition: {pid: rows}, resumed}
    """

    spark: SparkSession
    root: str
    run_id: str = "run0"
    config_hash: str | None = None
    records: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        # Resume safety: a rerun of the same root/run_id with a DIFFERENT
        # pipeline config (e.g. a new τ) must not silently reuse checkpoints
        # computed under the old config. The first run records its config
        # hash; a mismatching rerun is refused loudly.
        if self.config_hash is None:
            return
        path = os.path.join(self.root, self.run_id, "_config_hash")
        if os.path.exists(path):
            with open(path) as f:
                stored = f.read().strip()
            if stored != self.config_hash:
                raise ValueError(
                    f"StageStore {self.root}/{self.run_id} was written with "
                    f"config hash {stored}, current config hashes to "
                    f"{self.config_hash}: refusing to resume stale "
                    "checkpoints. Use a new run_id (or delete the run dir)."
                )
        else:
            # A run dir that already holds committed stages but has no
            # _config_hash predates this guard: its checkpoints' config is
            # unknowable, so adopting the new hash would silently bless
            # possibly-stale stages (round-2 advisor finding). Refuse.
            run_dir = os.path.join(self.root, self.run_id)
            committed = [
                d
                for d in (os.listdir(run_dir) if os.path.isdir(run_dir) else [])
                if os.path.exists(_success_marker(os.path.join(run_dir, d)))
            ]
            if committed:
                raise ValueError(
                    f"StageStore {run_dir} holds committed stages "
                    f"{sorted(committed)} but no _config_hash (written before "
                    "config-hash guarding): cannot verify they match the "
                    "current config. Use a new run_id (or delete the run dir)."
                )
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(self.config_hash)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, self.run_id, stage)

    def _lineage_path(self) -> str:
        return os.path.join(self.root, self.run_id, "_lineage.jsonl")

    def exists(self, stage: str) -> bool:
        return os.path.exists(_success_marker(self._dir(stage)))

    def _log(self, rec: dict) -> None:
        if self.config_hash is not None:
            rec = {**rec, "config_hash": self.config_hash}
        self.records.append(rec)
        os.makedirs(os.path.dirname(self._lineage_path()), exist_ok=True)
        with open(self._lineage_path(), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def materialize(
        self, stage: str, df_or_thunk, inputs: list[str] | None = None
    ) -> DataFrame:
        """Write `stage` once and read it back; skip the write (resume) if a
        committed output exists. `df_or_thunk` may be a DataFrame or a
        zero-arg callable returning one — pass a thunk when *constructing*
        the DataFrame is itself expensive (e.g. the connected-components
        loop runs eagerly), so resumed runs never pay for it.
        """
        path = self._dir(stage)
        if self.exists(stage):
            out = self.spark.read.parquet(path)
            self._log(
                {"stage": stage, "inputs": inputs or [], "resumed": True,
                 "rows": out.count(), "path": path}
            )
            return out
        df = df_or_thunk() if callable(df_or_thunk) else df_or_thunk
        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(path)
        wall = time.monotonic() - t0
        out = self.spark.read.parquet(path)
        per_part = {
            str(r["pid"]): r["n"]
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        self._log(
            {
                "stage": stage,
                "inputs": inputs or [],
                "resumed": False,
                "rows": int(sum(per_part.values())),
                "partitions": len(per_part),
                "per_partition": per_part,
                "wall_sec": round(wall, 3),
                "path": path,
            }
        )
        return out

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path()):
            return []
        with open(self._lineage_path()) as f:
            return [json.loads(l) for l in f if l.strip()]


def dedup_transcripts_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    store: StageStore,
    cfg=None,
):
    """Checkpointed flagship pipeline: every stage boundary is a parquet
    table; a rerun after a crash resumes from the last committed stage and
    produces byte-identical clusters (pytest asserts this). The stages are
    `pipeline.py`'s, so the checkpointed run computes what
    `dedup_transcripts` does.

    Stage graph (lineage recorded in _lineage.jsonl):
        transcripts → serialized → candidates → scored → matches → clusters
    """
    cfg = cfg or PipelineConfig()
    if store.config_hash is None:
        # bind the store to this config (refuses stale-resume on mismatch)
        store.config_hash = hashlib.md5(
            json.dumps(asdict(cfg), sort_keys=True, default=str).encode()
        ).hexdigest()
        store.__post_init__()
    serialized = store.materialize(
        "serialized", lambda: serialize_conversations(transcripts), ["transcripts"]
    )
    candidates = store.materialize(
        "candidates", lambda: stage_candidates(serialized, cfg), ["serialized"]
    )
    scored = store.materialize(
        "scored",
        lambda: stage_scored(stage_pair_text(candidates, serialized, cfg), cfg),
        ["candidates", "serialized"],
    )
    matches = store.materialize(
        "matches", lambda: stage_matches(scored, cfg), ["scored"]
    )
    clusters = store.materialize(
        "clusters",
        lambda: stage_clusters(serialized, matches),
        ["matches", "serialized"],
    )
    return PipelineResult(serialized, candidates, scored, matches, clusters)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    buckets: int,
) -> DataFrame:
    """Persist a stage as a BUCKETED table (hash-partitioned into fixed
    buckets on `key`, sorted within buckets) and return the re-read
    table. Two stages bucketed the same way join on the key with ZERO
    exchange (a bucket-local sort may remain when a bucket spans several
    files — cheap; the shuffle is the scale cost) — the co-located-join
    tool for stages that
    are joined repeatedly on the same key at 100 TB (e.g. candidates ⨝
    serialized text on conv_id across scorer re-runs): the shuffle is
    paid once at write, not on every downstream join (asserted by
    `tests/test_plans.py::test_bucketed_stage_join_is_exchange_free`).

    Sandbox note: Spark bucketing metadata lives in the session catalog
    (`saveAsTable`); with the default in-memory catalog the bucket info
    survives for the session, on a cluster the Hive/Iceberg catalog
    makes it durable. `path` keeps the data external so files land next
    to the other stage tables."""
    (
        df.repartition(buckets, key)
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    return df.sparkSession.table(table)
