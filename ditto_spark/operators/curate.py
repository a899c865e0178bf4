"""Composed training-corpus curation funnel — the end-to-end document
pipeline a 100 TB pretraining-data job runs, assembled from this repo's
already-plan-audited operators:

    quality gate (Gopher rules)            textprep.gopher_quality_filter
  → exact dedup (md5 fingerprint, min-id)  one fingerprint groupBy
  → near-dup dedup (rare-shingle Jaccard   blocking.block_exact_shingles
    ≥ τ → connected components →           + cluster.assign_clusters
    min-id representative)
  → benchmark decontamination              blocking.ngram_overlap_cross
    (GPT-3-style shared-n-gram rule)

Each stage consumes only the survivors of the previous one, so the output
is a per-document disposition — (doc_id, dropped_at) with dropped_at ∈
{quality, exact, near_dup, contaminated, kept} — exactly one row per input
document, which makes the whole funnel hash-checkable against a single
SQL oracle (the DuckDB replica composes the same four stages over the
same survivor sets; see __spark_entry__.q_doc_curation).

The reference has no corpus curation at all (its inputs are pre-curated
pair files); this is the training-data-pipeline layer SURVEY.md §2.8 and
the round briefs call for, composed rather than re-derived.

Scale shape (100 TB story = the union of the stages' individual stories):
  - quality: zero-shuffle codegen projection (textprep.py — measured
    0 Exchanges).
  - exact: ONE groupBy keyed on md5(text) — 32-byte keys, document bytes
    never ride the shuffle — plus an id-only anti-join back.
  - near-dup: the rare-shingle prefix-filter discipline (df ≤ max_df
    shingles only enter the self-join, so boilerplate n-grams never key
    it); CC runs on the match edges only (edges ≪ corpus) with the
    edge-sized loop partitioning of cluster.connected_components.
  - decontamination: train-side df pruning bounds the fan-out; the bench
    side is typically tiny (benchmarks, not corpora) and is never pruned,
    so a benchmark n-gram cannot be lost to train-side statistics.
  - the funnel bookkeeping is id-only anti-joins and one 5-row aggregate;
    no stage ever re-tokenizes a document another stage already dropped.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import (
    block_exact_shingles,
    content_tokens,
    ngram_overlap_cross,
    space_tokens,
)
from ditto_spark.operators.cluster import assign_clusters
from ditto_spark.operators.textprep import gopher_quality_filter

STAGES = ("quality", "exact", "near_dup", "contaminated")
# stage order when the chunk-level boilerplate stage is enabled
# (CurationConfig.chunk_tokens set): fuzzy boilerplate detection runs on
# exact-dedup survivors, BEFORE whole-document near-dup — a doc that is
# mostly shared window spans should be dropped for that reason, not
# accidentally absorbed into a near-dup cluster
CHUNK_STAGES = ("quality", "exact", "chunk_boiler", "near_dup", "contaminated")


@dataclass
class CurationConfig:
    # quality gate (pass-through to gopher_quality_filter; the remaining
    # Gopher thresholds keep that operator's defaults)
    min_words: int = 20
    min_stop_hits: int = 1
    # near-dup stage: pairs sharing ≥ min_common_shingles rare
    # (df ≤ max_shingle_df) token n-grams, exact Jaccard over the
    # rare-filtered shingle sets, edges at ≥ jaccard_threshold
    shingle_n: int = 3
    max_shingle_df: int = 50
    min_common_shingles: int = 2
    jaccard_threshold: float = 0.5
    # decontamination: drop survivors sharing ≥ decon_min_common distinct
    # n-grams with any benchmark document (train-side df pruning only)
    decon_shingle_n: int = 3
    decon_min_common: int = 2
    decon_max_train_df: int = 50
    # chunk-level boilerplate stage (round-4 verdict #3): when chunk_tokens
    # is set, exact-dedup survivors whose fraction of chunk windows with a
    # cross-document near-dup partner exceeds chunk_dup_max_frac are
    # dropped at 'chunk_boiler' (pairs from textprep.chunk_near_dup_pairs
    # — the salted xxhash production path — unless a pair_fn is injected;
    # the md5 oracle twin injects one)
    chunk_tokens: int | None = None
    chunk_dup_max_frac: float = 0.5


def _min_tokens(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Docs with ≥ n whitespace tokens — mirrors the oracle's
    `WHERE len(l) >= n` shingle gate (shingle() would otherwise emit a
    whole-stream shingle for shorter docs, which the SQL replica never
    sees)."""
    toks = space_tokens(F.col(text_col))
    return df.where(F.size(toks) >= n)


def _near_dup_edges(
    docs: DataFrame, id_col: str, text_col: str, cfg: CurationConfig
) -> DataFrame:
    """(left_id, right_id) pairs with exact Jaccard ≥ threshold over
    rare-filtered distinct token shingles: blocking.block_exact_shingles
    (drop_frequent_keys + shared_key_pairs), the SQL-portable exact twin
    of the LSH blocker, plus the Jaccard cut the curation decision needs."""
    return (
        block_exact_shingles(
            _min_tokens(docs, text_col, cfg.shingle_n),
            id_col=id_col,
            text_col=text_col,
            shingle_n=cfg.shingle_n,
            min_common=cfg.min_common_shingles,
            max_shingle_df=cfg.max_shingle_df,
        )
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("left_id", "right_id")
    )


def curate_documents(
    docs: DataFrame,
    bench: DataFrame | None = None,
    cfg: CurationConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_pair_fn=None,
) -> DataFrame:
    """Run the funnel; return exactly one row per input doc:
    (id_col, dropped_at) with dropped_at naming the FIRST stage that
    removed the document, or 'kept'. Stage semantics:

      quality       Gopher composite rule fails (gopher_quality_filter)
      exact         identical text to a lower-id survivor (md5 group)
      chunk_boiler  (only when cfg.chunk_tokens is set) more than
                    chunk_dup_max_frac of the doc's chunk windows have a
                    near-dup window in ANOTHER surviving document —
                    fuzzy-boilerplate-dominated documents
      near_dup      in a Jaccard-≥-τ connected component with a lower-id
                    survivor (the min-id cluster member is kept)
      contaminated  shares ≥ decon_min_common distinct n-grams with any
                    `bench` document (skipped when bench is None)

    chunk_pair_fn overrides the chunk-pair generator (signature:
    docs(id, text) → (left_doc, left_chunk, right_doc, right_chunk, ...)
    with STRING doc columns); it must chunk with the canonical
    lowercase-[a-z0-9]+ `chunk_tokens`-token windows, because the stage's
    per-doc window count uses that tokenization."""
    cfg = cfg or CurationConfig()

    qual = gopher_quality_filter(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_words=cfg.min_words,
        min_stop_hits=cfg.min_stop_hits,
    )
    q_keep = qual.where(F.col("keep") == 1).select(id_col)
    q_surv = docs.join(q_keep, id_col)

    # exact dedup: fingerprint groupBy (md5 keeps document bytes out of
    # the shuffle key — q_exact_dedup's discipline), min id canonical
    fp = q_surv.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min(id_col).alias("canonical_id"))
    e_keep = (
        fp.join(canon, "fp")
        .where(F.col(id_col) == F.col("canonical_id"))
        .select(id_col)
    )
    e_surv = q_surv.join(e_keep, id_col)

    # chunk-level boilerplate stage (optional): window near-dup pairs among
    # exact survivors → per-doc flagged-window fraction → drop rule
    cb_drop = None
    if cfg.chunk_tokens:
        if chunk_pair_fn is None:
            from ditto_spark.operators.textprep import chunk_near_dup_pairs

            def chunk_pair_fn(d):
                return chunk_near_dup_pairs(
                    d, id_col=id_col, text_col=text_col,
                    chunk_tokens=cfg.chunk_tokens,
                )

        pairs = chunk_pair_fn(e_surv.select(id_col, text_col))
        # both windows of a cross-doc pair are flagged; one explode reads
        # `pairs` once (a union of two selects plans the LSH subtree twice)
        flagged = (
            pairs.where(F.col("left_doc") != F.col("right_doc"))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("left_doc").alias("__doc"),
                            F.col("left_chunk").alias("__idx"),
                        ),
                        F.struct(
                            F.col("right_doc").alias("__doc"),
                            F.col("right_chunk").alias("__idx"),
                        ),
                    )
                ).alias("__w")
            )
            .select("__w.*")
            .distinct()
            .groupBy("__doc")
            .agg(F.count(F.lit(1)).alias("__flagged"))
        )
        ch_toks = content_tokens(F.col(text_col))
        ncs = e_surv.select(
            F.col(id_col),
            F.col(id_col).cast("string").alias("__doc"),
            F.ceil(F.size(ch_toks) / F.lit(int(cfg.chunk_tokens)))
            .cast("int")
            .alias("__nc"),
        )
        cb_drop = (
            ncs.join(flagged, "__doc")
            .where(
                F.col("__flagged")
                > F.lit(float(cfg.chunk_dup_max_frac)) * F.col("__nc")
            )
            .select(id_col)
        )
        cb_surv = e_surv.join(cb_drop, id_col, "left_anti")
    else:
        cb_surv = e_surv

    # near-dup: exact-Jaccard edges → CC; cluster_id is the component's
    # min id (connected_components' deterministic resolution), so the
    # representative test is simply doc_id == cluster_id
    edges = _near_dup_edges(cb_surv, id_col, text_col, cfg)
    clusters = assign_clusters(cb_surv, edges, id_col=id_col, assume_unique=True)
    nd_keep = clusters.where(F.col("cluster_id") == F.col(id_col)).select(id_col)
    nd_surv = cb_surv.join(nd_keep, id_col)

    drops = [
        docs.select(id_col)
        .join(q_keep, id_col, "left_anti")
        .withColumn("dropped_at", F.lit("quality")),
        q_surv.select(id_col)
        .join(e_keep, id_col, "left_anti")
        .withColumn("dropped_at", F.lit("exact")),
    ]
    if cb_drop is not None:
        drops.append(
            cb_drop.withColumn("dropped_at", F.lit("chunk_boiler"))
        )
    drops.append(
        cb_surv.select(id_col)
        .join(nd_keep, id_col, "left_anti")
        .withColumn("dropped_at", F.lit("near_dup"))
    )
    kept = nd_surv.select(id_col)
    if bench is not None:
        cont = (
            ngram_overlap_cross(
                _min_tokens(nd_surv, text_col, cfg.decon_shingle_n),
                _min_tokens(bench, text_col, cfg.decon_shingle_n),
                id_col=id_col,
                text_col=text_col,
                shingle_n=cfg.decon_shingle_n,
                min_common=cfg.decon_min_common,
                max_train_df=cfg.decon_max_train_df,
            )
            .select(F.col("train_id").alias(id_col))
            .distinct()
        )
        drops.append(cont.withColumn("dropped_at", F.lit("contaminated")))
        kept = kept.join(cont, id_col, "left_anti")

    out = drops[0]
    for d in drops[1:]:
        out = out.unionByName(d)
    return out.unionByName(kept.withColumn("dropped_at", F.lit("kept")))


def curation_funnel(
    annotated: DataFrame,
    id_col: str = "doc_id",
    stages: tuple = STAGES,
) -> DataFrame:
    """Stage-ordered funnel counts from a curate_documents output:
    (stage, dropped, remaining) — remaining = survivors after the stage
    ran, so the last row's remaining equals the kept count. One small
    aggregate over `annotated` (a row per stage, collected); stages that
    dropped nothing still appear with dropped = 0. Pass
    stages=CHUNK_STAGES for a run with the chunk_boiler stage enabled.

    Raises ValueError if `annotated` has a dropped_at value (other than
    'kept') missing from `stages`: its rows would vanish from the funnel
    and every later `remaining` would overstate the survivors."""
    counts = {
        r["dropped_at"]: r["n"]
        for r in annotated.groupBy("dropped_at")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    unknown = sorted(set(counts) - set(stages) - {"kept"})
    if unknown:
        raise ValueError(
            f"dropped_at values {unknown} are not in stages {tuple(stages)}"
        )
    remaining = sum(counts.values())
    rows = []
    for stage in stages:
        remaining -= counts.get(stage, 0)
        rows.append((stage, counts.get(stage, 0), remaining))
    return annotated.sparkSession.createDataFrame(
        rows, "stage string, dropped long, remaining long"
    )
