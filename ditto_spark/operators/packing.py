"""Sequence packing for LLM pretraining — concat-then-cut chunking.

The standard pretraining data layout: documents are concatenated in a
deterministic global order and cut into fixed `budget`-token chunks
("packs"); a document straddling a boundary contributes a slice to each
overlapping pack. Output is the doc→pack assignment with the doc-relative
token slice, ready for a downstream tokenizer/writer to materialize packs.

Not in the reference (its datasets are pair files, /root/reference/
ditto_light/dataset.py); this is part of the training-data-pipeline tier
the build brief asks for beyond reference parity.

Scale design — the operator is a GLOBAL prefix sum, which naive window code
(`Window.orderBy(...)` with no partitionBy) computes by dragging the whole
corpus into ONE partition. Here it is the classic two-phase distributed
scan instead:

  1. range-repartition + sort by `id_col` (range boundaries are Spark's
     sampled global sort — the only wide exchange);
  2. per-partition token sums (one tiny row per partition) collected and
     turned into per-partition START OFFSETS on the driver — O(partitions)
     driver work, broadcast back as a literal map;
  3. the cumulative sum inside each partition is a partition-local
     Arrow-batched cumsum (mapInPandas, vectorized, state carried across
     batches of one partition) — NO further exchange. (A
     Window.partitionBy(pid) formulation computes the same values but
     Catalyst cannot see that the range partitioning already clusters
     pid, so it inserts a second corpus-wide hash exchange — measured in
     the executed plan.)

So the whole operator costs one range shuffle + one O(partitions) collect,
and every partition computes its absolute token offsets independently.
The sized (id, n_tok) projection is persisted only between the offset
collect and the span materialization (eager local checkpoint), then
unpersisted — nothing is pinned in executor storage after the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def token_counts(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tok"
) -> DataFrame:
    """Whitespace token count (same tokenizer as token_stats/quality ops)."""
    return df.withColumn(
        out_col,
        F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")),
    )


def pack_pretraining_chunks(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tok_col: str | None = None,
) -> DataFrame:
    """(id, text|n_tok) → (id, pack_id, tok_from, tok_to): for every pack a
    document overlaps, the doc-relative half-open token slice [tok_from,
    tok_to) it contributes. Global order is `id_col` ascending; packs are
    exactly `budget` tokens (the last may be short). Zero-token documents
    are dropped (they contribute nothing to any pack).

    Deterministic and engine-portable: the DuckDB oracle replicates it
    with a plain window cumsum + generate_series (fine single-node; the
    two-phase scan here is what survives the same computation at 10^12
    rows)."""

    if n_tok_col:
        sized = docs.select(F.col(id_col), F.col(n_tok_col).alias("n_tok"))
    else:
        sized = token_counts(docs.select(id_col, text_col), text_col).select(
            id_col, "n_tok"
        )
    sized = sized.where(F.col("n_tok") > 0).withColumn(
        "n_tok", F.col("n_tok").cast("long")
    )
    n_parts = sized.sparkSession.sparkContext.defaultParallelism * 2
    by_range = sized.repartitionByRange(n_parts, F.col(id_col)).sortWithinPartitions(
        id_col
    ).withColumn("pid", F.spark_partition_id())
    by_range = by_range.persist()
    # phase 2: one tiny row per partition → absolute start offset per pid
    psums = {
        r["pid"]: r["s"]
        for r in by_range.groupBy("pid").agg(F.sum("n_tok").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(psums):
        offsets[pid] = acc
        acc += psums[pid]
    # phase 3: partition-local cumsum, Arrow-batched, zero exchange. The
    # batches of one partition arrive in sortWithinPartitions order; the
    # running sum carries across them. (Window.partitionBy("pid") computes
    # the same values but inserts Exchange hashpartitioning(pid) — Catalyst
    # does not recognize the range partitioning as clustering the derived
    # pid column.)
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = next(f for f in by_range.schema.fields if f.name == id_col)
    span_schema = StructType(
        [id_field, StructField("n_tok", LongType()), StructField("start", LongType())]
    )
    offs = dict(offsets)

    def _local_cumsum(batches):
        carry = 0
        off = 0
        seen_first = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not seen_first:
                off = int(offs.get(int(pdf["pid"].iloc[0]), 0))
                seen_first = True
            n = pdf["n_tok"].astype("int64")
            cs = n.cumsum() + carry
            carry = int(cs.iloc[-1])
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_tok": n, "start": off + cs - n}
            )

    # Eager local checkpoint bounds the persist lifecycle: spans (same row
    # count as sized, 3 narrow columns) is materialized once, after which
    # the persisted range-partitioned corpus is released. On a cluster this
    # is the stage table a StageStore checkpoint would hold.
    spans = by_range.mapInPandas(_local_cumsum, schema=span_schema).localCheckpoint(
        eager=True
    )
    by_range.unpersist()
    # explode over the packs the doc overlaps; slice is doc-relative
    first_pack = (F.col("start") / budget).cast("long")
    last_pack = ((F.col("start") + F.col("n_tok") - 1) / budget).cast("long")
    out = spans.select(
        id_col,
        "n_tok",
        "start",
        F.explode(F.sequence(first_pack, last_pack)).alias("pack_id"),
    )
    tok_from = F.greatest(F.col("pack_id") * budget, F.col("start")) - F.col("start")
    tok_to = (
        F.least((F.col("pack_id") + 1) * budget, F.col("start") + F.col("n_tok"))
        - F.col("start")
    )
    return out.select(
        id_col,
        "pack_id",
        tok_from.cast("long").alias("tok_from"),
        tok_to.cast("long").alias("tok_to"),
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 17,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id fraction —
    the split every curation pipeline needs before packing: stable under
    reruns, insertions, and repartitioning (a row's split depends only on
    its id and the seed, never on row order or corpus size — random()
    splits are none of those things).

    u(id) = int(md5(seed || ':' || id)[:8 hex], 16) / 2^32 ∈ [0, 1);
    buckets are cumulative-weight intervals in the given dict order.
    md5 keeps it engine-portable: the DuckDB oracle reproduces the exact
    assignment, so the split itself is hash-checkable, not just its
    sizes. Weights must sum to 1 (validated)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col))), 1, 8),
            16, 10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        case = F.when(u < acc, F.lit(name))
        expr = case if expr is None else expr.when(u < acc, F.lit(name))
    expr = (
        expr.otherwise(F.lit(names[-1])) if expr is not None else F.lit(names[-1])
    )
    return df.withColumn(out_col, expr)
