"""Sequence packing for LLM pretraining — concat-then-cut chunking.

The standard pretraining data layout: documents are concatenated in a
deterministic global order and cut into fixed `budget`-token chunks
("packs"); a document straddling a boundary contributes a slice to each
overlapping pack. Output is the doc→pack assignment with the doc-relative
token slice, ready for a downstream tokenizer/writer to materialize packs.

Not in the reference (its datasets are pair files, /root/reference/
ditto_light/dataset.py); this is part of the training-data-pipeline tier
the build brief asks for beyond reference parity.

Scale design: the operator is a GLOBAL prefix sum over `id_col`, computed
by `blocking.range_prefix_scan` (one range shuffle plus one O(partitions)
collect, no single-partition window). The span table is materialized by an
eager local checkpoint inside the scan, so nothing stays pinned in executor
storage after the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import range_prefix_scan, space_tokens


def token_counts(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tok"
) -> DataFrame:
    """Whitespace token count (same tokenizer as token_stats/quality ops)."""
    return df.withColumn(out_col, F.size(space_tokens(F.col(text_col))))


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
    # Eager local checkpoint inside the scan: the spans (same row count as
    # sized, 3 narrow columns) are materialized once, before the scan
    # releases its range-partitioned cache. On a cluster this is the stage
    # table a StageStore checkpoint would hold.
    with range_prefix_scan(sized, [id_col], ["n_tok"]) as scan:
        spans = scan.withColumnRenamed("cum_n_tok", "start").localCheckpoint(
            eager=True
        )
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
