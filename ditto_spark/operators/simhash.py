"""SimHash near-duplicate detection (training-data-pipeline extension; the
reference's blocking is dense-embedding (/root/reference/blocking/blocker.py)
— SimHash is the standard web-scale complement to MinHash for near-dedup).

64-bit SimHash over token counts, computed as a pure narrow projection:
per-token xxhash64 → per-bit ±count vote → sign bits. The per-bit fold is a
single `aggregate` over the token array with a 64-element accumulator —
zero shuffle, whole-stage codegen.

Candidate generation: split the 64-bit signature into `bands` contiguous
chunks (default 4×16 bits); by pigeonhole, any pair within Hamming distance
`bands-1` shares at least one chunk exactly → equi-join on (band_idx, chunk)
finds all such pairs, then the exact Hamming distance (bit_count of xor)
filters. Same salted-equi-join shape as MinHash-LSH blocking, so the same
skew story applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import content_tokens

SIG_BITS = 64


def md5_token_hash(t: F.Column) -> F.Column:
    """60-bit engine-portable token hash: first 15 hex chars of md5 parsed
    base-16 (DuckDB: ('0x' || substr(md5(t), 1, 15))::BIGINT). 15 hex digits
    keep the value positive in a signed long on both engines."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 11,
    bits: int = SIG_BITS,
    token_hash=None,
) -> DataFrame:
    """(id, text) → (id, simhash: bigint). sign-of-vote per bit over token
    multiset; deterministic in the token multiset (order-independent).

    token_hash: xxhash64 by default (production: fastest JVM hash); pass
    `md5_token_hash` with bits=60 for the engine-portable variant the DuckDB
    oracle replicates bit-for-bit."""
    toks = content_tokens(F.col(text_col))
    if token_hash is None:
        th = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    else:
        th = F.transform(toks, token_hash)
    SIG = bits
    zero = F.array_repeat(F.lit(0).cast("long"), SIG)
    # Shift amounts must be Python ints (shiftright takes no Column numBits),
    # so the per-bit array is a comprehension over range(SIG_BITS).
    # sig = Σ_{i: votes[i] > 0} 2^i, built in the aggregate's finish lambda so
    # the votes array is evaluated exactly once (a separate projection could
    # be re-inlined 64x by CollapseProject). Bit 63 = sign bit of the long.
    def _bit_lit(i: int) -> F.Column:
        return F.lit(1 << i if i < 63 else -(2**63)).cast("long")

    def _finish(votes: F.Column) -> F.Column:
        sig = F.lit(0).cast("long")
        for i in range(SIG):
            sig = sig.bitwiseOR(
                F.when(F.element_at(votes, i + 1) > 0, _bit_lit(i)).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return sig

    sig = F.aggregate(
        th,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long"))
                    for i in range(SIG)
                ]
            ),
            lambda a, bit: a + (bit * 2 - 1),
        ),
        _finish,
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def hamming_distance(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIG_BITS,
) -> DataFrame:
    """All pairs within `max_hamming` bit flips, provided
    max_hamming <= bands - 1 (pigeonhole guarantee — asserted). Equi-join on
    bits/bands-wide signature chunks, then exact Hamming verification."""
    assert max_hamming <= bands - 1, "pigeonhole guarantee needs max_hamming <= bands-1"
    assert bits % bands == 0
    width = bits // bands
    mask = (1 << width) - 1
    chunks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask).cast("long"))
                    .alias("chunk"),
                )
                for b in range(bands)
            ]
        )
    )
    banded = sig_df.select(id_col, "simhash", chunks.alias("c")).select(
        id_col, "simhash", F.col("c.band_idx").alias("band_idx"), F.col("c.chunk").alias("chunk")
    )
    l = banded.select(
        "band_idx", "chunk",
        F.col(id_col).alias("left_id"), F.col("simhash").alias("lsig"),
    )
    r = banded.select(
        "band_idx", "chunk",
        F.col(id_col).alias("right_id"), F.col("simhash").alias("rsig"),
    )
    return (
        l.join(r, ["band_idx", "chunk"])
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id", "right_id",
            hamming_distance(F.col("lsig"), F.col("rsig")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
