"""Privacy-preserving record linkage (PPRL) via Bloom-filter encodings —
Schnell, Bachteler & Reiher 2009 ("Privacy-preserving record linkage using
Bloom filters", BMC Med Inform Decis Mak 9:41), the standard cryptographic
long-term-key method: each identifier is reduced to padded character
q-grams, every gram sets k bit positions of an m-bit Bloom filter, and two
encodings are compared with the Dice coefficient 2|A∧B|/(|A|+|B|) — string
similarity survives the encoding while the cleartext never leaves its
source. Reference parity note: the reference repo has no PPRL path; this is
a north-rule extension of the matching family (same candidate-pair →
comparator → threshold shape as scoring.edit_similarity_pairs).

Spark-first design:
  - The encoding is a ZERO-SHUFFLE whole-stage-codegen projection: the
    q-gram list, the k md5-derived bit positions per gram, and the OR-fold
    into one BIGINT are a single nested `transform`/`aggregate` Catalyst
    expression (`bloom_expr`). m <= 62 keeps the filter in one sign-safe
    long, so encodings ride every downstream shuffle as 8 bytes.
  - Candidate generation is Bloom-bit-sampling LSH (Durham et al. 2012 /
    "blocking on encodings"): each of `bands` keys packs `bits_per_band`
    fixed bit positions of the filter into a small int; band keys feed the
    SAME salted band pairing the MinHash path uses
    (`blocking.candidates_from_bands`) — never an all-pairs join. Two
    records agreeing on any band's sampled bits collide; similar strings
    share most Bloom bits, so collision probability rises with Dice exactly
    like the MinHash banding curve.
  - The Dice verify is pure integer arithmetic on two longs
    (`bit_count(a & b)`), bit-for-bit reproducible cross-engine, which is
    what makes the DuckDB oracle exact (`bloom_sql` / `dice_sql` render the
    identical algorithm in portable SQL).

Band bit positions are md5-derived CONSTANTS computed driver-side
(`band_positions`) and inlined as literals into both engines' expressions —
no engine hash function is involved, so there is nothing to port.

At 100 TB: encode is embarrassingly parallel; the only wide ops are the
band pairing (salted, bucket-bounded) and the bare-id-pair dedup; the
verify joins 8-byte encodings, never cleartext.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def _padded(expr: str, q: int) -> str:
    """Spark SQL fragment: lowercase, strip non-alphanumerics, pad with '_'
    sentinels (standard PPRL padding so boundary grams are position-marked),
    rpad to >= q so the gram count is >= 1 in both engines."""
    s = f"lower(regexp_replace({expr}, '[^A-Za-z0-9]', ''))"
    # rpad TRUNCATES to the target length, so guard with greatest(): the
    # goal is only a length floor of q (gram count >= 1 in both engines).
    x = f"concat('_', {s}, '_')"
    return f"rpad({x}, greatest(length({x}), {q}), '_')"


def _padded_sql(expr: str) -> str:
    # DuckDB regexp_replace needs the 'g' flag for replace-all.
    s = f"lower(regexp_replace({expr}, '[^A-Za-z0-9]', '', 'g'))"
    return s


def bloom_expr(expr: str, q: int = 2, n_bits: int = 60, k: int = 2) -> Column:
    """m-bit Bloom encoding of a string SQL fragment as ONE BIGINT column —
    a pure Catalyst expression (transform + aggregate over the padded
    q-grams), zero shuffle, codegen end-to-end. Gram j's bit positions are
    `int(md5(gram || '|' || j)[:8], 16) % n_bits`. Null input -> null."""
    if not 1 <= n_bits <= 62:
        raise ValueError("n_bits must be in [1, 62] to fit a sign-safe long")
    p = _padded(expr, q)
    grams = (
        f"transform(sequence(1, length({p}) - {q - 1}), "
        f"i -> substr({p}, i, {q}))"
    )
    pos = (
        f"flatten(transform({grams}, g -> "
        f"transform(sequence(0, {k - 1}), j -> "
        f"cast(conv(substr(md5(concat(g, '|', cast(j as string))), 1, 8), "
        f"16, 10) as bigint) % {n_bits})))"
    )
    return F.expr(
        f"aggregate({pos}, 0L, (acc, x) -> acc | shiftleft(1L, cast(x as int)))"
    )


def bloom_sql(expr: str, q: int = 2, n_bits: int = 60, k: int = 2) -> str:
    """The identical encoding as portable DuckDB SQL (list_transform /
    list_reduce / '0x'-cast md5 — the same cross-engine conventions the
    MinHash and SimHash oracles use)."""
    s = _padded_sql(expr)
    x = f"('_' || {s} || '_')"
    # DuckDB rpad requires an INTEGER length (length() returns BIGINT).
    p = f"rpad({x}, greatest(length({x}), {q})::INT, '_')"
    grams = (
        f"list_transform(range(1, length({p}) - {q - 1} + 1), "
        f"i -> substr({p}, i, {q}))"
    )
    pos = (
        f"flatten(list_transform({grams}, g -> "
        f"list_transform(range(0, {k}), j -> "
        f"('0x' || substr(md5(g || '|' || j), 1, 8))::BIGINT % {n_bits})))"
    )
    return (
        f"list_reduce(list_prepend(0::BIGINT, {pos}), "
        f"(acc, x) -> acc | (1::BIGINT << x::INT))"
    )


def dice_expr(a: str, b: str) -> Column:
    """Dice coefficient of two BIGINT Bloom columns: 2|A∧B|/(|A|+|B|).
    Integer bit_counts + one IEEE division — bit-identical cross-engine."""
    return F.expr(dice_sql(a, b))


def dice_sql(a: str, b: str) -> str:
    # literal 2.0 parses as DECIMAL in both engines — cast to double so the
    # division is one IEEE op, bit-identical cross-engine.
    return (
        f"cast(2 * bit_count({a} & {b}) as double)"
        f" / (bit_count({a}) + bit_count({b}))"
    )


def band_positions(
    bands: int, bits_per_band: int, n_bits: int = 60, seed: int = 11
) -> list[list[int]]:
    """Fixed bit positions sampled per band — md5-derived constants computed
    DRIVER-SIDE and inlined as literals in both engines (no engine hash to
    port). Positions within a band are distinct (rejection scan over the
    md5 stream) so a band key carries bits_per_band independent bits."""
    out: list[list[int]] = []
    for b in range(bands):
        chosen: list[int] = []
        i = 0
        while len(chosen) < bits_per_band:
            h = hashlib.md5(f"pprl|{seed}|{b}|{i}".encode()).hexdigest()
            pos = int(h[:8], 16) % n_bits
            if pos not in chosen:
                chosen.append(pos)
            i += 1
        out.append(chosen)
    return out


def band_key_expr(bloom_col: str, positions: list[int]) -> Column:
    """Pack the sampled bits of one band into a small int key."""
    return F.expr(band_key_sql(bloom_col, positions))


def band_key_sql(bloom_col: str, positions: list[int]) -> str:
    parts = [
        f"((({bloom_col} >> {p}) & 1) << {i})" for i, p in enumerate(positions)
    ]
    return "(" + " | ".join(parts) + ")"


def pprl_bloom_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    q: int = 2,
    n_bits: int = 60,
    k: int = 2,
) -> DataFrame:
    """(id, bloom) — the encoded view that would cross the privacy boundary
    in a real PPRL exchange (cleartext dropped)."""
    return df.select(
        F.col(id_col),
        bloom_expr(text_col, q=q, n_bits=n_bits, k=k).alias("bloom"),
    ).where(F.col("bloom").isNotNull())


def pprl_dice_pairs(
    encoded: DataFrame,
    id_col: str = "id",
    bands: int = 8,
    bits_per_band: int = 6,
    n_bits: int = 60,
    min_dice: float = 0.7,
    max_bucket: int = 2000,
) -> DataFrame:
    """Bloom-bit-sampling LSH candidates -> exact Dice verify.

    Each record emits `bands` (band_idx, band_key) rows; candidates come
    from the salted band pairing (`blocking.candidates_from_bands` — the
    same bucket-bounded machinery as the MinHash path, so a hot key never
    produces an unbounded cell). Dedup runs on BARE id pairs; the 8-byte
    encodings join back once for the verify (the round-2-verdict discipline:
    payloads never ride the dedup shuffle).

    Returns (left_id, right_id, dice) with dice >= min_dice.
    """
    from ditto_spark.operators.blocking import candidates_from_bands

    pos = band_positions(bands, bits_per_band, n_bits=n_bits)
    keys = F.array(*[band_key_expr("bloom", p) for p in pos])
    bands_df = encoded.select(
        F.col(id_col), F.posexplode(keys).alias("band_idx", "band_key")
    )
    cand = candidates_from_bands(bands_df, id_col=id_col, max_bucket=max_bucket)
    a = encoded.select(F.col(id_col).alias("left_id"), F.col("bloom").alias("ba"))
    b = encoded.select(F.col(id_col).alias("right_id"), F.col("bloom").alias("bb"))
    return (
        cand.join(a, "left_id")
        .join(b, "right_id")
        .withColumn("dice", dice_expr("ba", "bb"))
        .where(F.col("dice") >= min_dice)
        .select("left_id", "right_id", "dice")
    )
