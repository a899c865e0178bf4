"""PPRL Bloom-filter linkage: encoding vs independent Python, Dice
properties, bit-sampling band recall, partition invariance."""

import hashlib

import pyspark.sql.functions as F

from ditto_spark.operators.pprl import (
    band_key_sql,
    band_positions,
    bloom_expr,
    dice_expr,
    pprl_bloom_encode,
    pprl_dice_pairs,
)


def _py_bloom(s: str, q: int = 2, n_bits: int = 60, k: int = 2) -> int:
    """Independent reimplementation of the encoding (hashlib, no Spark)."""
    norm = "".join(c for c in s.lower() if c.isalnum())
    p = "_" + norm + "_"
    p = p + "_" * max(0, q - len(p))
    grams = [p[i : i + q] for i in range(len(p) - q + 1)]
    bloom = 0
    for g in grams:
        for j in range(k):
            h = hashlib.md5(f"{g}|{j}".encode()).hexdigest()
            bloom |= 1 << (int(h[:8], 16) % n_bits)
    return bloom


def _py_dice(a: int, b: int) -> float:
    return 2.0 * bin(a & b).count("1") / (bin(a).count("1") + bin(b).count("1"))


def test_bloom_encoding_matches_independent_python(arrow_frame):
    words = ["jonathan", "Smith-Jones", "O'Neil 3rd", "a", ""]
    df = arrow_frame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["bloom"]
        for r in df.select("w", bloom_expr("w").alias("bloom")).collect()
    }
    for w in words:
        assert got[w] == _py_bloom(w), w


def test_dice_identity_and_variant_ordering(arrow_frame):
    base = arrow_frame(
        [("jonathan smith", "jonathan smith", "jonothan smith", "zebra quartz")],
        "a string, b string, c string, d string",
    )
    for c in ["a", "b", "c", "d"]:
        base = base.withColumn(c + "_b", bloom_expr(c))
    row = base.select(
        dice_expr("a_b", "b_b").alias("same"),
        dice_expr("a_b", "c_b").alias("variant"),
        dice_expr("a_b", "d_b").alias("unrelated"),
    ).collect()[0]
    assert row["same"] == 1.0
    assert row["variant"] > 0.8 > row["unrelated"]
    # cross-check one Dice value against the Python twin
    assert abs(
        row["variant"]
        - _py_dice(_py_bloom("jonathan smith"), _py_bloom("jonothan smith"))
    ) < 1e-12


def test_band_positions_distinct_and_deterministic():
    pos = band_positions(8, 6, n_bits=60)
    assert len(pos) == 8
    for band in pos:
        assert len(band) == len(set(band)) == 6
        assert all(0 <= p < 60 for p in band)
    assert pos == band_positions(8, 6, n_bits=60)
    # SQL rendering covers every sampled bit
    sql = band_key_sql("bloom", pos[0])
    for p in pos[0]:
        assert f">> {p}" in sql


def test_pprl_dice_pairs_finds_planted_variant(arrow_frame):
    rows = [
        (1, "jonathan smith"),
        (2, "jonothan smith"),  # planted spelling variant of 1
        (3, "margaret thatcher"),
        (4, "quentin zebra"),
        (5, "vladimir ulyanov"),
    ]
    df = arrow_frame(rows, "id int, name string")
    enc = pprl_bloom_encode(df, "id", "name")
    got = pprl_dice_pairs(enc, id_col="id", min_dice=0.7).collect()
    pairs = {(r["left_id"], r["right_id"]) for r in got}
    assert (1, 2) in pairs
    dice = {(r["left_id"], r["right_id"]): r["dice"] for r in got}
    assert dice[(1, 2)] > 0.8
    # unrelated names never reach the threshold
    assert all(p == (1, 2) for p in pairs)


def test_pprl_dice_pairs_partition_invariant(arrow_frame):
    rows = [(i, f"person number {i}") for i in range(40)] + [
        (100, "jonathan smith"),
        (101, "jonothan smith"),
    ]
    df = arrow_frame(rows, "id int, name string")
    a = pprl_dice_pairs(
        pprl_bloom_encode(df.repartition(1), "id", "name"), id_col="id"
    )
    b = pprl_dice_pairs(
        pprl_bloom_encode(df.repartition(16), "id", "name"), id_col="id"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
