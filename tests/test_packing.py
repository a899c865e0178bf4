"""Sequence packing: pack-size invariants, straddling slices, parity with a
driver-side reference scan, and the precomputed-count path."""

import pyspark.sql.functions as F

from ditto_spark.operators.packing import pack_pretraining_chunks, token_counts


def _ref_pack(docs: list[tuple[str, int]], budget: int):
    """Driver-side reference: (id, n_tok) sorted by id → expected rows."""
    out = []
    start = 0
    for doc_id, n in sorted(docs):
        if n <= 0:
            continue
        first, last = start // budget, (start + n - 1) // budget
        for p in range(first, last + 1):
            lo = max(p * budget, start) - start
            hi = min((p + 1) * budget, start + n) - start
            out.append((doc_id, p, lo, hi))
        start += n
    return sorted(out)


def test_pack_matches_reference_scan(spark):
    docs = [(f"d{i:03d}", (i * 37) % 90 + 1) for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id string, n_tok int")
    got = sorted(
        (r["doc_id"], r["pack_id"], r["tok_from"], r["tok_to"])
        for r in pack_pretraining_chunks(
            df, budget=64, n_tok_col="n_tok"
        ).collect()
    )
    assert got == _ref_pack(docs, 64)


def test_all_packs_full_except_last(spark):
    docs = [(f"d{i:03d}", 10 + i % 7) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id string, n_tok int")
    budget = 50
    rows = pack_pretraining_chunks(df, budget=budget, n_tok_col="n_tok").collect()
    per_pack = {}
    for r in rows:
        per_pack.setdefault(r["pack_id"], 0)
        per_pack[r["pack_id"]] += r["tok_to"] - r["tok_from"]
    last = max(per_pack)
    assert set(per_pack) == set(range(last + 1))  # contiguous ids
    for p, tot in per_pack.items():
        if p != last:
            assert tot == budget, (p, tot)
    assert 0 < per_pack[last] <= budget


def test_straddling_doc_sliced_across_packs(spark):
    df = spark.createDataFrame(
        [("a", 30), ("b", 100), ("c", 5)], "doc_id string, n_tok int"
    )
    rows = {
        (r["doc_id"], r["pack_id"]): (r["tok_from"], r["tok_to"])
        for r in pack_pretraining_chunks(df, budget=40, n_tok_col="n_tok").collect()
    }
    # b spans tokens [30, 130) → packs 0,1,2,3 with doc-relative slices
    assert rows[("a", 0)] == (0, 30)
    assert rows[("b", 0)] == (0, 10)
    assert rows[("b", 1)] == (10, 50)
    assert rows[("b", 2)] == (50, 90)
    assert rows[("b", 3)] == (90, 100)
    assert rows[("c", 3)] == (0, 5)


def test_text_path_counts_whitespace_tokens(spark):
    df = spark.createDataFrame(
        [("a", "one two  three"), ("b", ""), ("c", "x y")],
        "doc_id string, text string",
    )
    counted = {r["doc_id"]: r["n_tok"] for r in token_counts(df).collect()}
    assert counted == {"a": 3, "b": 0, "c": 2}
    rows = pack_pretraining_chunks(df, budget=4).collect()
    # b (zero tokens) dropped; a fills [0,3), c fills [3,4)+[0,1) of pack 1
    got = sorted((r["doc_id"], r["pack_id"], r["tok_from"], r["tok_to"]) for r in rows)
    assert got == [("a", 0, 0, 3), ("c", 0, 0, 1), ("c", 1, 1, 2)]


def test_hash_split_deterministic_and_stable(spark):
    from ditto_spark.operators.packing import hash_split

    df = spark.createDataFrame(
        [(f"doc{i}",) for i in range(2000)], "doc_id string"
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, w).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(7), w).collect()}
    assert a == b  # row-order / partitioning invariant
    # proportions close to weights
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    # stability under corpus growth: a subset's assignment never changes
    sub = {r["doc_id"]: r["split"] for r in hash_split(df.limit(500), w).collect()}
    assert all(a[k] == v for k, v in sub.items())


def test_hash_split_rejects_bad_weights(spark):
    import pytest
    from ditto_spark.operators.packing import hash_split

    df = spark.createDataFrame([("a",)], "doc_id string")
    with pytest.raises(ValueError):
        hash_split(df, {"train": 0.5, "val": 0.1})


def test_pack_phase3_adds_no_exchange(spark):
    """The partition-local cumsum must not reintroduce a corpus-wide hash
    exchange: the materialized span table is an eager local checkpoint, so
    the returned plan (explode over spans) contains ZERO Exchange nodes —
    the only wide exchange (the range shuffle) was paid before the
    checkpoint."""
    docs = spark.createDataFrame(
        [(f"d{i:03d}", 10 + i % 7) for i in range(50)], "doc_id string, nt int"
    )
    out = pack_pretraining_chunks(docs, budget=64, n_tok_col="nt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1200]


def test_pack_releases_its_cache_when_the_scan_fails(spark):
    """A token count that fails its cast inside the scan raises, and the
    range-partitioned cache is still released. The frame is list-built: a
    local relation would fold the cast at planning time and fail before
    anything is cached."""
    import pytest
    from pyspark.errors import PySparkException

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    docs = spark.createDataFrame([("a", "x"), ("b", "x")], "doc_id string, nt string")
    with pytest.raises(PySparkException, match="CAST_INVALID_INPUT"):
        pack_pretraining_chunks(docs, budget=4, n_tok_col="nt")
    assert cm.numCachedEntries() == before
