"""Blocking: shingling, minhash determinism, LSH recall on planted dupes,
salted hot buckets, top-k window, exact-shingle oracle variant."""

import pyspark.sql.functions as F
import pytest

from ditto_spark.operators.serialize import serialize_conversations
from ditto_spark.operators import blocking as B
from ditto_spark.synth import golden_clusters


def test_shingles(spark):
    df = spark.createDataFrame([("a", "The quick brown fox jumps")], "id string, entity_text string")
    out = B.shingle(B.tokenize(df), n=3).collect()[0]
    assert out["tokens"] == ["the", "quick", "brown", "fox", "jumps"]
    assert out["shingles"] == ["the quick brown", "quick brown fox", "brown fox jumps"]


def test_short_doc_shingle(spark):
    df = spark.createDataFrame([("a", "hi there")], "id string, entity_text string")
    out = B.shingle(B.tokenize(df), n=3).collect()[0]
    assert out["shingles"] == ["hi there"]


def test_minhash_identical_texts_same_sig(spark):
    df = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta"), ("b", "alpha beta gamma delta epsilon zeta")],
        "conv_id string, entity_text string",
    )
    sig = B.minhash_signatures(B.shingle(B.tokenize(df)), "conv_id", num_perm=16)
    rows = {r["conv_id"]: r["sig"] for r in sig.collect()}
    assert rows["a"] == rows["b"]
    assert len(rows["a"]) == 16


def test_lsh_recall_on_planted_dupes(spark, small_transcripts):
    ser = serialize_conversations(small_transcripts)
    pairs = B.block_minhash_lsh(ser, text_col="block_text").cache()
    truth = golden_clusters(small_transcripts)
    pos = (
        truth.alias("a")
        .join(truth.alias("b"), F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("left_id"), F.col("b.conv_id").alias("right_id")
        )
    )
    n_pos = pos.count()
    found = pos.join(pairs, ["left_id", "right_id"], "left_semi").count()
    recall = found / max(n_pos, 1)
    assert recall >= 0.95, f"LSH recall {recall} ({found}/{n_pos})"


def test_salting_bounds_bucket_pairs(spark):
    # 500 ids in ONE band bucket; max_bucket=50 → per-pair count far below 500²/2
    rows = [(f"id{i:04d}", 0, 123456789) for i in range(500)]
    bands = spark.createDataFrame(rows, "conv_id string, band_idx int, band_key long")
    pairs = B.candidates_from_bands(bands, max_bucket=50)
    n = pairs.count()
    full = 500 * 499 // 2
    assert 0 < n < full * 0.2, f"salting produced {n} vs full {full}"
    # all pairs ordered and distinct
    assert pairs.where(F.col("left_id") >= F.col("right_id")).count() == 0


def test_salted_band_pairs_match_bruteforce_cells(spark):
    """A 700-member bucket at max_bucket=200 splits into 4 salt cells; the
    pairs must be exactly the same-cell pairs, each once, ordered. A second
    band repeats part of the bucket (pairs met twice come out once), and a
    small bucket pairs in full."""
    from itertools import combinations

    hot = [f"h{i:04d}" for i in range(700)]
    small = ["s1", "s2", "s3"]
    rows = (
        [(i, 0, 11) for i in hot]
        + [(i, 1, 22) for i in hot[:150]]
        + [(i, 2, 33) for i in small]
    )
    bands = spark.createDataFrame(rows, "conv_id string, band_idx int, band_key long")
    got = [
        (r["left_id"], r["right_id"])
        for r in B.candidates_from_bands(bands, max_bucket=200).collect()
    ]
    salt = {
        r["conv_id"]: r["salt"]
        for r in spark.createDataFrame([(i,) for i in hot], "conv_id string")
        .withColumn("n_salts", B.salt_count(F.lit(700), 200))
        .select("conv_id", B.hashed_salt("conv_id").alias("salt"))
        .collect()
    }
    assert len(set(salt.values())) >= 3
    cells: dict = {}
    for i in hot:
        cells.setdefault(salt[i], []).append(i)
    want = {p for ids in cells.values() for p in combinations(sorted(ids), 2)}
    want |= set(combinations(hot[:150], 2)) | set(combinations(small, 2))
    assert len(got) == len(set(got))
    assert set(got) == want


def test_band_pairs_degenerate_input_under_ansi(spark):
    """No bands, only singleton buckets, and null ids: no error under ANSI
    mode, no pair with a null side, and null ids still count toward the
    bucket size."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    schema = "conv_id string, band_idx int, band_key long"
    try:
        empty = spark.createDataFrame([], schema)
        assert B.candidates_from_bands(empty).collect() == []
        singletons = spark.createDataFrame(
            [(f"a{i}", b, i) for i in range(5) for b in range(3)], schema
        )
        assert B.candidates_from_bands(singletons).collect() == []
        with_nulls = spark.createDataFrame(
            [(None, 0, 1), (None, 0, 1), ("x", 0, 1), ("y", 0, 1), (None, 1, 2)],
            schema,
        )
        assert [tuple(r) for r in B.candidates_from_bands(with_nulls).collect()] == [
            ("x", "y")
        ]
        # at max_bucket=2 the 4-row bucket splits into 2 cells, so x and y
        # pair only if they hash into the same one
        salts = (
            spark.createDataFrame([("x",), ("y",)], "conv_id string")
            .withColumn("n_salts", B.salt_count(F.lit(4), 2))
            .select(B.hashed_salt("conv_id").alias("salt"))
            .collect()
        )
        same_cell = salts[0]["salt"] == salts[1]["salt"]
        got = B.candidates_from_bands(with_nulls, max_bucket=2).collect()
        assert [tuple(r) for r in got] == ([("x", "y")] if same_cell else [])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_conf_bytes_reads_spark_size_strings():
    assert B._conf_bytes("10485760") == 10 * 1024 * 1024
    assert B._conf_bytes("10MB") == B._conf_bytes("10m") == 10 * 1024 * 1024
    assert B._conf_bytes("64k") == 64 * 1024
    assert B._conf_bytes("-1") == -1
    with pytest.raises(ValueError):
        B._conf_bytes("ten megabytes")


def test_topk_variant(spark, tiny_transcripts):
    ser = serialize_conversations(tiny_transcripts)
    pairs = B.block_minhash_lsh(ser, text_col="block_text", top_k=2)
    over = pairs.groupBy("right_id").count().where(F.col("count") > 2).count()
    assert over == 0


def test_exact_shingle_blocking(spark):
    df = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta"),
            ("b", "alpha beta gamma zeta"),
            ("c", "totally different words here"),
        ],
        "conv_id string, entity_text string",
    )
    out = B.block_exact_shingles(df, shingle_n=3)
    got = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert got == {("a", "b")}
    # 'beta gamma delta' is held by a alone: it pairs with nothing but
    # counts toward a's set size, so J = 1 / (2 + 2 - 1)
    assert [tuple(r) for r in out.collect()] == [("a", "b", 1, 2, 2, 1 / 3)]


def _keyed_rows(spark, rows):
    """(id, k, part) rows built through Arrow from pandas."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["id", "k", "part"])
    return spark.createDataFrame(pdf, "id long, k string, part int")


def test_drop_frequent_keys_boundary(spark):
    """max_df rows on a key are kept, max_df + 1 are dropped, one row
    passes; the key is every key column together."""
    rows = (
        [(i, "three", 0) for i in (1, 2, 3)]
        + [(i, "four", 0) for i in (4, 5, 6, 7)]
        + [(8, "one", 0)]
        # (four, 1) is its own key: 2 rows, kept
        + [(4, "four", 1), (5, "four", 1)]
    )
    got = B.drop_frequent_keys(_keyed_rows(spark, rows), ["k", "part"], 3)
    assert sorted(tuple(r) for r in got.select("id", "k", "part").collect()) == [
        (1, "three", 0), (2, "three", 0), (3, "three", 0),
        (4, "four", 1), (5, "four", 1), (8, "one", 0),
    ]


def test_shared_key_pairs_counts_each_pair_once(spark):
    """Each unordered pair once with left_id < right_id; n_shared counts
    the shared keys, and n_shared == min_shared is kept."""
    rows = [
        (3, "x", 0), (1, "x", 0), (2, "x", 0),
        (2, "y", 0), (1, "y", 0),
        (9, "solo", 0),
    ]
    keyed = _keyed_rows(spark, rows)
    got = sorted(tuple(r) for r in B.shared_key_pairs(keyed, "id", ["k"]).collect())
    assert got == [(1, 2, 2), (1, 3, 1), (2, 3, 1)]
    got = [tuple(r) for r in B.shared_key_pairs(keyed, "id", ["k"], 2).collect()]
    assert got == [(1, 2, 2)]


def test_shared_key_helpers_on_empty_input(spark):
    empty = _keyed_rows(spark, [])
    kept = B.drop_frequent_keys(empty, ["k"], 5)
    assert kept.count() == 0 and sorted(kept.columns) == ["id", "k", "part"]
    pairs = B.shared_key_pairs(kept, "id", ["k"])
    assert pairs.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in pairs.schema] == [
        ("left_id", "bigint"), ("right_id", "bigint"), ("n_shared", "bigint"),
    ]


def test_cross_table_blocking_recall_and_sides(spark, small_transcripts):
    # split the corpus by conv_id hash parity; cross blocking must find
    # every planted-duplicate pair that straddles the split (recall gate)
    # and must emit ONLY cross-table pairs
    ser = serialize_conversations(small_transcripts)
    side = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    a = ser.where(side == 0)
    b = ser.where(side == 1)
    pairs = B.block_minhash_lsh_cross(a, b, text_col="block_text").cache()
    a_ids = {r[0] for r in a.select("conv_id").collect()}
    b_ids = {r[0] for r in b.select("conv_id").collect()}
    got = pairs.select("left_id", "right_id").collect()
    assert got, "no cross candidates found"
    assert all(r["left_id"] in a_ids and r["right_id"] in b_ids for r in got)
    truth = golden_clusters(small_transcripts)
    pos = (
        truth.alias("x")
        .join(truth.alias("y"), F.col("x.cluster_id") == F.col("y.cluster_id"))
        .where(F.col("x.conv_id") != F.col("y.conv_id"))
        .select(
            F.col("x.conv_id").alias("left_id"),
            F.col("y.conv_id").alias("right_id"),
        )
    )
    pos_cross = pos.where(
        F.pmod(F.xxhash64("left_id"), F.lit(2)) == 0
    ).where(F.pmod(F.xxhash64("right_id"), F.lit(2)) == 1)
    n_pos = pos_cross.count()
    found = pos_cross.join(pairs, ["left_id", "right_id"], "left_semi").count()
    assert found / max(n_pos, 1) >= 0.95, f"cross recall {found}/{n_pos}"


def test_cross_table_salting_full_recall(spark):
    # one hot bucket: 30 identical A texts and 20 identical B texts land in
    # the same band buckets; with max_bucket=10 the A side splits into 3
    # cells and B replicates — ALL 30x20 cross pairs must still surface
    # (one-side replication = full within-bucket recall, unlike the
    # self-join's probabilistic cross-cell recovery)
    txt = "omega psi chi phi upsilon tau sigma rho"
    a = spark.createDataFrame(
        [(f"a{i:03d}", txt) for i in range(30)], "conv_id string, entity_text string"
    )
    b = spark.createDataFrame(
        [(f"b{i:03d}", txt) for i in range(20)], "conv_id string, entity_text string"
    )
    pairs = B.block_minhash_lsh_cross(a, b, max_bucket=10)
    assert pairs.count() == 30 * 20


def test_ngram_overlap_cross_decontamination(spark):
    # planted contamination: train doc t1 contains benchmark doc b1's
    # 4-gram verbatim; t2 is clean; boilerplate shingle shared by ALL train
    # docs is pruned by max_train_df without losing the real hit
    boiler = "copyright header line four"
    train = spark.createDataFrame(
        [
            ("t1", boiler + " alpha beta gamma delta unique tail"),
            ("t2", boiler + " completely different words here"),
            ("t3", boiler + " more unrelated training text"),
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [
            ("b1", "alpha beta gamma delta"),
            ("b2", "nothing shared at all"),
        ],
        "doc_id string, text string",
    )
    got = B.ngram_overlap_cross(
        train, bench, shingle_n=4, min_common=1, max_train_df=2
    ).collect()
    hits = {(r["train_id"], r["bench_id"]): r for r in got}
    assert set(hits) == {("t1", "b1")}
    r = hits[("t1", "b1")]
    # b1 has exactly one distinct 4-gram, fully contained in t1
    assert r["n_common"] == 1 and r["bench_overlap_frac"] == 1.0


def test_ngram_overlap_train_side_pruning_only(spark):
    # a shingle common to many TRAIN docs is pruned (df cap), but a shingle
    # common to many BENCH docs is NOT — benchmark-side statistics must
    # never drop a contamination hit
    train = spark.createDataFrame(
        [(f"t{i}", "shared ngram across train") for i in range(5)]
        + [("tx", "rare overlap with bench")],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [(f"b{i}", "rare overlap with bench") for i in range(5)],
        "doc_id string, text string",
    )
    got = B.ngram_overlap_cross(
        train, bench, shingle_n=4, min_common=1, max_train_df=2
    ).collect()
    # "shared ngram across train" never hits bench anyway; "rare overlap
    # with bench" appears in 1 train doc (under cap) and 5 bench docs —
    # all 5 pairs must surface
    assert {(r["train_id"], r["bench_id"]) for r in got} == {
        ("tx", f"b{i}") for i in range(5)
    }


def test_global_rank_matches_window_row_number(spark):
    from ditto_spark.operators.blocking import global_rank

    rows = [(i, "k%02d" % (i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = {
        r["doc_id"]: r["rank"]
        for r in global_rank(df, order_cols=["k", "doc_id"]).collect()
    }
    expected = {
        doc: rnk
        for rnk, (doc, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expected


def test_sorted_neighborhood_exact_window(spark):
    from ditto_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [(i, "key%03d" % i) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = {
        (r["left_id"], r["right_id"]): r["rank_dist"]
        for r in sorted_neighborhood_pairs(df, key_col="k", w=3).collect()
    }
    # sort order == id order here; window 3 → dist 1 and 2 only
    expected = {}
    for a in range(20):
        for b in range(a + 1, min(a + 3, 20)):
            expected[(a, b)] = b - a
    assert got == expected


def test_sorted_neighborhood_pairs_unique_and_partition_invariant(spark):
    from ditto_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [(i, "dup") if i % 4 == 0 else (i, "k%05d" % (997 * i % 50)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    out = sorted_neighborhood_pairs(df, key_col="k", w=4).collect()
    pairs = [(r["left_id"], r["right_id"]) for r in out]
    assert len(pairs) == len(set(pairs))  # exactly-once production
    out2 = sorted_neighborhood_pairs(df.repartition(7), key_col="k", w=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_global_rank_callers_release_their_cache(spark):
    """global_rank's per-partition offsets are valid only for its cached
    range partitioning: it materializes the ranks eagerly and releases the
    cache, so neither caller leaves a cache entry behind."""
    from ditto_spark.operators.blocking import sorted_neighborhood_pairs
    from ditto_spark.operators.profile import exact_quantiles

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    df = spark.createDataFrame(
        [(i, "k%02d" % (i % 7)) for i in range(40)], "doc_id long, k string"
    )
    assert len(sorted_neighborhood_pairs(df, key_col="k", w=3).collect()) > 0
    med = exact_quantiles(
        df.withColumn("v", F.col("doc_id").cast("double")), "v", [0.5], ["doc_id"]
    ).collect()
    assert med[0]["value"] == 19.0
    assert cm.numCachedEntries() == before


def test_global_rank_keeps_a_pid_column(spark):
    """The scan's partition id lives in a private column: a caller's own
    `pid` column comes back with its values."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(30), "k": [d % 4 for d in range(30)], "pid": range(100, 130)}
    )
    df = spark.createDataFrame(pdf, "doc_id long, k long, pid long")
    out = B.global_rank(df, ["k", "doc_id"])
    assert out.columns == ["doc_id", "k", "pid", "rank"]
    order = sorted(range(30), key=lambda d: (d % 4, d))
    got = {r["doc_id"]: (r["pid"], r["rank"]) for r in out.collect()}
    assert got == {d: (100 + d, order.index(d)) for d in range(30)}


def _rank_rows(spark, n):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "k": ["a"] * n}), "doc_id long, k string"
    )
    return [tuple(r) for r in B.global_rank(df, ["k", "doc_id"]).collect()]


def _pack_zero_token_rows(spark):
    import pandas as pd

    from ditto_spark.operators.packing import pack_pretraining_chunks

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["d0", "d1", "d2"], "text": ["", "  ", " "]}),
        "doc_id string, text string",
    )
    return [tuple(r) for r in pack_pretraining_chunks(df, budget=4).collect()]


@pytest.mark.parametrize(
    "run, expected",
    [
        (lambda s: _rank_rows(s, 0), []),
        (lambda s: _rank_rows(s, 1), [(0, "a", 0)]),
        (_pack_zero_token_rows, []),
    ],
    ids=["global_rank_empty", "global_rank_one_row", "pack_all_zero_tokens"],
)
def test_prefix_scan_degenerate_input(spark, run, expected):
    """The shared range prefix scan on an empty frame, one row, and a corpus
    whose every document has zero tokens: the right rows, no cache left."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    assert run(spark) == expected
    assert cm.numCachedEntries() == before


def test_meta_blocking_wnp_prunes_below_both_means(spark):
    from ditto_spark.operators.blocking import meta_blocking_wnp

    # edges: (1,2) w=2, (3,4) w=2, (1,3) w=1; node means 1/3 both 1.5
    # -> (1,3) pruned (1 < 1.5 at BOTH endpoints), the w=2 edges kept
    blocks = spark.createDataFrame(
        [("b1", 1), ("b1", 2), ("b2", 1), ("b2", 2),
         ("b3", 3), ("b3", 4), ("b4", 3), ("b4", 4), ("b5", 1), ("b5", 3)],
        "block_key string, doc_id long",
    )
    got = {
        (r["left_id"], r["right_id"]): r["weight"]
        for r in meta_blocking_wnp(blocks).collect()
    }
    assert got == {(1, 2): 2, (3, 4): 2}


def test_meta_blocking_wnp_block_purging(spark):
    from ditto_spark.operators.blocking import meta_blocking_wnp

    rows = [("big", i) for i in range(10, 16)] + [("ok", 1), ("ok", 2)]
    blocks = spark.createDataFrame(rows, "block_key string, doc_id long")
    got = {
        (r["left_id"], r["right_id"])
        for r in meta_blocking_wnp(blocks, max_block_size=3).collect()
    }
    assert got == {(1, 2)}  # the 6-entity block is purged entirely


def test_meta_blocking_wnp_duplicate_assignments_counted_once(spark):
    from ditto_spark.operators.blocking import meta_blocking_wnp

    blocks = spark.createDataFrame(
        [("b1", 1), ("b1", 1), ("b1", 2)], "block_key string, doc_id long"
    )
    rows = meta_blocking_wnp(blocks).collect()
    assert [(r["left_id"], r["right_id"], r["weight"]) for r in rows] == [(1, 2, 1)]


def _winnow_py(text, k=3, w=4):
    """Independent plain-Python winnowing (hashlib) for cross-checking."""
    import hashlib

    toks = [t for t in text.lower().split() if t]
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    sel = set()
    if len(hs) < w:
        window = list(enumerate(hs))
        best = min(window, key=lambda t: (t[1], -t[0]))
        sel.add((best[1], best[0]))
        return sel
    for end in range(w - 1, len(hs)):
        window = [(i, hs[i]) for i in range(end - w + 1, end + 1)]
        best = min(window, key=lambda t: (t[1], -t[0]))  # rightmost min
        sel.add((best[1], best[0]))
    return sel


def test_winnow_matches_independent_python(spark):
    from ditto_spark.operators.blocking import winnow_fingerprints

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a b c a b c a b c a b c"),
        (3, "one two three"),          # exactly k tokens -> 1 gram
        (4, "just two"),               # < k tokens -> no fingerprints
        (5, "alpha beta gamma delta"),  # 2 grams < w -> last-window min only
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["fp_pos"]))
    for doc_id, text in texts:
        assert got.get(doc_id, set()) == _winnow_py(text), f"doc {doc_id}"


def test_winnow_window_coverage_guarantee(spark):
    from ditto_spark.operators.blocking import winnow_fingerprints

    # winnowing guarantee: every window of w consecutive grams contains
    # at least one selected fingerprint position
    import random

    rng = random.Random(7)
    words = ["w%02d" % rng.randrange(30) for _ in range(200)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    pos = sorted(
        r["fp_pos"] for r in winnow_fingerprints(df, k=3, w=4).collect()
    )
    n_grams = len(words) - 2
    for start in range(0, n_grams - 4 + 1):
        assert any(start <= p <= start + 3 for p in pos), f"window {start} uncovered"


def test_winnow_near_dup_detects_shared_runs(spark):
    from ditto_spark.operators.blocking import winnow_near_dup_pairs

    shared = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [
            (1, shared + " extra tail words here"),
            (2, "prefix words first " + shared),
            (3, "completely different content about spark catalyst plans"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["left_id"], r["right_id"]) for r in winnow_near_dup_pairs(df).collect()
    }
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_allpairs_jaccard_lossless_vs_bruteforce(spark):
    """Prefix filter must be LOSSLESS: equals the exact crossJoin jaccard
    join on a random corpus (both token and shingle element modes)."""
    import itertools
    import random

    from ditto_spark.operators.blocking import allpairs_jaccard_join

    rng = random.Random(13)
    vocab = ["w%02d" % i for i in range(40)]
    docs = []
    for i in range(60):
        base = rng.sample(vocab, rng.randrange(5, 15))
        docs.append((i, " ".join(base)))
        if i % 4 == 0:  # planted near-dup: small edit
            docs.append((i + 1000, " ".join(base[:-1] + [rng.choice(vocab)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for n, thresh in [(1, 0.6), (3, 0.4)]:
        got = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in allpairs_jaccard_join(
                df, threshold=thresh, shingle_n=n
            ).collect()
        }
        # brute force in python
        sets = {}
        for i, t in docs:
            toks = t.split()
            if n == 1:
                sets[i] = set(toks)
            elif len(toks) >= n:
                sets[i] = {
                    " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
                }
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= thresh:
                    want[(a, b)] = j
        assert set(got) == set(want), f"n={n}"
        for k, v in want.items():
            assert abs(got[k] - v) < 1e-12


def test_allpairs_finds_frequent_shingle_pairs_rare_join_drops(spark):
    """The losslessness that motivates AllPairs: duplicates built ONLY of
    corpus-frequent shingles (df > max_df) are invisible to the
    rare-shingle join but found exactly by the prefix-filter join."""
    from ditto_spark.operators.blocking import allpairs_jaccard_join

    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(60)]
        + [(100 + i, f"unique{i} filler{i} other{i} stuff{i}") for i in range(5)],
        "doc_id long, text string",
    )
    got = allpairs_jaccard_join(df, threshold=0.9, shingle_n=3).collect()
    assert len(got) == 60 * 59 // 2
    assert all(r["jaccard"] == 1.0 for r in got)

    # same corpus through the rare-shingle path (max_df=50): zero pairs
    import __spark_entry__ as E

    assert E._rare_shingle_pairs(df).count() == 0


def test_allpairs_prefix_ceil_float_boundary_lossless(spark):
    """threshold*len landing a hair above an exact integer in doubles
    (0.56*25 = 14.000000000000002) must not shorten the prefix: the
    biased ceil keeps the join lossless at rational boundaries."""
    import itertools
    import random

    from ditto_spark.operators.blocking import allpairs_jaccard_join

    rng = random.Random(23)
    vocab = ["t%02d" % i for i in range(60)]
    docs = []
    for i in range(40):
        base = rng.sample(vocab, 25)  # 25 distinct tokens -> 0.56*25 boundary
        docs.append((i, " ".join(base)))
        if i % 3 == 0:
            mutated = base[:]
            for j in rng.sample(range(25), 5):
                mutated[j] = rng.choice(vocab)
            docs.append((i + 100, " ".join(dict.fromkeys(mutated))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["left_id"], r["right_id"])
        for r in allpairs_jaccard_join(df, threshold=0.56, shingle_n=1).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if sets[a] & sets[b]
        and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.56
    }
    assert got == want


def test_containment_asymmetry_on_planted_quote(spark):
    """A short doc fully quoted inside a long one: low Jaccard, high
    one-sided containment — the signal the containment query adds."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id long, text string"
    )
    rows = m._rare_shingle_pairs(docs).select(
        "left_id", "right_id", "jaccard",
        (F.col("common_shingles") / F.col("na")).alias("cl"),
        (F.col("common_shingles") / F.col("nb")).alias("cr"),
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cl"] == 1.0  # every shingle of the short doc is contained
    assert r["jaccard"] < 0.1  # Jaccard misses it
    assert r["cr"] < 0.1


def test_edit_distance_join_equals_bruteforce(spark):
    """Losslessness: prefix-filter + length-filter + verify returns exactly
    the brute-force levenshtein <= d set, including short/empty strings."""
    from itertools import combinations

    from ditto_spark.operators.blocking import edit_distance_join

    words = [
        "martha", "marhta", "marta", "smith", "smyth", "smithe",
        "jonathan", "jonothan", "", "a", "b", "ab", "dwayne", "duane",
        "algorithm", "logarithm", "xylophone",
    ]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def lev(s1, s2):
        dp = list(range(len(s2) + 1))
        for i, c1 in enumerate(s1, 1):
            prev, dp[0] = dp[0], i
            for j, c2 in enumerate(s2, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (c1 != c2)
                )
        return dp[-1]

    for d in (1, 2, 3):
        got = {
            (r["left_id"], r["right_id"]): r["dist"]
            for r in edit_distance_join(df, max_dist=d).collect()
        }
        want = {
            (i, j): lev(words[i], words[j])
            for (i, _), (j, _) in combinations(rows, 2)
            if lev(words[i], words[j]) <= d
        }
        assert got == want, f"d={d}"


def test_edit_distance_join_partition_invariant(spark):
    from ditto_spark.operators.blocking import edit_distance_join

    rows = [(i, f"prefix shared {i % 7} tail{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = sorted(map(tuple, edit_distance_join(df.repartition(1), max_dist=2).collect()))
    b = sorted(map(tuple, edit_distance_join(df.repartition(16), max_dist=2).collect()))
    assert a == b and len(a) > 0


def test_suffix_blocking_shared_tails_and_short_keys(spark):
    df = spark.createDataFrame(
        [
            (1, "johnson"),
            (2, "maxjohnson"),     # shares tail "johnson" with 1
            (3, "abc"),            # < min_suffix_len: whole key only
            (4, "xabc"),           # its only >=4 suffix is "xabc"
            (5, "smithaaaa"),
            (6, "joesmithaaaa"),   # shares "smithaaaa", "mithaaaa", ... -> ONE pair
        ],
        "doc_id long, k string",
    )
    out = sorted(
        (r["left_id"], r["right_id"])
        for r in B.suffix_blocking_pairs(df, key_col="k").collect()
    )
    assert out == [(1, 2), (5, 6)]


def test_suffix_blocking_frequency_cut_drops_hot_suffix(spark):
    # 60 records share tail "zzzz" (> max_bucket=50): the ubiquitous
    # suffix is cut BEFORE the join. What survives are the length-5
    # tails "<digit>zzzz", each shared by the 6 records with that last
    # digit -> 10 * C(6,2) = 150 pairs, not C(60,2) = 1770. Raising the
    # cut past 60 readmits "zzzz" and the full pair set.
    rows = [(i, f"name{i:03d}zzzz") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    assert B.suffix_blocking_pairs(df, key_col="k").count() == 150
    assert (
        B.suffix_blocking_pairs(df, key_col="k", max_bucket=60).count()
        == 60 * 59 / 2
    )


def test_blocking_recall_audit_invariants(spark):
    """Label-free recall audit: counts are consistent, the sample is a
    strict subset, recall is the caught/truth fraction in [0,1]."""
    import __spark_entry__ as entrymod

    row = entrymod.q_blocking_recall(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 < row["n_sample"] < 500
    assert 0 <= row["n_caught"] <= row["n_truth"]
    assert 0.0 <= row["recall"] <= 1.0
    if row["n_truth"]:
        assert abs(row["recall"] - row["n_caught"] / row["n_truth"]) < 1e-6


def _md5_long(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _oph_ref(shingles, num_bins):
    """Pure-Python OPH with rotation densification (Shrivastava-Li rule),
    on the portable md5 hash — the structural oracle for oph_signatures."""
    hs = {_md5_long(s) for s in shingles}
    mins = [None] * num_bins
    for h in hs:
        b = h % num_bins
        if mins[b] is None or h < mins[b]:
            mins[b] = h
    sig = []
    for i in range(num_bins):
        v = 0
        for d in range(num_bins):
            m = mins[(i + d) % num_bins]
            if m is not None:
                v = _md5_long(f"{m}:{d}")
                break
        sig.append(v)
    return sig


def _portable_hashes():
    hash_fn = lambda s: (  # noqa: E731
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    )
    tag_fn = lambda v, d: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", v.cast("string"), d.cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("bigint")
    )
    return hash_fn, tag_fn


def test_oph_matches_python_reference(spark):
    """Bin-min + rotation-densification structure, exact: Spark OPH on the
    portable md5 hash equals a from-scratch Python implementation, across
    docs that exercise filled bins, empty bins (short docs), and the
    all-empty sentinel."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "one two three",          # exactly 1 shingle -> 15 of 16 bins densify
        "completely different words here about boats and rivers flowing",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "conv_id int, entity_text string"
    )
    sh = B.shingle(B.tokenize(df), n=3)
    hash_fn, tag_fn = _portable_hashes()
    got = {
        r["conv_id"]: list(r["sig"])
        for r in B.oph_signatures(
            sh, id_col="conv_id", num_bins=16, hash_fn=hash_fn, tag_fn=tag_fn
        ).collect()
    }
    shl = {r["conv_id"]: r["shingles"] for r in sh.collect()}
    for i in range(len(texts)):
        assert got[i] == _oph_ref(shl[i] or [], 16), f"doc {i}"

    # a genuinely-empty shingle array takes the all-zero sentinel
    empty = spark.createDataFrame(
        [(99, [])], "conv_id int, shingles array<string>"
    )
    sent = B.oph_signatures(
        empty, id_col="conv_id", num_bins=16, hash_fn=hash_fn, tag_fn=tag_fn
    ).collect()
    assert list(sent[0]["sig"]) == [0] * 16


def test_oph_estimator_quality_and_composition(spark):
    """OPH sigs drop into the minhash contract: estimated_jaccard over
    64-bin OPH signatures tracks exact Jaccard (|err| < 0.25 at J≈0.8 and
    J≈0.1), identical signatures for identical shingle sets, and lsh_bands
    composes (identical docs share every band key). Partition-invariant."""
    base = [f"tok{i}" for i in range(40)]
    texts = {
        "a": " ".join(base),
        "b": " ".join(base),                       # J = 1.0 with a
        "c": " ".join(base[:36] + ["x1 x2 x3 x4"]),  # high overlap with a
        "d": " ".join(f"other{i}" for i in range(40)),  # ~0 overlap
    }
    df = spark.createDataFrame(
        list(texts.items()), "conv_id string, entity_text string"
    )
    sh = B.shingle(B.tokenize(df), n=3)
    sig = B.oph_signatures(sh, id_col="conv_id", num_bins=64).cache()
    rows = {r["conv_id"]: list(r["sig"]) for r in sig.collect()}
    assert rows["a"] == rows["b"]

    shl = {r["conv_id"]: set(r["shingles"]) for r in sh.collect()}

    def jac(x, y):
        return len(shl[x] & shl[y]) / len(shl[x] | shl[y])

    pairs = spark.createDataFrame(
        [("a", "c"), ("a", "d")], "left_id string, right_id string"
    )
    est = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in B.estimated_jaccard(pairs, sig, id_col="conv_id").collect()
    }
    assert abs(est[("a", "c")] - jac("a", "c")) < 0.25
    assert abs(est[("a", "d")] - jac("a", "d")) < 0.25

    bands = B.lsh_bands(sig, id_col="conv_id", num_bands=16, rows_per_band=4)
    ab = bands.where(F.col("conv_id").isin("a", "b"))
    n_distinct = ab.select("band_idx", "band_key").distinct().count()
    assert n_distinct == 16  # identical docs collide in every band

    sig2 = {
        r["conv_id"]: list(r["sig"])
        for r in B.oph_signatures(
            sh.repartition(8), id_col="conv_id", num_bins=64
        ).collect()
    }
    assert sig2 == rows


def test_block_minhash_lsh_oph_mode_recall(spark, small_transcripts):
    """oph_signatures composed with the LSH stages (block_minhash_lsh's
    default bands and bucket cap) keeps the permutation path's recall
    contract on planted duplicates."""
    ser = serialize_conversations(small_transcripts)
    sig = B.oph_signatures(
        B.shingle(B.tokenize(ser, "block_text"), 2), "conv_id", num_bins=64
    ).cache()
    bands = B.lsh_bands(sig, "conv_id", 21, 3)
    pairs = B.estimated_jaccard(
        B.candidates_from_bands(bands, "conv_id", 200), sig, "conv_id"
    ).cache()
    truth = golden_clusters(small_transcripts)
    pos = (
        truth.alias("a")
        .join(truth.alias("b"), F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("left_id"), F.col("b.conv_id").alias("right_id")
        )
    )
    n_pos = pos.count()
    found = pos.join(pairs, ["left_id", "right_id"], "left_semi").count()
    recall = found / max(n_pos, 1)
    assert recall >= 0.95, f"OPH-mode LSH recall {recall} ({found}/{n_pos})"


def test_weighted_replicas_expr_expansion(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"], [2, 1, 9])],
        "id int, tokens array<string>, weights array<int>",
    )
    out = df.select(
        B.weighted_replicas_expr("tokens", "weights", max_weight=4).alias("r")
    ).collect()[0]["r"]
    # weight 2 -> two replicas; weight 1 -> one; weight 9 clamps to 4
    assert out == ["a#1", "a#2", "b#1", "c#1", "c#2", "c#3", "c#4"]
    # zero/negative weights floor at one replica (token never vanishes)
    df2 = spark.createDataFrame(
        [(1, ["x"], [0])], "id int, tokens array<string>, weights array<int>"
    )
    assert df2.select(
        B.weighted_replicas_expr("tokens", "weights").alias("r")
    ).collect()[0]["r"] == ["x#1"]


def test_df_weight_expr_integer_thresholds(spark):
    # n=64, base=4, max_weight=4: df<=1 -> 4, df<=4 -> 3, df<=16 -> 2, else 1
    rows = [(1,), (4,), (5,), (16,), (17,), (64,)]
    df = spark.createDataFrame(rows, "df_cnt long")
    got = [
        r["w"]
        for r in df.select(
            B.df_weight_expr(F.col("df_cnt"), F.lit(64)).alias("w")
        ).collect()
    ]
    assert got == [4, 3, 2, 2, 1, 1]


def test_weighted_signature_estimates_weighted_jaccard(spark):
    """Chum reduction end-to-end: MinHash over integer-weight replicas
    estimates the weighted Jaccard — agreement on one rare identifier
    dominates agreement on stopwords. 128 perms, deterministic hashes."""
    # corpus: 60 filler docs make 'the of' / 'and by' frequent; uid* rare
    filler = [(f"f{i}", "the of filler%d" % i) for i in range(30)] + [
        (f"g{i}", "and by gloss%d" % i) for i in range(30)
    ]
    docs = filler + [
        ("A", "uid7 uid8 uid9 the of"),
        ("B", "uid7 uid8 uid9 and by"),  # shares the rare uids, NOT stopwords
        ("C", "the of cx1 cx2"),
        ("D", "the of dy1 dy2"),         # shares ONLY stopwords with C
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    pairs = B.weighted_minhash_lsh(
        df, id_col="doc_id", text_col="text",
        num_perm=128, num_bands=32, rows_per_band=4,
        max_weight=4, threshold=None,
    )
    est = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in pairs.collect()
    }
    n = len(docs)

    def w_of(dfc):
        for k in (3, 2, 1):
            if dfc * 4**k <= n:
                return k + 1
        return 1

    # exact weighted Jaccard from the same integer weights
    w_uid, w_stop, w_solo = w_of(2), w_of(32), w_of(1)
    wj_ab = 3 * w_uid / (3 * w_uid + 4 * w_stop)
    wj_cd = 2 * w_stop / (2 * w_stop + 4 * w_solo)
    assert wj_ab > 0.6 and wj_cd < 0.25  # the planted separation
    assert ("A", "B") in est
    assert abs(est[("A", "B")] - wj_ab) < 0.15
    if ("C", "D") in est:
        assert est[("C", "D")] < est[("A", "B")] - 0.3


def test_weighted_token_replicas_matches_expr_path(spark):
    """Relational replica construction (weight table join) produces the
    same replica multiset as the zero-shuffle aligned-arrays expression."""
    df = spark.createDataFrame(
        [(1, ["alpha", "beta"]), (2, ["beta", "gamma", "beta"])],
        "id int, tokens array<string>",
    )
    wdf = spark.createDataFrame(
        [("alpha", 3), ("beta", 2)], "token string, weight int"
    )
    rel = {
        r["id"]: sorted(r["wshingles"])
        for r in B.weighted_token_replicas(df, "id", "tokens", wdf).collect()
    }
    # expr path: attach aligned weights manually (gamma absent -> 1)
    wmap = {"alpha": 3, "beta": 2}
    rows = [
        (1, ["alpha", "beta"], [3, 2]),
        (2, ["beta", "gamma"], [2, 1]),  # distinct tokens
    ]
    df2 = spark.createDataFrame(
        rows, "id int, tokens array<string>, weights array<int>"
    )
    exprd = {
        r["id"]: sorted(r["r"])
        for r in df2.select(
            "id", B.weighted_replicas_expr("tokens", "weights").alias("r")
        ).collect()
    }
    assert rel == exprd


# ---------------------------------------------------------------------------
# Temporal-band blocking
# ---------------------------------------------------------------------------


def _tb_events(spark, n=300, seed=7):
    """Deterministic irregular timestamps: clumps + gaps + exact ties,
    some spilling across band-bucket boundaries."""
    rows = []
    t = 1_700_000_000
    for i in range(n):
        # pseudo-random gap in [0, 97s] with frequent 0s (exact ties)
        g = (i * i * 2654435761 + seed) % 98
        if g % 7 == 0:
            g = 0
        t += g
        rows.append((i, t, "t" + str(i % 3)))
    return spark.createDataFrame(
        rows, "doc_id long, epoch long, kind string"
    ).select(
        "doc_id", F.timestamp_seconds("epoch").alias("ts"), "kind", "epoch"
    )


def _tb_bruteforce(rows, band, keyed):
    out = set()
    for a in rows:
        for b in rows:
            if keyed and a["kind"] != b["kind"]:
                continue
            if (b["epoch"], b["doc_id"]) <= (a["epoch"], a["doc_id"]):
                continue
            if b["epoch"] - a["epoch"] <= band:
                out.add((a["doc_id"], b["doc_id"], b["epoch"] - a["epoch"]))
    return out


def test_time_band_pairs_equals_bruteforce(spark):
    from ditto_spark.operators.blocking import time_band_pairs

    df = _tb_events(spark)
    rows = df.collect()
    for band in (1, 30, 64):
        got = {
            (r["left_id"], r["right_id"], r["delta_sec"])
            for r in time_band_pairs(df, "ts", band, id_col="doc_id").collect()
        }
        assert got == _tb_bruteforce(rows, band, keyed=False), band


def test_time_band_pairs_with_equi_key_equals_bruteforce(spark):
    from ditto_spark.operators.blocking import time_band_pairs

    df = _tb_events(spark)
    rows = df.collect()
    got = {
        (r["left_id"], r["right_id"], r["delta_sec"])
        for r in time_band_pairs(
            df, "ts", 45, id_col="doc_id", equi_cols=["kind"]
        ).collect()
    }
    assert got == _tb_bruteforce(rows, 45, keyed=True)


def test_time_band_pairs_exactly_once_and_boundary(spark):
    from ditto_spark.operators.blocking import time_band_pairs

    # ids at epochs 0, band, band+1: (0,band) included at the boundary,
    # (0, band+1) excluded, (band, band+1) included; plus an exact tie.
    band = 60
    df = spark.createDataFrame(
        [(1, 0), (2, band), (3, band + 1), (4, band)],
        "doc_id long, epoch long",
    ).select("doc_id", F.timestamp_seconds("epoch").alias("ts"))
    got = sorted(
        (r["left_id"], r["right_id"], r["delta_sec"])
        for r in time_band_pairs(df, "ts", band, id_col="doc_id").collect()
    )
    assert got == sorted(
        [(1, 2, band), (1, 4, band), (2, 3, 1), (2, 4, 0), (4, 3, 1)]
    )


def test_time_band_pairs_partition_invariant(spark):
    from ditto_spark.operators.blocking import time_band_pairs

    df = _tb_events(spark, n=200)
    a = {
        tuple(r)
        for r in time_band_pairs(
            df.repartition(1), "ts", 30, id_col="doc_id"
        ).select("left_id", "right_id", "delta_sec").collect()
    }
    b = {
        tuple(r)
        for r in time_band_pairs(
            df.repartition(13, "kind"), "ts", 30, id_col="doc_id"
        ).select("left_id", "right_id", "delta_sec").collect()
    }
    assert a == b


def test_allpairs_positional_filter_lossless_and_reduces_candidates(spark):
    """PPJoin positional filter: identical verified output, strictly
    fewer (or equal) candidates than prefix+length filtering alone."""
    from ditto_spark.operators.blocking import allpairs_jaccard_join

    # Every doc: 2 globally-unique tokens, 1 rare "link" token shared with
    # exactly one sibling, 11 ubiquitous fillers. len=14, t=0.8 -> prefix
    # is the 3 rarest tokens, so sibling pairs (J = 12/16 = 0.75 < t)
    # collide on the rank-3 link token and pass the length filter — only
    # the positional bound (1 + min(14-3, 14-3) = 12 < alpha = 13) can
    # kill them pre-verify. True matches are exact copies (first common
    # token at rank 1 -> bound 14 >= 13 survives).
    base = (
        "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11"
    )
    rows = [
        (i, f"u{i}a u{i}b link{i // 2} " + base) for i in range(40)
    ] + [
        (200 + i, f"u{2 * i}a u{2 * i}b link{i} " + base)
        for i in range(5)  # exact copies of docs 0, 2, 4, 6, 8
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    on, off = {}, {}
    got_on = {
        (r["left_id"], r["right_id"], round(r["jaccard"], 9))
        for r in allpairs_jaccard_join(
            df, threshold=0.8, positional=True, debug_counts=on
        ).collect()
    }
    got_off = {
        (r["left_id"], r["right_id"], round(r["jaccard"], 9))
        for r in allpairs_jaccard_join(
            df, threshold=0.8, positional=False, debug_counts=off
        ).collect()
    }
    assert got_on == got_off  # lossless
    assert {(a, b) for a, b, _ in got_on} == {
        (2 * i, 200 + i) for i in range(5)
    }
    assert on["candidates"] < off["candidates"], (on, off)
