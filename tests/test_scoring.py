"""Scoring: surrogate cosine batch math, UDF vs builtin agreement,
threshold semantics (strict >), confusion F1 and sweep vs hand counts."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from ditto_spark.operators.scoring import (
    _cosine_batch,
    score_pairs,
    score_pairs_builtin,
    apply_threshold,
)
from ditto_spark.operators.evaluate import confusion_f1, threshold_grid_f1, tune_threshold


def test_cosine_batch_math():
    left = pd.Series(["a b c", "a a b", "x y", ""])
    right = pd.Series(["a b c", "b a a", "p q", "words"])
    cos = _cosine_batch(left, right)
    assert np.allclose(cos[0], 1.0)
    assert np.allclose(cos[1], 1.0)  # same multiset, different order
    assert cos[2] == 0.0
    assert cos[3] == 0.0


def test_cosine_partial_overlap():
    cos = _cosine_batch(pd.Series(["a b"]), pd.Series(["a c"]))
    assert np.allclose(cos[0], 0.5)  # (1)/(sqrt2*sqrt2)


def test_udf_scorer_end_to_end(spark):
    df = spark.createDataFrame(
        [
            ("l1", "r1", "alpha beta gamma", "alpha beta gamma"),
            ("l2", "r2", "alpha beta", "delta epsilon"),
        ],
        "left_id string, right_id string, left_txt string, right_txt string",
    )
    got = {r["left_id"]: r["prob"] for r in score_pairs(df).collect()}
    assert abs(got["l1"] - 1.0) < 1e-9
    assert got["l2"] == 0.0


def test_builtin_jaccard(spark):
    df = spark.createDataFrame(
        [("l", "r", "a b c d", "a b c z")],
        "left_id string, right_id string, left_txt string, right_txt string",
    )
    got = score_pairs_builtin(df).collect()[0]
    assert abs(got["prob"] - 3 / 5) < 1e-9


def test_threshold_strict(spark):
    df = spark.createDataFrame(
        [("a", "b", 0.5), ("c", "d", 0.51)], "left_id string, right_id string, prob double"
    )
    got = {r["left_id"]: (r["match"], r["match_confidence"]) for r in apply_threshold(df, 0.5).collect()}
    assert got["a"] == (0, 0.5)  # p == tau excluded (strict >)
    assert got["c"][0] == 1 and abs(got["c"][1] - 0.51) < 1e-9


def test_confusion_f1(spark):
    rows = [(1, 1)] * 6 + [(1, 0)] * 2 + [(0, 1)] * 1 + [(0, 0)] * 5
    df = spark.createDataFrame(rows, "match int, label int")
    m = confusion_f1(df).collect()[0]
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (6, 2, 1, 5)
    assert abs(m["f1"] - 2 * 6 / (12 + 2 + 1)) < 1e-9


def test_confusion_f1_empty_is_zero(spark):
    df = spark.createDataFrame([], "match int, label int")
    assert tuple(confusion_f1(df).collect()[0]) == (0, 0, 0, 0, 0.0, 0.0, 0.0)


def test_relational_idf_matches_dict_path(spark):
    """score_pairs_tfidf_relational (corpus-scale join path) must produce the
    exact scores of the closure-dict Arrow-UDF path on the same IDF corpus —
    punctuation-bearing tokens included (the two tokenizers are in
    lockstep)."""
    from ditto_spark.operators.scoring import (
        build_idf_df, build_idf_dict, idf_weighted_scorer_factory,
        score_pairs_tfidf_relational,
    )

    # every character Python's str.split() splits on — Java's \s knows 6
    seps = [chr(c) for c in range(0x110000) if len(f"a{chr(c)}b".split()) == 2]
    toks = [f"w{i}" for i in range(len(seps) + 1)]
    ws_left = toks[0] + "".join(s + t for s, t in zip(seps, toks[1:]))
    pairs = spark.createDataFrame(
        [
            ("1", "r1", "sony, tv 55in", "sony, tv 55in"),
            ("2", "r2", "sony, tv 55in", "lg monitor 27in"),
            ("3", "r3", "apple iphone 12", "apple iphone, 13"),
            ("4", "r4", "", "anything here"),
            ("5", "r5", ws_left, " ".join(toks)),
        ],
        "left_id string, right_id string, left_txt string, right_txt string",
    )
    texts = (
        pairs.select(F.col("left_txt").alias("txt"))
        .unionByName(pairs.select(F.col("right_txt").alias("txt")))
        .distinct()
    )
    idf_df = build_idf_df(texts)
    rel = {
        r["left_id"]: r["prob"]
        for r in score_pairs_tfidf_relational(pairs, idf_df).collect()
    }
    dict_factory = idf_weighted_scorer_factory(build_idf_dict(texts))
    dct = {
        r["left_id"]: r["prob"]
        for r in score_pairs(pairs, scorer_factory=dict_factory).collect()
    }
    assert set(rel) == set(dct) == {"1", "2", "3", "4", "5"}
    for k in rel:
        assert abs(rel[k] - dct[k]) < 1e-9, (k, rel[k], dct[k])
    assert abs(rel["1"] - 1.0) < 1e-9
    assert rel["4"] == 0.0
    assert abs(rel["5"] - 1.0) < 1e-9


def test_idf_covers_punctuated_tokens(spark):
    """Every token the pandas scorer emits must have an IDF entry (the old
    alnum-regex IDF builder missed 'sony,' and fell back to default)."""
    from ditto_spark.operators.scoring import build_idf_dict, _token_lists

    texts = spark.createDataFrame(
        [("sony, tv (55in) deal!",)], "txt string"
    )
    idf = build_idf_dict(texts)
    toks = _token_lists(pd.Series(["sony, tv (55in) deal!"]))[0]
    assert all(t in idf for t in toks), [t for t in toks if t not in idf]


def test_threshold_sweep(spark):
    # probs separable at 0.6: labels 1 have p >= .7, labels 0 have p <= .4
    rows = [(0.7, 1), (0.9, 1), (0.8, 1), (0.4, 0), (0.2, 0), (0.3, 0)]
    df = spark.createDataFrame(rows, "prob double, label int")
    grid = threshold_grid_f1(df)
    assert grid.count() == 20
    tau = tune_threshold(df)
    # any tau in [0.40, 0.65] gives F1=1.0; ties resolve to lowest
    best = grid.orderBy(F.desc("f1"), F.asc("tau")).limit(1).collect()[0]
    assert abs(best["f1"] - 1.0) < 1e-9
    assert abs(tau - 0.40) < 1e-9


def test_tune_threshold_verified_roundtrip(spark):
    """The verify loop re-runs the scorer and must reproduce the sweep's F1
    (matcher.py:229-252 semantics); a lying rescore must raise."""
    import pytest

    from ditto_spark.operators.evaluate import tune_threshold_verified

    rows = [(0.7, 1), (0.9, 1), (0.8, 1), (0.4, 0), (0.2, 0), (0.3, 0)]
    df = spark.createDataFrame(rows, "prob double, label int")
    tau, swept, verified = tune_threshold_verified(df, lambda: df)
    assert abs(swept - verified) < 1e-12
    assert abs(tau - 0.40) < 1e-9

    flipped = spark.createDataFrame(
        [(1.0 - p, l) for p, l in rows], "prob double, label int"
    )
    with pytest.raises(RuntimeError, match="not deterministic"):
        tune_threshold_verified(df, lambda: flipped)


def test_tune_threshold_empty_validation_raises(spark):
    import pytest

    from ditto_spark.operators.evaluate import tune_threshold_verified

    empty = spark.createDataFrame([], "prob double, label int")
    with pytest.raises(ValueError, match="^tune_threshold: .*empty"):
        tune_threshold(empty)
    with pytest.raises(ValueError, match="^tune_threshold_verified: .*empty"):
        tune_threshold_verified(empty, lambda: empty)


def test_numpy_cross_encoder_semantics():
    """M1 forward-pass vehicle: deterministic, batch-padding-invariant
    (attention mask works), probabilities in (0, 1), identical pairs score
    identically regardless of batch composition."""
    from ditto_spark.operators.scoring import numpy_cross_encoder_factory

    scorer = numpy_cross_encoder_factory()()
    l = pd.Series(["alpha beta gamma", "delta epsilon"])
    r = pd.Series(["alpha beta gamma", "zeta eta theta iota kappa"])
    p2 = scorer(l, r)
    assert p2.shape == (2,)
    assert np.all((p2 > 0) & (p2 < 1))
    # batch invariance: score row 0 alone — padding length differs, result must not
    p1 = scorer(l[:1], r[:1])
    assert abs(p1[0] - p2[0]) < 1e-12
    # determinism across factory instances
    again = numpy_cross_encoder_factory()()(l, r)
    assert np.allclose(again, p2, atol=0)


def test_numpy_cross_encoder_in_udf_slot(spark):
    from ditto_spark.operators.scoring import numpy_cross_encoder_factory

    df = spark.createDataFrame(
        [("a", "b", "sony tv 55", "sony tv 55"), ("c", "d", "one", "two three")],
        "left_id string, right_id string, left_txt string, right_txt string",
    )
    out = {
        r["left_id"]: r["prob"]
        for r in score_pairs(df, scorer_factory=numpy_cross_encoder_factory()).collect()
    }
    assert set(out) == {"a", "c"}
    for v in out.values():
        assert 0.0 < v < 1.0


def test_edit_similarity_known_values(spark):
    from ditto_spark.operators.scoring import edit_similarity_pairs

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "left_id long, right_id long"
    )
    got = {
        (r["left_id"], r["right_id"]): (r["edit_dist"], r["edit_sim"])
        for r in edit_similarity_pairs(pairs, docs).collect()
    }
    assert got[(1, 2)][0] == 3
    assert abs(got[(1, 2)][1] - (1 - 3 / 7)) < 1e-8
    assert got[(3, 4)] == (0, 1.0)  # empty-vs-empty guarded, sim 1


def test_edit_similarity_prefix_truncation_and_threshold(spark):
    from ditto_spark.operators.scoring import edit_similarity_pairs

    docs = spark.createDataFrame(
        [(1, "abcd" + "x" * 50), (2, "abcd" + "y" * 50), (5, "zzzz")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 5)], "left_id long, right_id long"
    )
    # prefix_len=4: both sides truncate to "abcd" -> dist 0, sim 1
    got = {
        (r["left_id"], r["right_id"]): (r["edit_dist"], r["edit_sim"])
        for r in edit_similarity_pairs(pairs, docs, prefix_len=4).collect()
    }
    assert got[(1, 2)] == (0, 1.0)
    assert got[(1, 5)] == (4, 0.0)
    kept = edit_similarity_pairs(pairs, docs, prefix_len=4, min_sim=0.5).collect()
    assert {(r["left_id"], r["right_id"]) for r in kept} == {(1, 2)}


def test_mutual_best_match_chain_and_ties(spark):
    from ditto_spark.operators.scoring import mutual_best_match

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),   # mutual best -> kept
            (2, 3, 0.8),   # 3's best is 2, but 2's best is 1 -> dropped
            (3, 4, 0.8),   # tie for 3 (vs 2): smaller neighbor id 2 wins -> dropped
            (4, 5, 0.7),   # 4's best is 3 -> dropped even though 5's best is 4
            (6, 7, 0.5),   # isolated mutual pair -> kept
        ],
        "left_id long, right_id long, score double",
    )
    got = {
        (r["left_id"], r["right_id"]): r["score"]
        for r in mutual_best_match(pairs).collect()
    }
    assert got == {(1, 2): 0.9, (6, 7): 0.5}


def test_bipartite_best_match_one_to_one(spark):
    from ditto_spark.operators.scoring import bipartite_best_match

    pairs = spark.createDataFrame(
        [
            (1, 10, 0.9),  # 1's best and 10's best -> kept
            (1, 11, 0.8),
            (2, 10, 0.7),  # 10 prefers 1 -> dropped
            (2, 11, 0.6),  # 2's best after 10; 11's best after 1? 11: (1,0.8) wins -> dropped
            (3, 12, 0.5),
            (4, 12, 0.5),  # tie on 12: smaller left_id (3) wins
        ],
        "left_id long, right_id long, score double",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in bipartite_best_match(pairs).collect()
    }
    assert got == {(1, 10), (3, 12)}


def test_fs_linkage_precision_against_truth(spark):
    """The composed FS 1:1 linkage: links are overwhelmingly the true
    (left_id == right_id) pairs at posterior >= 0.9."""
    import __spark_entry__ as E

    rows = E.q_fs_linkage(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 50
    correct = sum(1 for r in rows if r["left_id"] == r["right_id"])
    assert correct / len(rows) >= 0.95


def test_weighted_jaccard_hand_computed(spark):
    """WJ weights rare-token agreement above stopword agreement."""
    from ditto_spark.operators.scoring import score_pairs_weighted_jaccard

    idf = spark.createDataFrame(
        [("the", 0.1), ("zygote", 5.0), ("cat", 2.0), ("dog", 2.0)],
        "token string, idf double",
    )
    pairs = spark.createDataFrame(
        [
            # agree only on the stopword: 0.1 / (0.1+5.0+0.1+2.0-0.1)
            (1, 2, "the zygote", "the cat"),
            # agree on the rare token: 5.1 / 5.1  = 1.0
            (3, 4, "the zygote", "zygote the"),
            # no overlap at all
            (5, 6, "cat", "dog"),
            # one side has no tokens
            (7, 8, "", "cat"),
        ],
        "left_id long, right_id long, left_txt string, right_txt string",
    )
    got = {
        (r["left_id"], r["right_id"]): r["prob"]
        for r in score_pairs_weighted_jaccard(pairs, idf).collect()
    }
    assert abs(got[(1, 2)] - 0.1 / 7.1) < 1e-12
    assert abs(got[(3, 4)] - 1.0) < 1e-12
    assert got[(5, 6)] == 0.0
    assert got[(7, 8)] == 0.0


def test_weighted_jaccard_set_semantics_and_default(spark):
    """Repeated tokens count once (set semantics); unknown tokens get the
    default weight."""
    from ditto_spark.operators.scoring import score_pairs_weighted_jaccard

    idf = spark.createDataFrame([("a", 3.0)], "token string, idf double")
    pairs = spark.createDataFrame(
        [(1, 2, "a a a", "a unknowntok")],
        "left_id long, right_id long, left_txt string, right_txt string",
    )
    got = score_pairs_weighted_jaccard(pairs, idf, default_idf=1.0).collect()[0]["prob"]
    # A = {a}: 3.0;  B = {a, unknowntok}: 3.0 + 1.0;  I = 3.0
    assert abs(got - 3.0 / 4.0) < 1e-12


def _cache_pairs(spark, texts):
    rows = [
        (f"l{i}", f"r{i}", lt, rt) for i, (lt, rt) in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows, "left_id string, right_id string, left_txt string, right_txt string"
    )


def test_score_pairs_cached_first_run_matches_plain(spark, tmp_path):
    from ditto_spark.operators.scoring import score_pairs_cached

    pairs = _cache_pairs(
        spark, [("a b c", "a b d"), ("x y", "x y"), ("p q", "z w")]
    )
    plain = {
        (r["left_id"], r["right_id"]): r["prob"]
        for r in score_pairs_builtin(pairs).collect()
    }
    cached = {
        (r["left_id"], r["right_id"]): r["prob"]
        for r in score_pairs_cached(
            pairs, str(tmp_path / "c1"), score_fn=score_pairs_builtin
        ).collect()
    }
    assert cached == plain and len(cached) == 3


def test_score_pairs_cached_second_run_scores_only_delta(spark, tmp_path):
    from ditto_spark.operators.scoring import (
        score_pairs_cached,
        score_cache_size,
    )

    calls = []

    def counting_score(df):
        out = score_pairs_builtin(df)
        calls.append(out.count())  # eager: how many pairs hit the scorer
        return out

    cache = str(tmp_path / "c2")
    run1 = _cache_pairs(spark, [("a b", "a c"), ("d e", "d e")])
    out1 = score_pairs_cached(run1, cache, score_fn=counting_score)
    assert out1.count() == 2 and calls == [2]
    assert score_cache_size(spark, cache) == 2

    # run 2: one seen pair (different ids, same text), one new pair
    run2 = _cache_pairs(spark, [("a b", "a c"), ("f g", "f h")])
    out2 = score_pairs_cached(run2, cache, score_fn=counting_score)
    assert out2.count() == 2
    assert calls == [2, 1]  # only the genuinely new text-pair was scored
    assert score_cache_size(spark, cache) == 3

    # run 3: fully cached — scorer sees zero rows
    out3 = score_pairs_cached(run2, cache, score_fn=counting_score)
    assert out3.count() == 2 and calls == [2, 1, 0]


def test_score_pairs_cached_changed_text_rescored(spark, tmp_path):
    from ditto_spark.operators.scoring import score_pairs_cached, score_cache_size

    cache = str(tmp_path / "c3")
    score_pairs_cached(
        _cache_pairs(spark, [("hello world", "hello там")]),
        cache,
        score_fn=score_pairs_builtin,
    ).count()
    # same ids, edited text → new content key → re-scored, old entry kept
    score_pairs_cached(
        _cache_pairs(spark, [("hello world EDITED", "hello там")]),
        cache,
        score_fn=score_pairs_builtin,
    ).count()
    assert score_cache_size(spark, cache) == 2


def test_score_pairs_cached_duplicate_text_pairs_scored_once(spark, tmp_path):
    from ditto_spark.operators.scoring import score_pairs_cached

    calls = []

    def counting_score(df):
        out = score_pairs_builtin(df)
        calls.append(out.count())
        return out

    # 4 id-pairs but only 2 distinct text-pairs
    pairs = _cache_pairs(
        spark,
        [("a b", "a c"), ("a b", "a c"), ("q r", "q s"), ("q r", "q s")],
    )
    out = score_pairs_cached(pairs, str(tmp_path / "c4"), score_fn=counting_score)
    assert out.count() == 4 and calls == [2]


def test_match_evidence_known_values(spark):
    """Hand corpus: 4 docs; 'xkz' appears in 2 docs (rare, heavy), 'the' in
    all 4 (common, light). Pair (1,2) shares both; (3,4) shares nothing."""
    import math

    from ditto_spark.operators.scoring import build_idf_df, match_evidence

    docs = spark.createDataFrame(
        [
            (1, "the xkz report"),
            (2, "the xkz summary"),
            (3, "the alpha file"),
            (4, "beta notes only"),
        ],
        "doc_id bigint, text string",
    )
    idf = build_idf_df(docs.select(F.col("text").alias("txt")))
    pt = spark.createDataFrame(
        [
            (1, 2, "the xkz report", "the xkz summary"),
            (3, 4, "the alpha file", "beta notes only"),
        ],
        "left_id bigint, right_id bigint, left_txt string, right_txt string",
    )
    out = {r["left_id"]: r for r in match_evidence(pt, idf, k=1).collect()}
    w_xkz = math.log(1 + 4 / 2)  # idf of the rare shared token
    w_the = math.log(1 + 4 / 3)  # 'the' is in docs 1-3 only
    r12 = out[1]
    assert r12["evidence"] == "xkz"  # k=1 keeps the heaviest shared token
    assert abs(r12["evidence_weight"] - round(w_xkz + w_the, 6)) < 1e-9
    assert r12["n_overlap"] == 2
    r34 = out[3]  # zero-overlap pair survives with empty evidence
    assert (r34["evidence"], r34["evidence_weight"], r34["n_overlap"]) == ("", 0.0, 0)


def test_score_pairs_progressive_matches_one_shot(spark):
    """Transitivity pruning must not change clusters (the theorem the
    docstring states), and on planted duplicate groups (near-cliques) the
    later batches must actually prune pairs."""
    from ditto_spark.operators.blocking import block_minhash_lsh
    from ditto_spark.operators.cluster import connected_components
    from ditto_spark.operators.scoring import (
        attach_pair_text,
        score_pairs_progressive,
    )
    from ditto_spark.operators.serialize import serialize_conversations
    from ditto_spark.synth import generate_transcripts

    t = generate_transcripts(spark, n_base=80, seed=42, max_dups=3, dup_prob=0.9)
    ser = serialize_conversations(t).persist()
    cand = block_minhash_lsh(ser, text_col="block_text")
    pt = attach_pair_text(
        cand.select("left_id", "right_id", "est_jaccard"),
        ser.select("conv_id", F.col("block_text").alias("entity_text")),
    )
    tau = 0.5

    # one-shot reference: score everything, threshold, full CC
    edges = score_pairs(pt).where(F.col("prob") > tau).select("left_id", "right_id")
    want = {
        (r["conv_id"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }

    prog, stats = score_pairs_progressive(pt, threshold=tau, n_batches=4)
    got = {(r["conv_id"], r["cluster_id"]) for r in prog.collect()}
    assert got == want
    assert stats["pairs_pruned"] > 0  # cliques resolved early prune later pairs
    assert stats["pairs_scored"] + stats["pairs_pruned"] == pt.count()
