import pyspark.sql.functions as F

from ditto_spark.operators.augment import (
    token_del,
    token_swap,
    drop_sym,
    drop_same,
    drop_len,
    augment_copies,
)


def _df(spark, text="alpha beta gamma delta epsilon zeta eta theta"):
    return spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")


def test_token_del_deterministic_and_bounded(spark):
    df = _df(spark)
    a = {r["doc_id"]: r["augmented"] for r in token_del(df, p=0.3).collect()}
    b = {r["doc_id"]: r["augmented"] for r in token_del(df, p=0.3).collect()}
    assert a == b  # deterministic
    for v in a.values():
        assert len(v.split()) >= 1
        assert set(v.split()) <= set("alpha beta gamma delta epsilon zeta eta theta".split())
    # p=0 → identity
    ident = token_del(df, p=0.0).collect()[0]["augmented"]
    assert ident == "alpha beta gamma delta epsilon zeta eta theta"


def test_token_swap_preserves_multiset(spark):
    df = _df(spark)
    out = token_swap(df, p=1.0).collect()[0]["augmented"]
    assert sorted(out.split()) == sorted("alpha beta gamma delta epsilon zeta eta theta".split())
    # p=1 swaps every adjacent pair
    assert out == "beta alpha delta gamma zeta epsilon theta eta"


def test_drop_sym(spark):
    df = spark.createDataFrame([(1, "a-b, c!! d (e)")], "doc_id long, text string")
    assert drop_sym(df).collect()[0]["augmented"] == "a b c d e"


def test_drop_same_keeps_first(spark):
    """First occurrences in order; text with no tokens gives '' (an empty
    token list once indexed out of bounds under ANSI mode)."""
    want = {
        1: ("x y x z y x", "x y z"),
        2: ("a b a c b", "a b c"),
        3: ("x y x z", "x y z"),
        4: ("", ""),
        5: ("  ", ""),
        6: (None, ""),
    }
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in want.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["augmented"] for r in drop_same(df).collect()}
    assert got == {i: out for i, (_, out) in want.items()}


def test_drop_len(spark):
    df = spark.createDataFrame(
        [(1, "short veryverylongtoken ok")], "doc_id long, text string"
    )
    assert drop_len(df, max_len=8).collect()[0]["augmented"] == "short ok"


def test_augment_copies(spark):
    df = _df(spark)
    out = augment_copies(df, n_copies=2, p=0.3)
    rows = out.collect()
    assert len(rows) == 6  # 2 docs x (original + 2 copies)
    for r in rows:
        if r["copy_idx"] == 0:
            assert r["augmented"] == r["text"]  # original untouched
    # deterministic across recomputation
    again = augment_copies(df, n_copies=2, p=0.3).collect()
    key = lambda r: (r["doc_id"], r["copy_idx"])  # noqa: E731
    assert {key(r): r["augmented"] for r in rows} == {key(r): r["augmented"] for r in again}


COLVAL = (
    "COL name VAL ipad mini COL brand VAL apple "
    "COL description VAL tablet with retina display and wifi plus cellular "
    "COL price VAL 399.00"
)


def _colval_df(spark, n=6):
    return spark.createDataFrame(
        [(i, COLVAL) for i in range(n)], "doc_id long, text string"
    )


def test_drop_col_removes_one_short_segment(spark):
    from ditto_spark.operators.augment import drop_col

    df = _colval_df(spark)
    out = {r["doc_id"]: r["augmented"] for r in drop_col(df).collect()}
    for i, v in out.items():
        # exactly one COL segment removed; the long description (>8 tokens)
        # is never a candidate
        assert v.count("COL") == COLVAL.count("COL") - 1
        assert "retina display" in v
    # deterministic under repartition
    again = {
        r["doc_id"]: r["augmented"]
        for r in drop_col(df.repartition(5)).collect()
    }
    assert out == again


def test_drop_col_no_candidate_unchanged(spark):
    from ditto_spark.operators.augment import drop_col

    long_only = "COL d VAL " + " ".join(f"tok{i}" for i in range(20))
    df = spark.createDataFrame([(1, long_only)], "doc_id long, text string")
    assert drop_col(df).collect()[0]["augmented"] == long_only
    plain = spark.createDataFrame([(1, "no structure here")], "doc_id long, text string")
    assert drop_col(plain).collect()[0]["augmented"] == "no structure here"


def test_append_col_moves_values(spark):
    from ditto_spark.operators.augment import append_col

    df = _colval_df(spark)
    orig_tokens = COLVAL.split()
    for r in append_col(df).collect():
        toks = r["augmented"].split()
        # one COL+attr+VAL header removed, all value tokens preserved
        assert toks.count("COL") == orig_tokens.count("COL") - 1
        assert toks.count("VAL") == orig_tokens.count("VAL") - 1
        for val_tok in ["ipad", "apple", "retina", "399.00"]:
            assert val_tok in toks
    # < 2 segments → unchanged
    one = spark.createDataFrame(
        [(1, "COL a VAL x y")], "doc_id long, text string"
    )
    assert append_col(one).collect()[0]["augmented"] == "COL a VAL x y"


def test_token_ins_adds_one_symbol(spark):
    from ditto_spark.operators.augment import token_ins, INS_SYMBOLS

    df = _colval_df(spark)
    for r in token_ins(df).collect():
        toks = r["augmented"].split()
        assert len(toks) == len(COLVAL.split()) + 1
        added = [t for t in toks if t in INS_SYMBOLS]
        assert len(added) >= 1


def test_augment_all_randaugment(spark):
    from ditto_spark.operators.augment import augment_all

    df = _colval_df(spark, n=12)
    out = {r["doc_id"]: r["augmented"] for r in augment_all(df).collect()}
    assert len(out) == 12
    # deterministic under repartition
    again = {
        r["doc_id"]: r["augmented"]
        for r in augment_all(df.repartition(7)).collect()
    }
    assert out == again
    # the op sequence varies by id → not all outputs identical
    assert len(set(out.values())) > 1
    for v in out.values():
        assert len(v.split()) >= 1


def test_flip_entries_half_and_involution(spark):
    from ditto_spark.operators.augment import flip_entries

    rows = [(f"l{i}", f"r{i}", f"Ltext{i}", f"Rtext{i}") for i in range(200)]
    pairs = spark.createDataFrame(
        rows, "left_id string, right_id string, left_txt string, right_txt string"
    )
    flipped = flip_entries(pairs)
    frac = (
        flipped.where(F.col("left_txt").startswith("R")).count() / 200
    )
    assert 0.35 < frac < 0.65  # ~50% flip rate
    # involution: flipping twice restores the original pairs
    twice = flip_entries(flipped)
    diff = twice.join(
        pairs,
        ["left_id", "right_id", "left_txt", "right_txt"],
        "left_anti",
    ).count()
    assert diff == 0
