"""Phonetic blocking keys (American Soundex) — the classic record-linkage
blocking family (Febrl / recordlinkage standard): names that sound alike get
equal 4-char codes, so a soundex equi-join is a zero-false-dismissal blocker
for spelling-variant names (Robert/Rupert -> R163).

Implementation is a chain of regexp_replace/CASE Catalyst expressions —
zero shuffle, whole-stage codegen — chosen over Spark's builtin `soundex`
because the identical chain re-renders as portable SQL (`soundex_sql`): the
DuckDB oracle runs the same algorithm by construction (DuckDB has no
soundex, and RE2 has no backreferences, so duplicate-collapse is per-digit).
`tests/test_phonetic.py` additionally pins agreement with Spark's builtin
soundex on the alphabetic test corpus.

Algorithm (American Soundex, h/w collapse rule):
  1. keep letters only, lowercase; empty -> null
  2. first letter retained as the code's letter
  3. drop h/w (same-coded consonants separated by h/w collapse), map
     vowels->0 (separator: same codes across a vowel do NOT collapse),
     consonants->1..6
  4. collapse adjacent duplicate digits, drop the first letter's own code,
     drop separators, pad/truncate to letter + 3 digits
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.scoring import idf_lookup

_GROUPS = [
    ("[bfpv]", "1"),
    ("[cgjkqsxz]", "2"),
    ("[dt]", "3"),
    ("[l]", "4"),
    ("[mn]", "5"),
    ("[r]", "6"),
    ("[aeiouy]", "0"),
]


def soundex_key(col: Column) -> Column:
    """4-char American Soundex code (e.g. 'R163'), null for inputs with no
    ASCII letters."""
    s = F.lower(F.regexp_replace(col, "[^A-Za-z]", ""))
    first = F.upper(F.substring(s, 1, 1))
    coded = F.regexp_replace(s, "[hw]", "")
    for pat, digit in _GROUPS:
        coded = F.regexp_replace(coded, pat, digit)
    for d in "0123456":
        coded = F.regexp_replace(coded, f"{d}{d}+", d)
    # Drop the first letter's own code: after h/w removal + collapse, a
    # coded-consonant first letter contributes exactly the leading digit.
    # Vowel-initial strings lead with '0' (stripped with the separators);
    # h/w-initial strings contributed nothing.
    body = F.when(
        first.isin(*list("AEIOUYHW")), coded
    ).otherwise(F.substring(coded, 2, 1000000))
    body = F.regexp_replace(body, "0", "")
    return F.when(
        F.length(s) > 0, F.concat(first, F.rpad(F.substring(body, 1, 3), 3, "0"))
    )


def soundex_sql(expr: str) -> str:
    """The identical algorithm as a portable SQL scalar expression over
    `expr` (DuckDB-safe: RE2 regexes, no backreferences)."""
    s = f"lower(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))"
    coded = f"regexp_replace({s}, '[hw]', '', 'g')"
    for pat, digit in _GROUPS:
        coded = f"regexp_replace({coded}, '{pat}', '{digit}', 'g')"
    for d in "0123456":
        coded = f"regexp_replace({coded}, '{d}{d}+', '{d}', 'g')"
    first = f"upper(substr({s}, 1, 1))"
    body = (
        f"CASE WHEN {first} IN ('A','E','I','O','U','Y','H','W') THEN {coded} "
        f"ELSE substr({coded}, 2) END"
    )
    body = f"regexp_replace({body}, '0', '', 'g')"
    return (
        f"CASE WHEN length({s}) > 0 "
        f"THEN {first} || rpad(substr({body}, 1, 3), 3, '0') END"
    )


def jaro_winkler_udf():
    """Jaro-Winkler similarity (Winkler boost p=0.1, prefix<=4, boost only
    when jaro > 0.7 — the textbook variant; DuckDB's builtin
    jaro_winkler_similarity reproduces it bit-for-bit, which is what makes
    the oracle exact) as an Arrow-batched pandas UDF — the comparator
    Splink defaults to for name columns, slotting into the same
    post-blocking verify position as scoring.edit_similarity_pairs.

    The per-pair matching loop is inherently sequential (window-bounded
    transpositions), so this is honest batched-Python, not a Catalyst
    expression; pairs reaching it are post-blocking (bounded volume). Nulls
    propagate as null."""
    def _jaro(s1: str, s2: str) -> float:
        if s1 == s2:
            return 1.0
        l1, l2 = len(s1), len(s2)
        if l1 == 0 or l2 == 0:
            return 0.0
        md = max(l1, l2) // 2 - 1
        m1 = [False] * l1
        m2 = [False] * l2
        matches = 0
        for i, c in enumerate(s1):
            lo, hi = max(0, i - md), min(l2, i + md + 1)
            for j in range(lo, hi):
                if not m2[j] and s2[j] == c:
                    m1[i] = m2[j] = True
                    matches += 1
                    break
        if matches == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0

    def _jw(s1, s2):
        j = _jaro(s1, s2)
        if j > 0.7:
            l = 0
            for a, b in zip(s1[:4], s2[:4]):
                if a != b:
                    break
                l += 1
            return j + l * 0.1 * (1.0 - j)
        return j

    @F.pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a), dtype=np.float64)
        mask = a.isna() | b.isna()
        out[mask.values] = np.nan
        av, bv = a.values, b.values
        for i in range(len(a)):
            if not mask.iat[i]:
                out[i] = _jw(av[i], bv[i])
        return pd.Series(out)

    return jw


def monge_elkan_scores(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    key_cols: list[str],
    symmetric: bool = True,
) -> DataFrame:
    """Monge-Elkan hybrid comparator (Monge & Elkan 1996): for multi-token
    strings, ME(A,B) = mean over tokens a in A of max over tokens b in B of
    an inner token similarity — here Jaro-Winkler, the classical pairing for
    name fields ("jonathan q smith" vs "smith, jonathon" scores high where
    whole-string JW collapses). `symmetric=True` returns the standard
    symmetrized (ME(A,B) + ME(B,A)) / 2 so argument order never matters.

    Relational plan (the 100 TB shape): both sides posexplode to
    (pair-key, token_idx, token); ONE pair-keyed equi-join forms the
    per-pair token cross (volume = sum over pairs of |A|x|B| tokens —
    bounded post-blocking, never a corpus cross join); the Arrow-batched JW
    UDF scores it; BOTH directions aggregate from that single crossed table
    (max per source-token, then avg per pair). Per-pair work is bounded by
    its own token counts, so no key is hotter than its longest string.

    `key_cols` must uniquely identify a pair. Rows whose split yields no
    token on either side drop out (inner join) — the caller's null policy.
    """
    jw = jaro_winkler_udf()
    ta = pairs.select(
        *key_cols, F.posexplode(F.split(F.col(left_col), " ")).alias("ai", "at")
    )
    tb = pairs.select(
        *key_cols, F.posexplode(F.split(F.col(right_col), " ")).alias("bi", "bt")
    )
    crossed = ta.join(tb, key_cols).withColumn(
        "s", jw(F.col("at"), F.col("bt"))
    )
    ab = (
        crossed.groupBy(*key_cols, "ai")
        .agg(F.max("s").alias("m"))
        .groupBy(*key_cols)
        .agg(F.avg("m").alias("me_ab"))
    )
    if not symmetric:
        return ab.select(*key_cols, F.col("me_ab").alias("monge_elkan"))
    ba = (
        crossed.groupBy(*key_cols, "bi")
        .agg(F.max("s").alias("m"))
        .groupBy(*key_cols)
        .agg(F.avg("m").alias("me_ba"))
    )
    me = (F.col("me_ab") + F.col("me_ba")) / 2
    return ab.join(ba, key_cols).select(*key_cols, me.alias("monge_elkan"))


def soft_tfidf_scores(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    key_cols: list[str],
    idf_df: DataFrame,
    theta: float = 0.9,
    default_idf: float = 1.0,
) -> DataFrame:
    """Soft-TF-IDF hybrid comparator (Cohen, Ravikumar & Fienberg 2003 —
    the best-performing string metric in their record-linkage study):

        STFIDF(S,T) = Σ_{w∈S : max_v JW(w,v) > θ}
                        V(w,S) · V(v*,T) · JW(w,v*),   v* = argmax_v JW(w,v)

    with V the L2-normalized log(tf+1)·idf token weights — TF-IDF cosine
    where tokens match SOFTLY (misspelled surname still pairs with its
    correction via Jaro-Winkler) but rare-token agreement still dominates
    (the IDF part Monge-Elkan lacks). Complements monge_elkan_scores
    (unweighted mean-of-max) and score_pairs_weighted_jaccard (exact-match
    IDF) as the third classical hybrid.

    Relational plan (same 100 TB shape as Monge-Elkan): per-side exploded
    (pair-key, token, tf) tables join the broadcast IDF index and their own
    per-pair L2 norms; ONE pair-keyed equi-join forms the token cross
    (bounded post-blocking); argmax-by-similarity is a lexicographic
    max(struct(s, bt, bv)) — no window, deterministic under ties (higher
    token string wins); pairs with no θ-close token score 0.0 via the
    final left join. Per-pair cost bounded by its own token counts.
    """
    jw = jaro_winkler_udf()

    def side(col: str, pre: str) -> DataFrame:
        t = pairs.select(
            *key_cols, F.explode(F.split(F.col(col), " ")).alias(f"{pre}t")
        ).where(F.col(f"{pre}t") != "")
        tf = t.groupBy(*key_cols, f"{pre}t").agg(
            F.count(F.lit(1)).alias("tf")
        )
        w = idf_lookup(tf, idf_df, default_idf, token_col=f"{pre}t").select(
            *key_cols,
            f"{pre}t",
            (F.log(F.col("tf") + 1.0) * F.col("idf")).alias("w"),
        )
        norms = w.groupBy(*key_cols).agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n")
        )
        return w.join(norms, key_cols).select(
            *key_cols, f"{pre}t", (F.col("w") / F.col("n")).alias(f"{pre}v")
        )

    a = side(left_col, "a")
    b = side(right_col, "b")
    crossed = a.join(b, key_cols).withColumn("s", jw(F.col("at"), F.col("bt")))
    best = crossed.groupBy(*key_cols, "at", "av").agg(
        F.max(F.struct("s", "bt", "bv")).alias("m")
    )
    scored = (
        best.where(F.col("m.s") > theta)
        .groupBy(*key_cols)
        .agg(
            F.sum(F.col("av") * F.col("m.bv") * F.col("m.s")).alias(
                "soft_tfidf"
            )
        )
    )
    return pairs.select(*key_cols).join(scored, key_cols, "left").select(
        *key_cols,
        F.coalesce("soft_tfidf", F.lit(0.0)).alias("soft_tfidf"),
    )
