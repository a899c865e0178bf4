"""P5 — data-augmentation / corruption operators.

The reference's Augmenter (/root/reference/ditto_light/augment.py:13-187)
implements token/column-level ops (`del`, `token_del`, `swap`,
`drop_token`, `drop_sym`, `drop_same`, `drop_len`, `ins`, `all`) used for
train-time MixDA. Training is out of scope here (we consume checkpoints),
so these ops serve two production roles instead:
  1. corruption model for planted-duplicate test corpora
     (ditto_spark.synth uses the same del/swap/ins model), and
  2. robustness augmentation for training-data pipelines (emit perturbed
     copies of documents at scale).

Deterministic by (seed, id): every op derives its randomness from
xxhash64(id, seed, position) — pure JVM expressions, zero Python, identical
output under any partitioning. (The reference uses global `random` state —
augment.py:31 — which is irreproducible under parallelism; determinism here
is semantics, not a bug-for-bug copy. NB augment.py:43's label slicing bug
is intent-replicated, not copied, per SURVEY.md P5.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import space_tokens


def _rand01(id_col: F.Column, salt: F.Column | int, seed: int) -> F.Column:
    """Deterministic uniform [0,1) from (id, salt, seed)."""
    h = F.xxhash64(id_col, F.lit(seed), salt if isinstance(salt, F.Column) else F.lit(salt))
    return (F.pmod(h, F.lit(1_000_000)) / 1_000_000.0)


def token_del(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              out_col: str = "augmented", p: float = 0.1, seed: int = 101) -> DataFrame:
    """Delete each token independently with probability p
    (augment.py token_del semantics), keeping at least one token."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    kept = F.filter(
        F.zip_with(toks, idx, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: _rand01(F.col(id_col), s["i"], seed) >= p,
    )
    out = F.when(F.size(kept) > 0, F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))).otherwise(
        F.col(text_col)
    )
    return df.withColumn(out_col, out)


def token_swap(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               out_col: str = "augmented", p: float = 0.1, seed: int = 202) -> DataFrame:
    """Swap adjacent token pairs (even positions) with probability p
    (augment.py swap semantics, adjacent-pair form)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - 1)
    swapped = F.transform(
        idx,
        lambda i: F.when(
            (i % 2 == 0) & (i + 1 < n) & (_rand01(F.col(id_col), i, seed) < p),
            F.element_at(toks, i + 2),  # 1-based element_at
        )
        .when(
            (i % 2 == 1) & (_rand01(F.col(id_col), i - 1, seed) < p),
            F.element_at(toks, i),  # token to the left (i-1 zero-based)
        )
        .otherwise(F.element_at(toks, i + 1)),
    )
    return df.withColumn(out_col, F.concat_ws(" ", swapped))


def drop_sym(df: DataFrame, text_col: str = "text",
             out_col: str = "augmented") -> DataFrame:
    """Remove non-alphanumeric symbols (augment.py drop_sym)."""
    return df.withColumn(
        out_col,
        F.trim(F.regexp_replace(
            F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]+", " "), " +", " "
        )),
    )


def drop_same(df: DataFrame, text_col: str = "text",
              out_col: str = "augmented") -> DataFrame:
    """Deduplicate repeated tokens keeping first occurrence
    (augment.py drop_same): array_distinct keeps first-occurrence order.
    Text with no tokens (empty, all spaces, NULL) gives ''."""
    return df.withColumn(
        out_col, F.concat_ws(" ", F.array_distinct(space_tokens(F.col(text_col))))
    )


def drop_len(df: DataFrame, text_col: str = "text", out_col: str = "augmented",
             max_len: int = 12) -> DataFrame:
    """Drop tokens longer than max_len chars (augment.py drop_len)."""
    toks = space_tokens(F.col(text_col))
    kept = F.filter(toks, lambda t: F.length(t) <= max_len)
    return df.withColumn(
        out_col,
        F.when(F.size(kept) > 0, F.concat_ws(" ", kept)).otherwise(F.col(text_col)),
    )


def _segments(text_col: F.Column) -> F.Column:
    """Split COL/VAL-serialized text into per-attribute segments, each
    starting with 'COL' (lookahead split; reference walks col_starts at
    augment.py:117-143). Segments are trimmed."""
    return F.filter(
        F.transform(F.split(text_col, "(?=COL )"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def drop_col(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             out_col: str = "augmented", max_col_tokens: int = 8,
             seed: int = 404) -> DataFrame:
    """Remove one randomly-chosen SHORT attribute segment (≤ max_col_tokens
    tokens, matching augment.py:175 'le <= 8'); unchanged when no segment
    qualifies. Deterministic by xxhash64(id, seed)."""
    segs = _segments(F.col(text_col))
    is_cand = lambda s: s.startswith("COL ") & (  # noqa: E731
        F.size(F.split(s, " ")) <= max_col_tokens
    )
    n_cand = F.size(F.filter(segs, is_cand))
    pick = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), n_cand)
    # index (0-based, among candidates) → drop that segment
    idx = F.sequence(F.lit(0), F.size(segs) - 1)
    cand_rank = F.transform(
        idx,
        lambda i: F.size(
            F.filter(F.slice(segs, 1, i + 1), is_cand)
        ) - 1,  # candidate rank of segment i if it IS a candidate
    )
    kept = F.filter(
        idx,
        lambda i: ~is_cand(F.element_at(segs, i + 1))
        | (F.element_at(cand_rank, i + 1) != pick),
    )
    out = F.when(
        n_cand > 0,
        F.concat_ws(" ", F.transform(kept, lambda i: F.element_at(segs, i + 1))),
    ).otherwise(F.col(text_col))
    return df.withColumn(out_col, out)


def append_col(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               out_col: str = "augmented", seed: int = 505) -> DataFrame:
    """Move one attribute's VALUES onto another attribute: remove segment
    idx1 and append its tokens-after-VAL to segment idx2 (augment.py:116-158
    semantics — the reference samples among COL columns only, so a non-COL
    leading fragment is never a source or target; round-2 advisor fix).
    Unchanged when fewer than 2 COL segments qualify. Deterministic by
    xxhash64(id, seed): idx1 uniform over COL segments, idx2 uniform over
    the remaining COL segments."""
    segs = _segments(F.col(text_col))
    n = F.size(segs)
    idx = F.sequence(F.lit(0), n - 1)
    is_col = lambda s: s.startswith("COL ")  # noqa: E731
    # segment indices of COL segments, in order — candidate rank → seg index
    cand_idx = F.filter(idx, lambda i: is_col(F.element_at(segs, i + 1)))
    n_cand = F.size(cand_idx)
    c1 = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(1)), n_cand).cast("int")
    c2r = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(seed), F.lit(2)), n_cand - 1
    ).cast("int")
    c2 = F.when(c2r >= c1, c2r + 1).otherwise(c2r)  # uniform over != c1
    h1 = F.element_at(cand_idx, c1 + 1)
    idx2 = F.element_at(cand_idx, c2 + 1)
    val_part = F.regexp_replace(F.element_at(segs, h1 + 1), "^COL .*? VAL ", "")
    rebuilt = F.transform(
        idx,
        lambda i: F.when(i == h1, F.lit(""))
        .when(i == idx2, F.concat(F.element_at(segs, i + 1), F.lit(" "), val_part))
        .otherwise(F.element_at(segs, i + 1)),
    )
    out = F.when(
        n_cand >= 2,
        F.concat_ws(" ", F.filter(rebuilt, lambda s: s != "")),
    ).otherwise(F.col(text_col))
    return df.withColumn(out_col, out)


INS_SYMBOLS = ["-", "*", ".", ",", "#", "&"]


def token_ins(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              out_col: str = "augmented", seed: int = 606) -> DataFrame:
    """Insert one random symbol from '-*.,#&' at a random token position
    (augment.py:108-113 'ins'). Deterministic by xxhash64(id, seed)."""
    toks = space_tokens(F.col(text_col))
    n = F.size(toks)
    pos = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(1)), n + 1).cast("int")
    sym = F.element_at(
        F.array(*[F.lit(s) for s in INS_SYMBOLS]),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(2)), F.lit(len(INS_SYMBOLS))).cast("int") + 1,
    )
    out = F.concat_ws(
        " ",
        F.concat(
            F.slice(toks, 1, pos),
            F.array(sym),
            F.slice(toks, pos + 1, n - pos),
        ),
    )
    return df.withColumn(out_col, out)


RANDAUGMENT_OPS = ["del", "swap", "drop_col", "append_col"]


def augment_all(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                out_col: str = "augmented", n_steps: int = 3,
                seed: int = 707) -> DataFrame:
    """RandAugment (augment.py:222-227: N=3 ops drawn from
    del/swap/drop_col/append_col, applied sequentially). The per-row op
    choice is deterministic — xxhash64(id, seed, step) — and applied
    RELATIONALLY: each step splits the frame into one partition per op,
    applies that op's expression, and unions back (no 4^N expression
    blow-up, no Python). del/swap use the deterministic per-token forms of
    this module (documented adaptation of the reference's span ops)."""
    out = df.withColumn(out_col, F.col(text_col))
    for step in range(n_steps):
        code = F.pmod(
            F.xxhash64(F.col(id_col), F.lit(seed), F.lit(step)),
            F.lit(len(RANDAUGMENT_OPS)),
        )
        parts = []
        for k, op in enumerate(RANDAUGMENT_OPS):
            sub = out.where(code == k)
            step_seed = seed * 1000 + step
            if op == "del":
                sub = token_del(sub, id_col, out_col, "_nxt", p=0.1, seed=step_seed)
            elif op == "swap":
                sub = token_swap(sub, id_col, out_col, "_nxt", p=0.2, seed=step_seed)
            elif op == "drop_col":
                sub = drop_col(sub, id_col, out_col, "_nxt", seed=step_seed)
            else:
                sub = append_col(sub, id_col, out_col, "_nxt", seed=step_seed)
            parts.append(sub.withColumn(out_col, F.col("_nxt")).drop("_nxt"))
        first = parts[0]
        for p in parts[1:]:
            first = first.unionByName(p)
        out = first
    # the unions multiply partition count 4x per step (4^n_steps total);
    # coalesce (no shuffle) back to the session's parallelism
    return out.coalesce(
        int(df.sparkSession.sparkContext.defaultParallelism)
    )


def flip_entries(pairs: DataFrame, left_col: str = "left_txt",
                 right_col: str = "right_txt", id_cols: tuple[str, str] = ("left_id", "right_id"),
                 seed: int = 808) -> DataFrame:
    """50% left↔right entry flip (augment.py:203-206: the reference flips
    the two serialized entries of a pair before augmentation half the
    time). Deterministic by xxhash64(left_id, right_id, seed) — an
    involution: applying it twice restores the original pairs."""
    lid, rid = id_cols
    flip = F.pmod(F.xxhash64(F.col(lid), F.col(rid), F.lit(seed)), F.lit(2)) == 0
    keep = [c for c in pairs.columns if c not in (left_col, right_col)]
    return pairs.select(
        *keep,
        F.when(flip, F.col(right_col)).otherwise(F.col(left_col)).alias(left_col),
        F.when(flip, F.col(left_col)).otherwise(F.col(right_col)).alias(right_col),
    )


def augment_copies(df: DataFrame, n_copies: int = 2, id_col: str = "doc_id",
                   text_col: str = "text", p: float = 0.1,
                   seed: int = 303) -> DataFrame:
    """Emit n_copies perturbed variants per row (copy_idx ≥ 1) plus the
    original (copy_idx 0) — the scale-out augmentation pattern: explode
    first, then one deterministic token_del keyed by (id, copy_idx)."""
    copies = df.select(
        F.col(id_col), F.col(text_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_copies))).alias("copy_idx"),
    )
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    kept = F.filter(
        F.zip_with(toks, idx, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: (F.col("copy_idx") == 0)
        | (_rand01(F.xxhash64(F.col(id_col), F.col("copy_idx")), s["i"], seed) >= p),
    )
    out = F.when(
        F.size(kept) > 0, F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
    ).otherwise(F.col(text_col))
    return copies.withColumn("augmented", out)
