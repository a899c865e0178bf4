"""P1/P2 — entity serialization: transcripts → Ditto-style COL/VAL strings.

Reference semantics: ``to_str`` renders each attribute as
``'COL %s VAL %s ' % (attr, val)`` (/root/reference/matcher.py:52-58) and
skips missing attributes (/root/reference/new_wdc/convert.py:13-14).

Here the entity is a *conversation* and the attributes are its turns in
stable (conv_id, turn_idx) order (BASELINE.json input_hint). Each turn
renders as ``COL role VAL <role> COL text VAL <text> [COL tool VAL <tool>]``
and turns are concatenated with single spaces.

Spark-first design: ONE shuffle — groupBy(conv_id) + collect_list(struct)
+ array_sort + higher-order transform + concat_ws, all whole-stage-codegen
JVM expressions (no Python). A Window.orderBy + collect_list would shuffle
twice; this formulation shuffles once and the sort is per-group in memory.
This groupBy is the flagship's first exchange; `pipeline.py` lists the
exchanges of every stage as tests/test_plans.py pins them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import (
    drop_frequent_keys,
    pair_sides,
    shared_key_pairs,
)


def render_turn_expr() -> F.Column:
    """COL/VAL rendering of a single turn; tool skipped when null (P2)."""
    base = F.concat(
        F.lit("COL role VAL "), F.col("role"), F.lit(" COL text VAL "), F.col("text")
    )
    return F.when(
        F.col("tool").isNotNull(),
        F.concat(base, F.lit(" COL tool VAL "), F.col("tool")),
    ).otherwise(base)


def serialize_conversations(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts)
    → serialized(conv_id, entity_text, n_turns).

    Ordering is made stable by sorting the collected struct array on
    turn_idx (array_sort on struct sorts by fields in order) — the
    per-turn-text-equality invariant the tests assert.
    """
    rendered = transcripts.select(
        "conv_id",
        F.struct(
            F.col("turn_idx"),
            render_turn_expr().alias("turn_text"),
            F.col("text").alias("raw_text"),
        ).alias("t"),
    )
    ordered = F.array_sort(F.collect_list("t"))
    return rendered.groupBy("conv_id").agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s["turn_text"])).alias(
            "entity_text"
        ),
        # content-only view for blocking: COL/VAL sentinels appear in every
        # turn of every conversation and would dilute shingle similarity
        # (all-pairs baseline Jaccard rises → LSH false candidates at scale)
        F.concat_ws(" ", F.transform(ordered, lambda s: s["raw_text"])).alias(
            "block_text"
        ),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
    )


def collapse_repeated_turns(
    df: DataFrame,
    actor_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    payload_cols: tuple[str, ...] = ("role", "text"),
) -> DataFrame:
    """Drop consecutive repeated turns within an actor's ordered stream —
    the transcript-hygiene pass before serialization: agents stuck in a
    retry loop, duplicated tool outputs, and double-submitted user turns
    otherwise inflate the serialized entity text and skew every downstream
    shingle/MinHash signature. A turn is dropped iff EVERY payload column
    null-safe-equals the previous turn's (SQL IS NOT DISTINCT FROM
    semantics, so null==null collapses too); the first turn of an actor is
    always kept.

    One actor-keyed window shuffle — the same exchange the serializer's
    ordering agg needs, so when composed upstream of it AQE reuses the
    partitioning. Hyperactive-actor skew is inherited from the data (an
    actor's stream is sequential by nature), same caveat as sessions.py.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(actor_col).orderBy(*[F.col(c) for c in order_cols])
    all_equal = None
    for c in payload_cols:
        eq = F.lag(F.col(c)).over(w).eqNullSafe(F.col(c))
        all_equal = eq if all_equal is None else (all_equal & eq)
    rn = F.row_number().over(w)
    return (
        df.withColumn("__rn", rn)
        .withColumn("__dup", all_equal)
        .where((F.col("__rn") == 1) | ~F.col("__dup"))
        .drop("__rn", "__dup")
    )


def conversation_structure_keys(
    transcripts: DataFrame,
    id_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """Transcript-shape blocking keys — the structural complement of text
    LSH for conversation linkage: two runs of the same agent dialog keep
    their turn structure even when the wording drifts (paraphrase,
    truncation, tool-output noise), so blocking on SHAPE recovers pairs a
    content blocker misses. Per conversation:

        n_turns        turn count
        role_seq_hash  md5 of the '|'-joined role sequence in turn order
        len_bucket     bit-length of total text chars (power-of-2 bucket:
                       integer-exact, no float log)

    ONE groupBy (the serializer's same ordering-in-agg trick: array_sort
    of (order, role, len) structs inside the aggregate — no separate
    window exchange). All expressions engine-portable."""
    t = F.struct(
        *[F.col(c) for c in order_cols],
        F.col(role_col).alias("__role"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__len"),
    )
    agg = transcripts.groupBy(id_col).agg(
        F.array_sort(F.collect_list(t)).alias("__ts")
    )
    roles = F.concat_ws(
        "|", F.transform(F.col("__ts"), lambda s: s["__role"])
    )
    chars = F.aggregate(
        F.col("__ts"), F.lit(0), lambda acc, s: acc + s["__len"]
    )
    return agg.select(
        F.col(id_col),
        F.size("__ts").alias("n_turns"),
        F.md5(roles).alias("role_seq_hash"),
        F.length(F.conv(chars.cast("string"), 10, 2)).alias("len_bucket"),
    )


def structure_blocking_pairs(
    keys: DataFrame,
    id_col: str = "conv_id",
    join_cols: tuple[str, ...] = ("role_seq_hash", "len_bucket"),
    max_bucket: int = 200,
) -> DataFrame:
    """Equi-join blocking on conversation-structure keys with a
    frequency cut: key groups larger than max_bucket are ubiquitous
    shapes (every 2-turn Q/A conversation shares one) and are dropped
    BEFORE the self-join (blocking.drop_frequent_keys, then
    blocking.shared_key_pairs — the same skew discipline as suffix
    blocking); pair text-LSH candidates with these via unionByName +
    dropDuplicates. Output: (left_id, right_id) distinct, left < right."""
    key_cols = list(join_cols)
    return shared_key_pairs(
        drop_frequent_keys(keys, key_cols, max_bucket), id_col, key_cols
    ).select("left_id", "right_id")


def turn_prefix_hashes(
    transcripts: DataFrame,
    id_col: str = "conv_id",
    fingerprint_cols: tuple[str, ...] = ("role", "text"),
    order_cols: tuple[str, ...] = ("turn_idx",),
    max_len: F.Column | int | None = None,
) -> DataFrame:
    """Rolling prefix-hash chain per conversation: chain[i] is an md5 over
    the first i+1 turn fingerprints in stable turn order, so two
    conversations share chain[i] iff their first i+1 turns agree exactly.
    The enabling structure for ordered prefix-containment detection
    (retries, continuations, and truncated reruns in agent-transcript
    corpora duplicate as PREFIX extensions, not as unordered overlaps —
    the ordered complement of the shingle containment join).

    Output: (id, seq_len, chain: array<string>).

    Plan: the serializer's one ordering-in-agg groupBy (array_sort of
    (order, fp) structs inside collect_list — no window exchange), then the
    chain folds JVM-side via F.aggregate. The fold appends to an array
    accumulator, so per-conversation cost is O(n_turns^2) array copies —
    fine at transcript turn counts (tens), documented for longer streams.

    ``max_len`` truncates each conversation's sequence first; it may be a
    Column over id_col (per-entity cap) or an int.
    """
    fp = F.md5(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(""))
                for c in fingerprint_cols
            ],
        )
    )
    t = F.struct(*[F.col(c) for c in order_cols], fp.alias("__fp"))
    agg = transcripts.groupBy(id_col).agg(
        F.array_sort(F.collect_list(t)).alias("__ts")
    )
    fps = F.transform(F.col("__ts"), lambda s: s["__fp"])
    if max_len is not None:
        ml = max_len if isinstance(max_len, F.Column) else F.lit(int(max_len))
        fps = F.slice(fps, F.lit(1), ml)
    chain = F.aggregate(
        fps,
        F.array().cast("array<string>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.md5(
                    F.concat(
                        F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit("")),
                        F.lit("|"),
                        x,
                    )
                )
            ),
        ),
    )
    return agg.select(F.col(id_col), chain.alias("chain")).select(
        id_col, F.size("chain").alias("seq_len"), "chain"
    )


def prefix_containment_pairs(
    transcripts: DataFrame,
    id_col: str = "conv_id",
    fingerprint_cols: tuple[str, ...] = ("role", "text"),
    order_cols: tuple[str, ...] = ("turn_idx",),
    max_len: F.Column | int | None = None,
    canonical_only: bool = False,
) -> DataFrame:
    """Ordered prefix-containment detection: pairs (contained, container)
    where the contained conversation's full turn-fingerprint sequence is
    exactly the container's first ``prefix_len`` turns. Catches the
    transcript-native duplication modes an unordered blocker scores low:
    a rerun truncated by a crash, a continuation that extends an earlier
    conversation, a conversation replayed verbatim then extended.

    Equal sequences pair once (contained_id < container_id); strict
    prefixes pair in containment direction regardless of id order.

    Plan shape (the reason this scales): the join ships ONLY
    (md5, int, id) rows — never turn text. The contained side is one row
    per conversation (its full-sequence hash); the container side is one
    row per (conversation, prefix length) — sum(n_turns) rows, the same
    cardinality as the input table. Equi-join on (hash, length); a hot key
    is a genuinely duplicated prefix group, whose pairs are the answer,
    not skew noise. With ``canonical_only=True`` each contained
    conversation keeps a single best container (longest, then min id) via
    one id-keyed window — linear output for the dedup path instead of the
    full pair set.

    Output: (contained_id, container_id, prefix_len, container_len).
    """
    h = turn_prefix_hashes(
        transcripts,
        id_col=id_col,
        fingerprint_cols=fingerprint_cols,
        order_cols=order_cols,
        max_len=max_len,
    )
    full = h.select(
        F.col(id_col).alias("contained_id"),
        F.col("seq_len").alias("prefix_len"),
        F.try_element_at("chain", F.lit(-1)).alias("__h"),
    )
    pref = h.select(
        F.col(id_col).alias("container_id"),
        F.col("seq_len").alias("container_len"),
        F.posexplode("chain").alias("__p", "__h"),
    ).select(
        "container_id",
        "container_len",
        (F.col("__p") + 1).alias("prefix_len"),
        "__h",
    )
    pairs = (
        full.join(pref, ["__h", "prefix_len"])
        .where(
            (F.col("contained_id") != F.col("container_id"))
            & (
                (F.col("prefix_len") < F.col("container_len"))
                | (F.col("contained_id") < F.col("container_id"))
            )
        )
        .select("contained_id", "container_id", "prefix_len", "container_len")
    )
    if canonical_only:
        from pyspark.sql import Window

        w = Window.partitionBy("contained_id").orderBy(
            F.col("container_len").desc(), F.col("container_id").asc()
        )
        pairs = (
            pairs.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    return pairs


def turn_alignment_scores(
    pairs: DataFrame,
    transcripts: DataFrame,
    id_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """Transcript-pair comparator at TURN granularity — the verify step
    matching how conversations actually duplicate: whole turns repeat or
    disappear; characters within a turn rarely drift independently. Two
    measures per candidate pair:

        aligned_frac  fraction of positions whose turn fingerprints agree
                      under strict turn-order alignment (denominator =
                      longer side; a truncated rerun scores len_short/len_long)
        turn_jaccard  order-free overlap of the distinct turn-fingerprint
                      sets — robust to reordering/insertion where strict
                      alignment collapses

    Plan: ONE ordering-in-agg groupBy builds each conversation's ordered
    turn-fingerprint array (md5(role|text) per turn); two id-keyed lookups
    (blocking.pair_sides) attach the arrays to the pair table; both measures are zip_with /
    array_intersect codegen — no Python, no window, per-pair cost bounded
    by its own turn counts."""
    t = F.struct(
        *[F.col(c) for c in order_cols],
        F.md5(
            F.concat_ws(
                "|",
                F.col(role_col),
                F.coalesce(F.col(text_col), F.lit("")),
            )
        ).alias("__fp"),
    )
    fps = transcripts.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(t)), lambda s: s["__fp"]
        ).alias("fps")
    )
    j = pair_sides(pairs, fps, id_col, {"fps": ("lf", "rf")})
    aligned = F.aggregate(
        F.zip_with("lf", "rf", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0)),  # len mismatch → null
    )
    inter = F.size(F.array_intersect(F.array_distinct("lf"), F.array_distinct("rf")))
    union = F.size(F.array_union("lf", "rf"))
    return j.select(
        "left_id",
        "right_id",
        (aligned / F.greatest(F.size("lf"), F.size("rf"))).alias(
            "aligned_frac"
        ),
        (inter / union).alias("turn_jaccard"),
    )
