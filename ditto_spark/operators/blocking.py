"""B1-B4 — candidate generation: MinHash-LSH over token shingles.

The reference blocks with dense SBERT embeddings + blocked matmul
(/root/reference/blocking/blocker.py:43-80, threshold branch 74-79, top-k
branch 67-72). Per BASELINE.json north_star we instead block with
MinHash-LSH over token shingles, realized as an equi-join on LSH band keys —
O(n·bands) shuffle instead of O(n²/tiles) matmul, which is what survives at
10^12 turns.

Design (all JVM expressions, whole-stage codegen; zero Python):
  tokens   = lowercased alnum runs of entity_text
  shingles = distinct n-gram shingles of the token stream
  minhash  = per conversation, sig[i] = min over shingles of xxhash64(xxhash64(shingle), seed_i)
             (a narrow projection — zero shuffle)
  bands    = band_j = xxhash64(sig[j*r .. j*r+r-1]) → rows (conv_id, band_idx, band_key)
  pairs    = every id pair within a (band_idx, band_key) bucket, left_id < right_id, distinct

Skew handling (north_rule "salted keys for skewed blocks"): hot band buckets
(near-identical template conversations all landing in one bucket) are split
into `ceil(size/max_bucket)` salt cells by xxhash64(conv_id, SALT_SEED);
pairs are generated within a salt cell only. Cross-cell pairs of a hot bucket
are recovered probabilistically by the OTHER b-1 bands (each band salts
independently), and deterministically by transitive clustering downstream —
a giant near-duplicate bucket is exactly the case where connected components
closes the gap. The one-sided pairing (candidates_from_bands) pairs each
cell in-array in the task that holds its bucket, so salting bounds the pairs
a cell emits, not the pairs one task emits: a task holding an S-member
bucket emits ~S·max_bucket/2 pairs. AQE skew-join splitting has no join to
split there. Two-sided joins (block_minhash_lsh_cross, ann's hyperplane
LSH) hash one side into a cell and replicate the other across every cell of
its bucket instead, which keeps full within-bucket recall; AQE skew-join
splitting stays on for those as the second line of defense.

This module is the only owner of the three formulas that define LSH
blocking; every other module (streaming/incremental.py, ann.py) calls these
Column helpers instead of copying them, so a band index built here always
joins against band keys computed elsewhere:
  band_structs      sig → exploded (band_idx, band_key) structs
  sig_agreement     fraction of agreeing components of two signatures
  salt_count / hashed_salt / replicated_salts
                    the salt cell of a hot bucket

It also owns the frequency-cut shared-key self-join that every exact
blocker (rare shingles, winnowed fingerprints, suffixes, meta-blocking,
structure keys, decontamination) runs:
  drop_frequent_keys  drop keys held by more than max_df rows
  shared_key_pairs    (left_id < right_id, n_shared) per pair sharing keys

and the pair-side entity lookup that attaches a per-entity value
(signature, text, set size, cluster id, ...) to both ends of a pair table,
built on the entity side so the pair table is never sorted:
  entity_lookup       an entity table hinted broadcast or shuffle_hash
  pair_sides          the left_id and right_id lookups onto one table
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

TOKEN_PATTERN = "[^a-z0-9]+"
# xxhash64 seed of the salt-cell hash; fixed so a re-run salts identically
SALT_SEED = 7


def content_tokens(col: Column) -> Column:
    """Lowercase alnum token stream of `col`: lowercase, split on
    TOKEN_PATTERN, drop empty strings. Every blocking, SimHash, chunking and
    JVM-Jaccard tokenizer calls this, so a pair blocks and scores on the same
    tokens. The DuckDB oracles in __spark_entry__.py replicate
    '[^a-z0-9]+' in SQL; a change to TOKEN_PATTERN must change them too."""
    return F.filter(F.split(F.lower(col), TOKEN_PATTERN), lambda t: t != "")


def space_tokens(col: Column) -> Column:
    """Whitespace token list of `col`, case kept: split on single spaces,
    drop the empty strings that repeated, leading and trailing spaces leave.
    The curation, quality, augmentation, packing, sampling and sketch
    operators call this wherever they drop empty tokens. The DuckDB oracles
    in __spark_entry__.py replicate it in SQL as
    `list_filter(string_split(text, ' '), x -> x <> '')`. Splits that must
    keep the empty strings call `F.split` directly."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def tokenize(df: DataFrame, text_col: str = "entity_text") -> DataFrame:
    """Add a `tokens` array column: lowercase alnum token stream."""
    return df.withColumn("tokens", content_tokens(F.col(text_col)))


def shingle(df: DataFrame, n: int = 3, tokens_col: str = "tokens") -> DataFrame:
    """Add a distinct n-gram `shingles` array (token-level shingling).

    Documents shorter than n tokens get their whole token stream as one
    shingle so nothing is silently dropped.
    """
    toks = F.col(tokens_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.withColumn("shingles", F.array_distinct(grams))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "conv_id",
    shingles_col: str = "shingles",
    num_perm: int = 64,
    seed: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, shingles[]) → (id, sig: array<bigint> of length num_perm).

    sig[i] = min_{s in shingles} xxhash64(xxhash64(s), seed_i), computed as
    a pure narrow projection (array_min over a per-seed hash transform) —
    ZERO shuffle. An explode + groupBy(num_perm mins) computes the same
    values but pays a 6.5M-row shuffle at sf0.1 (measured 20s vs 2s on
    local[32]); at 10^12 turns the projection form leaves the signatures
    shuffle-free, so blocking's shuffles are the band pairing's.

    Two-level hashing: each shingle STRING is hashed exactly once to an
    int64, and the num_perm permutations re-hash that fixed-width integer
    (cheap) instead of re-scanning the variable-length string num_perm
    times. Same independent-family statistics (the inner hash is a
    bijection-quality compression of the shingle; the outer seeded hashes
    are the permutation family); measured 1.4-4x faster on the signature
    stage at sf0.1, identical LSH recall (pytest recall gates).
    """
    hashed = F.transform(F.col(shingles_col), lambda s: F.xxhash64(s))

    def _perm_hash(i: int):
        # NB: must be a ONE-arg lambda — a second parameter (even defaulted)
        # makes pyspark treat it as the (element, index) binary form
        seed_i = F.lit(seed * 1_000_003 + i)
        return lambda h: F.xxhash64(h, seed_i)

    df = df.withColumn("__sh64", hashed)
    mins = [
        F.array_min(F.transform(F.col("__sh64"), _perm_hash(i)))
        for i in range(num_perm)
    ]
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.array(*mins).alias("sig"),
    )


def band_structs(num_bands: int, rows_per_band: int) -> Column:
    """Exploded (band_idx, band_key) structs of the `sig` column, one row
    per band; band_key hashes r consecutive signature components. A Column
    rather than a DataFrame so streaming callers can carry `sig` through
    banding in one projection (a `lsh_bands(sig).join(sig)` self-join trips
    "conflicting attributes" under a stateful operator)."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda b: F.struct(
                b.alias("band_idx"),
                F.xxhash64(
                    F.concat_ws(
                        ":",
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda h: h.cast("string"),
                        ),
                    )
                ).alias("band_key"),
            ),
        )
    )


def sig_agreement(left, right) -> Column:
    """MinHash Jaccard estimate of two signature columns (names or
    Columns): the fraction of agreeing components."""
    agree = F.aggregate(
        F.zip_with(left, right, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.size(left)


def salt_count(bucket_n: Column, max_bucket: int) -> Column:
    """n_salts: how many salt cells a bucket of `bucket_n` rows splits into."""
    return F.ceil(bucket_n / F.lit(max_bucket)).cast("int")


def hashed_salt(id_col: str) -> Column:
    """The one cell a row hashes into, given its `n_salts` column. n_salts
    must be ≥ 1 on every row it is evaluated on: ANSI mode raises on pmod
    by zero."""
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(SALT_SEED)), F.col("n_salts"))


def replicated_salts() -> Column:
    """Every cell of the bucket (0 .. n_salts - 1), exploded — the
    replicated side of a two-sided salted join. Filter n_salts = 0 rows out
    first: Spark's sequence(0, -1) is [0, -1], not empty."""
    return F.explode(
        F.sequence(F.lit(0).cast("long"), F.col("n_salts").cast("long") - 1)
    )


def lsh_bands(
    sig_df: DataFrame,
    id_col: str = "conv_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Signature → (id, band_idx, band_key) rows. num_bands*rows_per_band
    must not exceed the signature length."""
    bands = band_structs(num_bands, rows_per_band).alias("band")
    return sig_df.select(id_col, bands).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )


def salt_cell_assignment(
    sized_bands: DataFrame,
    id_col: str = "conv_id",
    max_bucket: int = 200,
    bucket_n_col: str = "bucket_n",
) -> DataFrame:
    """THE production salt-cell assignment, shared by candidates_from_bands
    and scripts/skew_drill.py's bucket histogram so the drill can never
    silently measure a split the pipeline no longer performs: given rows
    that carry their bucket size, add n_salts (salt_count) and salt
    (hashed_salt)."""
    return sized_bands.withColumn(
        "n_salts", salt_count(F.col(bucket_n_col), max_bucket)
    ).withColumn("salt", hashed_salt(id_col))


def candidates_from_bands(
    bands_df: DataFrame,
    id_col: str = "conv_id",
    max_bucket: int = 200,
) -> DataFrame:
    """(id, band_idx, band_key) rows → distinct (left_id, right_id),
    left_id < right_id: every pair of ids that share a band bucket.

    Buckets larger than max_bucket are salted: each is split into
    ceil(size/max_bucket) cells by xxhash64(id) (salt_cell_assignment),
    and only ids in the same cell pair. Bounds a bucket of S ids at
    ~S·max_bucket/2 pairs (~max_bucket²/2 per cell) instead of S²/2.

    Bucket sizes come from a count window over (band_idx, band_key) — ONE
    shuffle, computed where the data lives. (A groupBy+broadcast-join of the
    size table pulls ~|buckets| rows through the driver; measured to
    serialize blocking at higher core counts.) Each cell's ids are then
    collected and paired in-array; grouping by (band_idx, band_key, salt)
    refines the window's partitioning, so the pairing adds no exchange. (A
    self-join on the cell key would shuffle both sides again and, under
    AQE, run the window once per side.) The one further exchange is the
    distinct over pairs that meet in several bands. Null ids count toward
    a bucket's size but pair with nothing.

    All cells of one bucket pair in the one task that holds the bucket.
    Re-hashing on the cell key first would spread them, but AQE coalesces
    that exchange by its input bytes, and band rows are small: on a
    hot_template_frac=0.3 corpus (n_base=6000, 4 cores, 5.1M in-cell
    pairs) the window layout ran the pairing in 4 tasks, the largest
    holding 29% of the pairs, while a cell-key repartition ran it in one
    task, and blocking took 11.0 s against 17.3 s (the cell-key self-join
    took 14.6 s).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_key")
    salted = salt_cell_assignment(
        bands_df.withColumn("bucket_n", F.count(F.lit(1)).over(w)).where(
            F.col("bucket_n") > 1
        ),
        id_col=id_col,
        max_bucket=max_bucket,
    )
    ids = F.col("ids")
    # sorted distinct ids: pairing each with the ids after it yields each
    # unordered pair once, already ordered left < right
    in_cell_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("left_id"), y.alias("right_id")),
            ),
        )
    )
    return (
        salted.groupBy("band_idx", "band_key", "salt")
        .agg(F.array_sort(F.array_distinct(F.collect_list(id_col))).alias("ids"))
        .select(F.explode(in_cell_pairs).alias("p"))
        .select("p.left_id", "p.right_id")
        .distinct()
    )


def drop_frequent_keys(
    rows: DataFrame, key_cols: list[str], max_df: int
) -> DataFrame:
    """Keep each row whose key (`key_cols`) is held by at most `max_df`
    rows: the frequency cut that bounds a shared-key self-join at
    max_df²/2 pairs per key. A key held by one row passes (it pairs with
    nothing, but still counts toward its id's set size); a row with a NULL
    key component is dropped, as it can share its key with no row.

    A groupBy count joined back, not a count window: partial aggregation
    means a purged hot key is never buffered as one window group."""
    keep = (
        rows.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__key_df"))
        .where(F.col("__key_df") <= max_df)
        .select(*key_cols)
    )
    return rows.join(keep, key_cols)


def shared_key_pairs(
    rows: DataFrame, id_col: str, key_cols: list[str], min_shared: int = 1
) -> DataFrame:
    """Self-equi-join of (id, key) rows on `key_cols` → (left_id, right_id,
    n_shared): each unordered pair once, left_id < right_id, n_shared =
    the number of key rows the two ids meet on, kept at ≥ `min_shared`.
    Bound the join first with drop_frequent_keys. (LSH bands pair through
    candidates_from_bands instead: a hot band bucket is salted, not cut.)"""
    left = rows.select(*key_cols, F.col(id_col).alias("left_id"))
    right = rows.select(*key_cols, F.col(id_col).alias("right_id"))
    return (
        left.join(right, key_cols)
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# binary shift of each size suffix Spark accepts in a byte-size conf value
_BYTE_SHIFT = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
               "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _conf_bytes(value: str) -> int:
    """A Spark byte-size conf value ('10485760', '10MB', '-1') in bytes."""
    m = re.fullmatch(r"(-?\d+)([a-z]*)", value.strip().lower())
    if m is None or m.group(2) not in _BYTE_SHIFT:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) << _BYTE_SHIFT[m.group(2)]


def entity_lookup(entity: DataFrame) -> DataFrame:
    """`entity` (one row per id) hinted as the build side of an id-keyed
    lookup join from a pair table: broadcast when Catalyst's size estimate
    of it fits spark.sql.autoBroadcastJoinThreshold, shuffle_hash when it
    does not. Either way the hash map is built on the entity side and the
    pair table streams through unsorted (a sort-merge join would sort it
    with its payload attached). The choice is made here because Catalyst
    cannot make both halves of it: a shuffle_hash hint outranks the
    size-based broadcast in JoinSelection, and with no hint a join that
    does not fit is sort-merge.

    The choice is fixed when the frame is built: the threshold is the
    session conf at that moment, and the size estimate is the optimized
    plan's statistics, read from the JVM (no public Python API exposes
    them). A frame built before a threshold change keeps its hint."""
    limit = _conf_bytes(
        entity.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    size = entity._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    fits = 0 <= limit and int(size) <= limit
    return entity.hint("broadcast" if fits else "shuffle_hash")


def pair_sides(
    pairs: DataFrame,
    entity: DataFrame,
    id_col: str,
    cols: dict[str, tuple[str, str]],
) -> DataFrame:
    """Attach per-entity values to both ends of a pair table: each entity
    column `c` in `cols` arrives as `cols[c][0]` for left_id and
    `cols[c][1]` for right_id. Two inner joins, left then right, each
    through entity_lookup, so the entity side is the build side and the
    pair table is never sorted. A pair whose id is NULL or absent from
    `entity` is dropped; entity columns outside `cols` are not carried."""
    for side, pick in (("left_id", 0), ("right_id", 1)):
        looked = entity.select(
            F.col(id_col).alias(side),
            *[F.col(c).alias(names[pick]) for c, names in cols.items()],
        )
        pairs = pairs.join(entity_lookup(looked), side)
    return pairs


def estimated_jaccard(
    pairs: DataFrame, sig_df: DataFrame, id_col: str = "conv_id"
) -> DataFrame:
    """Attach the MinHash Jaccard estimate (sig_agreement), zero Python.

    The signature side carries a 64-long array (~0.5 KB/row), so its
    lookups (pair_sides) broadcast at benchmark sizes and, at corpus
    scale, build the hash map of a shuffled hash join while the pairs
    stream."""
    joined = pair_sides(pairs, sig_df, id_col, {"sig": ("lsig", "rsig")})
    return joined.withColumn(
        "est_jaccard", sig_agreement("lsig", "rsig")
    ).drop("lsig", "rsig")


def _filter_pairs(
    pairs: DataFrame, threshold: float | None, top_k: int | None
) -> DataFrame:
    """est_jaccard ≥ threshold, then the best top_k left ids per right id."""
    from pyspark.sql import Window

    if threshold is not None:
        pairs = pairs.where(F.col("est_jaccard") >= threshold)
    if top_k is not None:
        w = Window.partitionBy("right_id").orderBy(
            F.desc("est_jaccard"), F.asc("left_id")
        )
        pairs = (
            pairs.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= top_k)
            .drop("rk")
        )
    return pairs


def _lsh_pairs(
    sig: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
    max_bucket: int,
    threshold: float | None,
    top_k: int | None = None,
) -> DataFrame:
    """Signatures → filtered (left_id, right_id, est_jaccard): the shared
    tail of block_minhash_lsh and weighted_minhash_lsh.

    The signature stage is persisted: it feeds the band pairing, the
    bucket-size histogram, AND both sides of the jaccard-estimate join —
    without materialization the tokenize+shingle+hash projection re-executes
    4× (measured 80s → 29s at sf0.1). At cluster scale this persist is the
    `signatures` checkpoint table (north_rule lineage/resume)."""
    sig = sig.persist()
    bands = lsh_bands(sig, id_col, num_bands, rows_per_band)
    pairs = candidates_from_bands(bands, id_col, max_bucket=max_bucket)
    return _filter_pairs(estimated_jaccard(pairs, sig, id_col), threshold, top_k)


def block_minhash_lsh(
    serialized: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    shingle_n: int = 2,
    num_perm: int = 64,
    num_bands: int = 21,
    rows_per_band: int = 3,
    max_bucket: int = 200,
    threshold: float | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """End-to-end blocking: serialized entities → candidate pairs with
    est_jaccard, optionally filtered by threshold (B2 analogue,
    blocker.py:74-79) and/or top-k per right id (B3, blocker.py:67-72).
    Signatures are minhash_signatures (measured fastest at num_perm=64) and
    are persisted (see _lsh_pairs)."""
    assert num_bands * rows_per_band <= num_perm
    shingled = shingle(tokenize(serialized, text_col), shingle_n)
    sig = minhash_signatures(shingled, id_col, num_perm=num_perm)
    return _lsh_pairs(
        sig, id_col, num_bands, rows_per_band, max_bucket, threshold, top_k
    )


def block_minhash_lsh_cross(
    table_a: DataFrame,
    table_b: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    shingle_n: int = 2,
    num_perm: int = 64,
    num_bands: int = 21,
    rows_per_band: int = 3,
    max_bucket: int = 200,
    threshold: float | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Two-table (cross-corpus) MinHash-LSH blocking — the reference's
    ER-Magellan / WDC setting, where candidates link table_a to table_b
    rather than a corpus to itself (/root/reference/blocking/blocker.py
    encodes table_a and table_b separately and matches across; the labeled
    pair files are cross-table by construction). Returns
    (left_id, right_id, est_jaccard) with left from A and right from B.

    Same construction as the self-join path (identical seeds — signatures
    of the two sides must be comparable), with the skew treatment adapted
    to the asymmetric join: a band bucket whose A-side exceeds
    `max_bucket` is split into ceil(n_a/max_bucket) cells; A rows hash
    into one cell, B rows REPLICATE across all cells of their bucket —
    every A-B pair of the bucket still meets in exactly the A row's cell
    (full within-bucket recall at any bucket size, unlike the self-join's
    probabilistic cross-cell recovery, which leans on CC downstream — a
    luxury two-table linkage does not have since its output IS the final
    pair set). Per-task width stays ~max_bucket A rows; the replication
    factor is bounded by the count window, not guessed. Neither signature
    table is persisted: each feeds its band rows and the estimate join, so
    its MinHash is computed twice, and the returned frame holds no cache
    entry of its own.

    top_k keeps the best-k A-side candidates per B row (blocker.py:67-72
    ranks neighbors per query row)."""
    from pyspark.sql import Window

    assert num_bands * rows_per_band <= num_perm
    sig_a = minhash_signatures(
        shingle(tokenize(table_a, text_col), shingle_n), id_col, num_perm=num_perm
    )
    sig_b = minhash_signatures(
        shingle(tokenize(table_b, text_col), shingle_n), id_col, num_perm=num_perm
    )
    bands_a = lsh_bands(sig_a, id_col, num_bands, rows_per_band).withColumn(
        "side", F.lit("a")
    )
    bands_b = lsh_bands(sig_b, id_col, num_bands, rows_per_band).withColumn(
        "side", F.lit("b")
    )
    w = Window.partitionBy("band_idx", "band_key")
    tagged = bands_a.unionByName(bands_b).withColumn(
        "n_salts",
        salt_count(F.sum((F.col("side") == "a").cast("int")).over(w), max_bucket),
    )
    # n_salts = 0 ⇔ the bucket has no A rows: B rows there are filtered out
    # before the explode, so they never enter the join shuffle, and the
    # hashed salt is only computed on A rows, whose n_salts is ≥ 1
    a_rows = tagged.where(F.col("side") == "a").select(
        "band_idx", "band_key",
        hashed_salt(id_col).alias("salt"),
        F.col(id_col).alias("left_id"),
    )
    b_rows = (
        tagged.where((F.col("side") == "b") & (F.col("n_salts") > 0))
        .select(
            "band_idx", "band_key", F.col(id_col).alias("right_id"),
            replicated_salts().alias("salt"),
        )
    )
    cand = (
        a_rows.join(b_rows.hint("shuffle_hash"), ["band_idx", "band_key", "salt"])
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    # the two sides look up different tables, so not pair_sides
    ls = sig_a.select(F.col(id_col).alias("left_id"), F.col("sig").alias("lsig"))
    rs = sig_b.select(F.col(id_col).alias("right_id"), F.col("sig").alias("rsig"))
    pairs = (
        cand.join(entity_lookup(ls), "left_id")
        .join(entity_lookup(rs), "right_id")
        .withColumn("est_jaccard", sig_agreement("lsig", "rsig"))
        .drop("lsig", "rsig")
    )
    return _filter_pairs(pairs, threshold, top_k)


def ngram_overlap_cross(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    min_common: int = 1,
    max_train_df: int = 10_000,
) -> DataFrame:
    """Benchmark decontamination: (train_id, bench_id, n_common,
    bench_overlap_frac) for every train/benchmark document pair sharing ≥
    `min_common` distinct token n-grams — the GPT-3-style n-gram
    contamination rule (13-grams there; n is a knob because the right n
    depends on tokenizer and document length). A training pipeline drops
    or flags every train_id that appears here.

    Scale shape: one exploded shingle table per side, equi-join on the
    shingle string, groupBy pair. `drop_frequent_keys` first prunes
    shingles appearing in more than `max_train_df` TRAIN docs (boilerplate
    n-grams — headers, license text — would otherwise fan out
    quadratically); pruning is train-side only, so a benchmark n-gram can
    never be lost by benchmark-side statistics. bench_overlap_frac =
    n_common / |bench doc's distinct shingles| — the usual
    flag-if-above-epsilon decision input."""
    tr = drop_frequent_keys(
        shingle(tokenize(train, text_col), shingle_n).select(
            F.col(id_col).alias("train_id"), F.explode("shingles").alias("s")
        ),
        ["s"],
        max_train_df,
    )
    be = shingle(tokenize(bench, text_col), shingle_n).select(
        F.col(id_col).alias("bench_id"), F.explode("shingles").alias("s")
    )
    bench_sizes = be.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("bench_shingles")
    )
    return (
        tr.join(be, "s")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
        .join(bench_sizes, "bench_id")
        .select(
            "train_id",
            "bench_id",
            "n_common",
            (F.col("n_common") / F.col("bench_shingles")).alias(
                "bench_overlap_frac"
            ),
        )
    )


def block_exact_shingles(
    serialized: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    shingle_n: int = 3,
    min_common: int = 1,
    max_shingle_df: int = 100,
) -> DataFrame:
    """The rare-shingle Jaccard join: pairs sharing ≥ min_common distinct
    token shingles, ignoring shingles whose document frequency exceeds
    max_shingle_df (stop-shingle pruning that keeps the self-join from
    exploding on common n-grams). Returns (left_id, right_id,
    common_shingles, na, nb, jaccard): na and nb are the ids' rare-shingle
    set sizes and jaccard = common / (na + nb − common), exact over those
    sets.

    SQL-expressible, unlike the LSH path which is checked rows-only:
    `curate._near_dup_edges` (the curation funnel's near-dup stage) and
    `__spark_entry__._rare_shingle_pairs` (behind shingle_blocking_pairs,
    ngram_jaccard_pairs, topk_similar and the other document-dedup
    queries) call it, and their DuckDB oracles (_ORACLE_SHINGLE_CTE and
    the near-dup CTEs of _DOC_CURATION_ORACLE) replicate it in SQL."""
    sh = shingle(tokenize(serialized, text_col), shingle_n).select(
        id_col, F.explode("shingles").alias("s")
    )
    rare = drop_frequent_keys(sh, ["s"], max_shingle_df)
    sizes = rare.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return pair_sides(
        shared_key_pairs(rare, id_col, ["s"], min_common),
        sizes,
        id_col,
        {"n_sh": ("na", "nb")},
    ).select(
        "left_id",
        "right_id",
        F.col("n_shared").alias("common_shingles"),
        "na",
        "nb",
        (
            F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
        ).alias("jaccard"),
    )


# Private partition-id column of range_prefix_scan; a caller's own columns
# pass through untouched whatever they are named.
_SCAN_PID = "__range_scan_pid"


@contextmanager
def range_prefix_scan(
    df: DataFrame, order_cols: list[str], sum_cols: list[str]
) -> Iterator[DataFrame]:
    """Yield `df` plus EXCLUSIVE running sums `cum_<c>` (long) of the
    non-null integer `sum_cols` over `order_cols` ascending: each row gets
    the sum over the rows strictly before it in that order. The order must
    be total (end `order_cols` with a unique id) for the sums to be
    deterministic.

    A plain `sum() OVER (ORDER BY …)` funnels the corpus through ONE
    partition. This is the scale-safe two-phase distributed scan instead:

      1. range-repartition to 2 × defaultParallelism on `order_cols` and
         sort within partitions (range bounds are Spark's sampled global
         sort — the only wide exchange);
      2. persist that layout and collect one partial-sum row per partition
         — O(partitions) driver work — turned into per-partition START
         OFFSETS;
      3. add offset + partition-local exclusive cumsum in one Arrow pass
         (mapInPandas, state carried across the batches of a partition,
         which arrive in sort order) — NO further exchange. A
         Window.partitionBy(pid) formulation computes the same values, but
         Catalyst does not see that the range partitioning already clusters
         the derived pid column, so it inserts a second corpus-wide hash
         exchange.

    The whole scan costs one range shuffle plus one O(partitions) collect.
    The offsets are valid only for the cached range partitioning they were
    computed from, so the yielded frame may be evaluated only inside the
    `with` block: materialize it there (a `collect`, or an eager
    `localCheckpoint`). The cache is released on exit, also when the scan
    fails. Callers: `global_rank` (sorted-neighborhood blocking, exact
    quantiles), `evaluate.roc_auc` and `packing.pack_pretraining_chunks`."""
    from pyspark.sql.types import LongType, StructField, StructType

    n_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    by_range = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn(_SCAN_PID, F.spark_partition_id())
        .persist()
    )
    try:
        partials = {
            r[_SCAN_PID]: list(r)[1:]
            for r in by_range.groupBy(_SCAN_PID)
            .agg(*[F.sum(c) for c in sum_cols])
            .collect()
        }
        offsets, acc = {}, [0] * len(sum_cols)
        for pid in sorted(partials):
            offsets[pid] = list(acc)
            acc = [a + p for a, p in zip(acc, partials[pid])]
        schema = StructType(
            df.schema.fields + [StructField(f"cum_{c}", LongType()) for c in sum_cols]
        )

        def _assign(batches):
            carry = None
            for b in batches:
                if len(b) == 0:
                    continue
                if carry is None:
                    carry = list(offsets[int(b[_SCAN_PID].iloc[0])])
                out = b.drop(columns=[_SCAN_PID])
                for i, c in enumerate(sum_cols):
                    n = b[c].astype("int64")
                    cs = n.cumsum()
                    out[f"cum_{c}"] = cs - n + carry[i]
                    carry[i] += int(cs.iloc[-1])
                yield out

        yield by_range.mapInPandas(_assign, schema=schema)
    finally:
        by_range.unpersist()


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
) -> DataFrame:
    """0-based dense global row index over `order_cols` ascending (the
    order must be a total order — include a unique id as the last column):
    the `range_prefix_scan` running count of a ones column, so no
    single-partition `row_number() OVER (ORDER BY …)`. The ranked table is
    materialized eagerly (a local checkpoint) inside the scan, so it leaves
    no cache behind."""
    one = "__global_rank_one"
    with range_prefix_scan(df.withColumn(one, F.lit(1)), order_cols, [one]) as scan:
        return (
            scan.drop(one)
            .withColumnRenamed(f"cum_{one}", out_col)
            .localCheckpoint(eager=True)
        )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    w: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995, the merge/
    purge method — public; a blocking family the reference does not have):
    sort every record by (key, id) and emit each pair lying within a
    sliding window of `w` ranks as a candidate. Returns
    (left_id, right_id, rank_dist) with left before right in sort order,
    1 <= rank_dist < w, each unordered pair exactly once.

    Scale shape: the global rank comes from the two-phase distributed
    prefix count (`global_rank`) — no single-partition window. Pair
    generation is a banded self-equi-join on bucket = rank // w: the left
    side replicates to (bucket, bucket+1), the right side keeps its own
    bucket, and the filter 0 < rank_r - rank_l < w guarantees exactly-once
    production. The join key is a dense integer bucket holding exactly w
    ranks, so the shuffle is perfectly uniform no matter how skewed the
    sort keys are — the skew-vulnerable step (range sort) is handled by
    repartitionByRange's sampled range bounds."""
    ranked = global_rank(
        df.select(F.col(id_col), F.col(key_col).alias("snb_key")),
        order_cols=["snb_key", id_col],
    ).select(id_col, "rank")
    bucket = (F.col("rank") / w).cast("long")
    lhs = ranked.select(
        F.col(id_col).alias("left_id"),
        F.col("rank").alias("lrank"),
        F.explode(F.array(bucket, bucket + 1)).alias("b"),
    )
    rhs = ranked.select(
        F.col(id_col).alias("right_id"),
        F.col("rank").alias("rrank"),
        bucket.alias("b"),
    )
    return (
        lhs.join(rhs, "b")
        .where(
            (F.col("rrank") > F.col("lrank"))
            & (F.col("rrank") - F.col("lrank") < w)
        )
        .select(
            "left_id",
            "right_id",
            (F.col("rrank") - F.col("lrank")).cast("long").alias("rank_dist"),
        )
    )


def suffix_blocking_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    min_suffix_len: int = 4,
    max_bucket: int = 50,
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama 2005; Febrl's suffix-array
    indexing — public; a blocking family the reference does not have):
    every suffix of the blocking key with length >= min_suffix_len is a
    block key, so records agreeing on any sufficiently long key TAIL
    become candidates — robust to prefix errors/truncations that defeat
    equi-key and sorted-neighborhood blocking. Keys shorter than
    min_suffix_len contribute the whole key. Suffixes shared by more than
    `max_bucket` records are dropped — the method's standard frequency
    cut: a ubiquitous suffix carries no discriminating power, and it is
    exactly the skewed key. Returns distinct (left_id, right_id),
    left < right.

    Scale shape: suffix generation is a zero-shuffle codegen projection
    (sequence + transform, <= len(key) rows per record); then
    drop_frequent_keys caps every join key at max_bucket rows BEFORE the
    shared_key_pairs self-join (<= max_bucket²/2 pairs from the worst
    key), whose pair groupBy shuffles bare id pairs only. Positions are
    character-based in both engines (identical on ASCII keys)."""
    k = F.col(key_col)
    suf = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length(k) - F.lit(min_suffix_len - 1), F.lit(1)
                    ),
                ),
                lambda i: k.substr(i, F.length(k)),
            )
        ).alias("s"),
    )
    return shared_key_pairs(
        drop_frequent_keys(suf, ["s"], max_bucket), id_col, ["s"]
    ).select("left_id", "right_id")


def meta_blocking_wnp(
    blocks: DataFrame,
    block_col: str = "block_key",
    id_col: str = "doc_id",
    max_block_size: int = 50,
) -> DataFrame:
    """Meta-blocking with weighted node pruning (Papadakis et al. 2014,
    "Meta-Blocking: Taking Entity Resolution to the Next Level", TKDE —
    public; a blocking-refinement family the reference does not have).
    Input: a redundancy-positive block collection (block_key, id). Output:
    the pruned candidate edges (left_id, right_id, weight) where weight is
    the CBS (common-blocks scheme) count and an edge survives WNP if its
    weight reaches the mean incident-edge weight of EITHER endpoint — the
    redundancy-positive variant that keeps an edge both nodes only weakly
    disagree on.

    Scale shape: block purging (drop_frequent_keys drops blocks larger
    than max_block_size) bounds the shared_key_pairs self-join at
    max_block_size² rows per block — oversized blocks are exactly the
    ones meta-blocking theory says carry no signal (a stopword-like key
    relates everything to everything). The
    edge weights are one groupBy; node thresholds are one explode + groupBy
    over edges; the final filter joins the (|nodes|-sized) threshold table
    twice on an integer key. The mean comparison is done in exact integer
    arithmetic (w·deg ≥ Σw, never float) so the DuckDB oracle matches
    bit-for-bit."""
    b = blocks.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("nid")
    ).distinct()
    edges = shared_key_pairs(
        drop_frequent_keys(b, ["bk"], max_block_size), "nid", ["bk"]
    ).withColumnRenamed("n_shared", "weight")
    thresholds = (
        edges.select(
            F.explode(F.array("left_id", "right_id")).alias("node"), "weight"
        )
        .groupBy("node")
        .agg(F.sum("weight").alias("sw"), F.count(F.lit(1)).alias("deg"))
    )
    return (
        pair_sides(
            edges,
            thresholds,
            "node",
            {"sw": ("sw_l", "sw_r"), "deg": ("deg_l", "deg_r")},
        ).where(
            (F.col("weight") * F.col("deg_l") >= F.col("sw_l"))
            | (F.col("weight") * F.col("deg_r") >= F.col("sw_r"))
        )
        .select("left_id", "right_id", "weight")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    the MOSS scheme — public): hash every token k-gram, slide a window of
    w consecutive gram hashes, and in each window select the minimum hash
    (ties → rightmost occurrence). Guarantees at least one fingerprint in
    every w-gram window while keeping the fingerprint density ~2/(w+1) —
    the standard robust alternative to fixed-stride sampling for
    plagiarism/near-dup detection. Returns distinct (id, fp, fp_pos).

    Implementation is a single JVM expression chain: positional grams via
    transform+posexplode (NOT the dedup'd `shingle` array), md5 gram hash,
    and the argmin-with-rightmost-tie-break encoded as the plain string
    minimum of md5hex || zero-padded(MAXP − pos) over a bounded window
    frame — portable to the DuckDB oracle verbatim. The only shuffle is
    the per-document sort for the window, whose partitions are bounded by
    document length (never a global window); documents shorter than w
    grams keep their final window so nothing is silently dropped.
    Position padding supports documents up to 10^9 grams."""
    from pyspark.sql import Window

    MAXP = 999_999_999
    toks = F.col("tokens")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    g = (
        tokenize(df, text_col)
        .where(F.size(toks) >= k)  # <k tokens: no full gram, no fingerprint
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
    )
    key = F.concat(F.md5("g"), F.format_string("%09d", MAXP - F.col("pos")))
    order = Window.partitionBy(id_col).orderBy("pos")
    frame = order.rowsBetween(-(w - 1), 0)
    sel = (
        g.select(
            F.col(id_col),
            F.row_number().over(order).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("cnt"),
            F.min(key).over(frame).alias("mk"),
        )
        .where(
            (F.col("rn") >= w) | ((F.col("cnt") < w) & (F.col("rn") == F.col("cnt")))
        )
        .select(
            F.col(id_col),
            F.substring("mk", 1, 32).alias("fp"),
            (MAXP - F.substring("mk", 33, 9).cast("long")).alias("fp_pos"),
        )
        .distinct()
    )
    return sel


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidates from shared winnowed fingerprints (the MOSS
    match step): documents sharing ≥ min_shared distinct selected
    fingerprints, with boilerplate fingerprints (document frequency >
    max_df) purged before the quadratic step by drop_frequent_keys and
    shared_key_pairs, as in block purging / rare-shingle blocking.
    Output (left_id, right_id, shared_fp)."""
    fp = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col).alias("nid"), "fp")
        .distinct()
    )
    return shared_key_pairs(
        drop_frequent_keys(fp, ["fp"], max_df), "nid", ["fp"], min_shared
    ).withColumnRenamed("n_shared", "shared_fp")


def allpairs_jaccard_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
    positional: bool = True,
    debug_counts: dict | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard threshold self-join via prefix filtering
    (Bayardo, Ma & Srikant WWW'07 "Scaling Up All Pairs Similarity
    Search" / Xiao et al. PPJoin — public algorithms). Unlike the
    rare-shingle join (`shingle`/max_df pruning, which silently loses
    pairs that share only frequent tokens), the prefix filter is
    LOSSLESS for the given threshold: tokens are globally ordered by
    (document frequency asc, token), and a pair with J >= t must share
    at least one token inside each side's first len - ceil(t*len) + 1
    tokens of that order — so joining prefix-to-prefix finds every
    qualifying pair, and an exact set-intersection verify removes the
    rest. Output (left_id, right_id, jaccard) over distinct token sets.

    Scale shape: the inverted index holds PREFIX tokens only — each
    document contributes its (1-t)-fraction rarest tokens, so the join
    key distribution is biased away from hot tokens by construction
    (the skew-prone frequent tokens sit in suffixes and never enter the
    index). The PPJoin length filter (t*|A| <= |B| <= |A|/t) prunes
    candidates inside the join before the verify attach, and with
    ``positional=True`` the PPJoin positional filter additionally kills
    matched-token rows whose best-case overlap 1 + min(|A|-i, |B|-j)
    cannot reach the t/(1+t)·(|A|+|B|) overlap threshold — still
    lossless (see inline proof), smaller dedup shuffle. Verification
    joins the full sorted-token arrays once per surviving candidate and
    computes F.size(array_intersect) in the JVM — no Python, no
    re-shuffle of the corpus. The per-doc rank window is partitioned by
    document (bounded by document length, never global)."""
    from pyspark.sql import Window

    t = float(threshold)

    def elements(d: DataFrame) -> DataFrame:
        """Distinct set elements per doc: tokens (shingle_n=1) or token
        n-gram shingles — shingles are the discriminative choice when
        the token vocabulary is small relative to document length."""
        tk = tokenize(d, text_col)
        if shingle_n > 1:
            tk = (
                shingle(tk, n=shingle_n)
                .where(F.size("tokens") >= shingle_n)
                .select(F.col(id_col), F.col("shingles").alias("el"))
            )
        else:
            tk = tk.select(
                F.col(id_col), F.array_distinct("tokens").alias("el")
            )
        return tk

    toks = elements(df).select(F.col(id_col), F.explode("el").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("dfc", "tok")
            ),
        )
        .withColumn(
            "len", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
    )
    # ceil over a float product is UNSAFE for losslessness: 0.56*25 is
    # 14.000000000000002 in doubles, so a bare ceil shortens the prefix by
    # one and drops qualifying pairs. Biasing down by 1e-9 before the ceil
    # errs on the long-prefix side (still lossless, at worst one extra
    # candidate element) for any threshold not itself within 1e-9 of a
    # rational boundary. The oracle carries the identical expression.
    prefix = ranked.where(
        F.col("rnk")
        <= F.col("len") - F.ceil(F.lit(t) * F.col("len") - F.lit(1e-9)) + 1
    ).select(id_col, "tok", "rnk", "len")

    l = prefix.select(
        F.col(id_col).alias("left_id"),
        "tok",
        F.col("rnk").alias("ra"),
        F.col("len").alias("la"),
    )
    r = prefix.select(
        F.col(id_col).alias("right_id"),
        "tok",
        F.col("rnk").alias("rb"),
        F.col("len").alias("lb"),
    )
    joined = l.join(r, "tok").where(
        (F.col("left_id") < F.col("right_id"))
        # same float-boundary bias as the prefix ceil: t*len can land a
        # hair ABOVE an exact integer (0.56*25 = 14.000000000000002) and
        # reject a pair with J exactly = t
        & (F.col("lb") * F.lit(t) - F.lit(1e-9) <= F.col("la"))
        & (F.col("la") * F.lit(t) - F.lit(1e-9) <= F.col("lb"))
    )
    if positional:
        # PPJoin positional filter (Xiao et al. WWW'08; set-oriented form
        # per Vernica et al. SIGMOD'10): J >= t forces overlap
        # I >= alpha = ceil(t/(1+t) * (la+lb)); for the FIRST common prefix
        # token (positions ra, rb in the full frequency order) no common
        # token precedes it, so I <= 1 + min(la-ra, lb-rb). A qualifying
        # pair therefore always has at least one matched-token row passing
        # 1 + min(la-ra, lb-rb) >= alpha — filtering rows (not pairs) stays
        # LOSSLESS, while non-first matches of junk pairs die here instead
        # of surviving to the dedup shuffle and set-verify join.
        alpha = F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("la") + F.col("lb")) - F.lit(1e-9)
        )
        joined = joined.where(
            F.lit(1)
            + F.least(F.col("la") - F.col("ra"), F.col("lb") - F.col("rb"))
            >= alpha
        )
    cand = joined.select("left_id", "right_id").dropDuplicates(
        ["left_id", "right_id"]
    )
    if debug_counts is not None:
        debug_counts["candidates"] = cand.count()

    # verify-side sets only for docs that actually appear in a candidate —
    # the verify cost scales with the candidate set, not the corpus
    cand_ids = (
        cand.select(F.col("left_id").alias(id_col))
        .unionAll(cand.select(F.col("right_id").alias(id_col)))
        .distinct()
    )
    sets = elements(df.join(cand_ids, id_col, "left_semi")).select(
        F.col(id_col), F.array_sort(F.array_distinct("el")).alias("ts")
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size("ta") + F.size("tb")).cast("double") - inter
    return (
        pair_sides(cand, sets, id_col, {"ts": ("ta", "tb")})
        .select(
            "left_id", "right_id", (inter / union).alias("jaccard")
        )
        .where(F.col("jaccard") >= t)
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """Exact edit-distance threshold self-join via q-gram prefix filtering
    (Gravano et al. VLDB'01 q-gram count/length filters; EDJoin, Xiao et
    al. VLDB'08 — public algorithms): every pair with
    levenshtein(a, b) <= max_dist is returned, never an all-pairs join.

    Why it is LOSSLESS: one edit operation destroys at most q of a
    string's q-grams, so ed <= d implies the two (distinct-)gram sets
    share at least max(|Q1|,|Q2|) - q*d grams — by the standard prefix
    lemma the pair must then collide inside each side's first q*d + 1
    grams of a global total order. Grams are ordered by (document
    frequency asc, gram), the same rarest-first discipline as
    `allpairs_jaccard_join`: hot grams sit in suffixes and never enter
    the inverted index unless a string is too short to push them out.
    Strings are padded with chr(1)/chr(2) sentinels (q-1 each side) so
    even empty strings carry >= 1 gram, and identical padding on both
    sides leaves the edit distance unchanged. The one hole in the prefix
    lemma is pairs where BOTH distinct-gram counts are <= q*d (the
    required-overlap bound drops to zero, so they may share no gram at
    all — e.g. '' vs 'a'): rows that short additionally emit a constant
    sentinel gram, putting the whole <= q*d-gram population (raw length
    bounded by ~q*d + q) in one bucket that the length filter prunes and
    the exact verify settles. A corpus with millions of such near-empty
    strings concentrates that bucket — they are genuine <= d matches of
    each other, so that cost is the answer's own size, not the filter's.

    Candidates additionally pass the length filter
    abs(len(a) - len(b)) <= d inside the gram join, dedup on BARE id
    pairs, and verify with the JVM `levenshtein` on the raw strings —
    attached once per surviving candidate, scaling with the candidate
    set, not the corpus. Output (left_id, right_id, dist), dist <= d.
    """
    from pyspark.sql import Window

    d = int(max_dist)
    prefix_len = q * d + 1
    pad_l = F.expr(f"repeat(chr(1), {q - 1})")
    pad_r = F.expr(f"repeat(chr(2), {q - 1})")
    padded = F.concat(pad_l, F.col(text_col), pad_r)
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_s"),
        F.length(text_col).alias("_n"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(concat(repeat(chr(1), {q-1}), "
                f"{text_col}, repeat(chr(2), {q-1}))) - {q - 1}), "
                f"i -> substr(concat(repeat(chr(1), {q-1}), {text_col}, "
                f"repeat(chr(2), {q-1})), i, {q}))"
            )
        ).alias("_grams"),
    )
    toks = base.select(F.col(id_col), "_n", F.explode("_grams").alias("g"))
    dfreq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("dfc"))
    pref = (
        toks.join(dfreq, "g")
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy(id_col).orderBy("dfc", "g")),
        )
        .where(F.col("rnk") <= prefix_len)
        .select(id_col, "g", "_n")
    )
    short = base.where(F.size("_grams") <= q * d).select(
        F.col(id_col), F.lit("\x00short").alias("g"), F.col("_n")
    )
    pref = pref.unionByName(short)
    l = pref.select(F.col(id_col).alias("left_id"), "g", F.col("_n").alias("na"))
    r = pref.select(F.col(id_col).alias("right_id"), "g", F.col("_n").alias("nb"))
    cand = (
        l.join(r, "g")
        .where(
            (F.col("left_id") < F.col("right_id"))
            & (F.abs(F.col("na") - F.col("nb")) <= d)
        )
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    return (
        pair_sides(cand, base, id_col, {"_s": ("sa", "sb")})
        .withColumn("dist", F.levenshtein("sa", "sb"))
        .where(F.col("dist") <= d)
        .select("left_id", "right_id", "dist")
    )


def bbit_minhash_pack(
    sig_df: DataFrame,
    num_perm: int = 64,
    b: int = 2,
    id_col: str = "conv_id",
    sig_col: str = "sig",
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) → (id, bsig: array<bigint>) with
    only the lowest b bits of each permutation kept, packed 64/b fields per
    word — b-bit minwise hashing (Li & König, "b-Bit Minwise Hashing",
    WWW 2010 — public algorithm).

    Why at 10^12 turns: the full 64-bit signature is num_perm·8 bytes per
    row (1 KB/doc at 128 perms → ~1 PB of signature payload through every
    signature-carrying shuffle or signature store). b=2 packs the same 128
    perms into 4 longs (32 B) — a 32x cut in signature bytes — paid for by
    extra estimator variance that `bbit_jaccard_estimate` corrects for
    (divide out the 1/2^b accidental-collision floor); the paper shows
    accuracy is recovered with ~1.3-1.5x more permutations at b∈{1,2},
    still a >20x net byte win.

    Pure narrow projection (zero shuffle), like minhash_signatures: field
    j of word w packs (sig[w·k + j] & (2^b − 1)) << (b·j), k = 64/b.
    `num_perm` must equal the signature length (the array schema does not
    carry its arity, and a static value keeps the packing a flat codegen
    projection — no higher-order functions). b must divide 64 and num_perm
    must be a multiple of k.
    """
    if 64 % b != 0:
        raise ValueError(f"b must divide 64, got {b}")
    k = 64 // b
    if num_perm % k != 0:
        raise ValueError(f"num_perm must be a multiple of {k} for b={b}")
    mask = (1 << b) - 1

    def word(w: int):
        out = None
        for j in range(k):
            f = F.shiftleft(
                F.element_at(F.col(sig_col), w * k + j + 1).bitwiseAND(mask),
                b * j,
            )
            out = f if out is None else out.bitwiseOR(f)
        return out

    return sig_df.select(
        F.col(id_col),
        F.array(*[word(w) for w in range(num_perm // k)]).alias("bsig"),
    )


def bbit_jaccard_estimate(
    pairs: DataFrame,
    b: int = 2,
    left_col: str = "left_bsig",
    right_col: str = "right_bsig",
    out_col: str = "est_jaccard",
) -> DataFrame:
    """Adds the unbiased b-bit Jaccard estimate for rows carrying two
    packed signatures (`bbit_minhash_pack` output): matched b-bit fields
    underestimate nothing but collide accidentally with prob C ≈ 1/2^b, so
      Ĵ = (P_match − C) / (1 − C),  clamped to [0, 1]
    (Li & König 2010, eq. 5 in the D→∞ / small-fraction regime that a
    shingle space of 64-bit hashes is in).

    Field matching is bit-parallel on the packed words — XOR, OR-fold the
    b bit-planes, one bit_count per word — so the comparison cost per pair
    is num_perm·b/64 long ops, not num_perm element compares. All JVM
    expressions inside whole-stage codegen.
    """
    if 64 % b != 0:
        raise ValueError(f"b must divide 64, got {b}")
    k = 64 // b
    # repeating mask with bit 0 of every b-bit field set: 0b01 01 01... for b=2
    lsb_mask = 0
    for j in range(k):
        lsb_mask |= 1 << (b * j)
    if lsb_mask >= 1 << 63:  # b=1: all 64 bits set — signed int64 form
        lsb_mask -= 1 << 64

    def mismatches(l, r):
        x = l.bitwiseXOR(r)
        folded = x
        for shift in range(1, b):
            folded = folded.bitwiseOR(F.shiftrightunsigned(x, shift))
        return F.bit_count(folded.bitwiseAND(F.lit(lsb_mask)))

    n_perm = F.size(F.col(left_col)) * k
    n_mismatch = F.aggregate(
        F.zip_with(F.col(left_col), F.col(right_col), mismatches),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    p_match = (n_perm - n_mismatch).cast("double") / n_perm.cast("double")
    c = 1.0 / float(2**b)
    est = (p_match - F.lit(c)) / F.lit(1.0 - c)
    return pairs.withColumn(
        out_col, F.greatest(F.least(est, F.lit(1.0)), F.lit(0.0))
    )


def oph_signatures(
    df: DataFrame,
    id_col: str = "conv_id",
    shingles_col: str = "shingles",
    num_bins: int = 64,
    seed: int = 1,
    hash_fn=None,
    tag_fn=None,
) -> DataFrame:
    """One-permutation hashing with rotation densification (Li, Owen &
    Zhang NIPS 2012; Shrivastava & Li ICML 2014 — public algorithms): an
    O(|shingles|)-HASH MinHash signature — one hash evaluation per shingle
    vs the classic one-per-(shingle, permutation).

    Measured caveat (honest numbers, sf0.1-scale transcripts, local[8],
    min of 3): this repo's minhash_signatures already collapses the
    per-permutation cost to an int64 rehash via two-level hashing, and at
    num_perm=64 that path runs the signature stage ~3x FASTER than this
    OPH implementation (2.2 s vs 6.2 s) — the O(num_bins·|shingles|)
    bin-filter compares plus the densification scan outweigh the saved
    integer rehashes at this width, so the blocking entry points use
    minhash_signatures. OPH is kept as the standard single-hash-pass
    construction (the `oph_signature` oracle query; compose it with
    lsh_bands → candidates_from_bands → estimated_jaccard for an OPH
    blocking run): its win materializes when signatures must come from ONE
    pass over the shingles (very large num_perm, or an expensive/streamed
    hash), not at the pipeline default.

    Construction: each shingle hashes ONCE to h = xxhash64(shingle, seed);
    bin = pmod(h, num_bins) splits the hash space into num_bins ranges;
    sig[i] = min h over the row's shingles landing in bin i. Empty bins
    (short documents) densify by borrowing the nearest non-empty bin to
    the RIGHT (circular): the densified value is xxhash64(borrowed_min,
    borrow_distance), so two signatures agree on a densified bin iff they
    borrowed the same value from the SAME distance — the Shrivastava-Li
    collision rule — while filled bins (distance 0) keep min-equality
    semantics through the same tagging hash. Rows with NO shingles get a
    constant sentinel signature (they only match each other).

    Same output contract as minhash_signatures — (id, sig: array<bigint>)
    — so lsh_bands / estimated_jaccard / bbit_minhash_pack compose
    unchanged. Zero shuffle: one narrow projection; the rotation search is
    array ops (doubled-array slice + first-non-null) inside codegen.

    hash_fn (string col → bigint col) and tag_fn ((value, distance) bigint
    cols → bigint col) default to xxhash64 — the fast JVM production path.
    Pass engine-portable hashes (e.g. md5-prefix → conv) to make the whole
    construction replicable in ANSI SQL for oracle checking; the structure
    (binning, per-bin min, rotation densification) is identical either way.
    """
    if hash_fn is None:
        hash_fn = lambda s: F.xxhash64(s, F.lit(seed))  # noqa: E731
    if tag_fn is None:
        tag_fn = lambda v, d: F.xxhash64(v, d)  # noqa: E731
    hcol = F.transform(F.col(shingles_col), hash_fn)
    with_h = df.withColumn("__h1", hcol)
    raw = F.array(
        *[
            F.array_min(
                F.filter(F.col("__h1"), lambda h: F.pmod(h, num_bins) == i)
            )
            for i in range(num_bins)
        ]
    )
    with_m = with_h.withColumn("__m2", F.concat(raw, raw))

    def densify(i):
        # nearest non-empty bin to the right = min index j in [i, i+nb)
        # with m2[j] non-null — int arithmetic only (a struct-tagging
        # formulation measured 4x slower: per-element boxing dominates)
        pos = F.array_min(
            F.transform(
                F.sequence(F.lit(i), F.lit(i + num_bins - 1)),
                lambda j: F.when(
                    F.element_at(F.col("__m2"), j + 1).isNotNull(), j
                ),
            )
        )
        return F.when(
            pos.isNotNull(),
            tag_fn(
                F.element_at(F.col("__m2"), pos + 1),
                (pos - F.lit(i)).cast("int"),
            ),
        ).otherwise(F.lit(0))

    return with_m.select(
        F.col(id_col),
        F.array(*[densify(i) for i in range(num_bins)]).alias("sig"),
    )


def df_weight_expr(df_cnt, n_docs, max_weight: int = 4, base: int = 4):
    """Integer IDF-quantized token weight from document frequency — EXACT
    integer arithmetic, no float log, so the weight (and everything built
    on it) is bit-identical cross-engine:

        weight = 1 + max{ k <= max_weight-1 : df_cnt * base^k <= n_docs }

    i.e. a token in <= n/4 of docs weighs 2, <= n/16 weighs 3, <= n/64
    weighs 4 (base=4, max_weight=4). Evaluated as a descending CASE chain
    of bigint multiplies."""
    expr = None
    for k in range(max_weight - 1, 0, -1):
        cond = df_cnt * F.lit(base**k) <= n_docs
        expr = (
            F.when(cond, F.lit(k + 1))
            if expr is None
            else expr.when(cond, F.lit(k + 1))
        )
    return expr.otherwise(F.lit(1)) if expr is not None else F.lit(1)


def weighted_replicas_expr(tokens_col, weights_col, max_weight: int = 4):
    """Chum et al. 2008 integer-weight replication as a PURE codegen
    expression: token t with weight w expands to replicas t#1..t#min(w,
    max_weight), so plain (unweighted) Jaccard over the replica sets EQUALS
    the integer-weighted Jaccard over the token sets — which turns any
    unweighted MinHash/OPH signature into a weighted-Jaccard LSH. Zero
    shuffle given aligned tokens/weights arrays."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    w = F.col(weights_col) if isinstance(weights_col, str) else weights_col
    return F.flatten(
        F.zip_with(
            t,
            w,
            lambda tok, wt: F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.least(wt, F.lit(max_weight)), F.lit(1)
                    ).cast("int"),
                ),
                lambda i: F.concat_ws("#", tok, i.cast("string")),
            ),
        )
    )


def weighted_token_replicas(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    weight_df: DataFrame,
    max_weight: int = 4,
    broadcast_weights: bool = True,
    out_col: str = "wshingles",
) -> DataFrame:
    """Relational replica construction for corpus-scale weight tables:
    explode DISTINCT tokens, join (token, weight), expand replicas, gather
    back to (id, wshingles). One join + one groupBy; rows are bare
    (id, token) — replica strings are built AFTER the join. Tokens absent
    from weight_df default to weight 1. Use weighted_replicas_expr instead
    when weights already ride the row (zero-shuffle)."""
    ex = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("token"),
    )
    w = weight_df.select("token", "weight")
    if broadcast_weights:
        w = F.broadcast(w)
    j = ex.join(w, "token", "left").select(
        F.col(id_col),
        "token",
        F.coalesce("weight", F.lit(1)).alias("w"),
    )
    reps = j.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.least(F.col("w"), F.lit(max_weight)), F.lit(1)
                    ).cast("int"),
                ),
                lambda i: F.concat_ws("#", F.col("token"), i.cast("string")),
            )
        ).alias("r"),
    )
    return reps.groupBy(id_col).agg(F.collect_list("r").alias(out_col))


def weighted_minhash_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 200,
    max_weight: int = 4,
    threshold: float | None = None,
    shingle_n: int | None = None,
) -> DataFrame:
    """End-to-end IDF-weighted MinHash-LSH blocking: rare-token agreement
    drives candidate generation the way it drives
    scoring.score_pairs_weighted_jaccard's verify — two docs sharing one
    rare identifier token surface as candidates even when their overall
    token overlap is tiny (plain Jaccard LSH misses exactly these).

    Pipeline: tokenize → corpus DF index (one agg over bare (id, token)
    rows) → integer weights via df_weight_expr (exact arithmetic) →
    replica expansion (Chum reduction) → standard signature / band /
    salted-bucket machinery, unchanged. est_jaccard on the output
    estimates the WEIGHTED Jaccard. Replica volume is bounded by
    max_weight× the distinct-token volume, and only bare (id, replica)
    rows enter the gather shuffle.

    shingle_n: None weighs unigram tokens (identifier-style matching);
    an int weighs n-gram shingles instead (document near-dup granularity —
    rare PHRASES outweigh boilerplate phrases), same construction."""
    toks = tokenize(df, text_col)
    unit_col = "tokens"
    if shingle_n is not None:
        toks = shingle(toks, n=shingle_n)
        unit_col = "shingles"
    ex = toks.select(
        F.col(id_col), F.explode(F.array_distinct(unit_col)).alias("token")
    )
    dfx = ex.groupBy("token").agg(F.count(F.lit(1)).alias("df_cnt"))
    n = toks.select(F.count(F.lit(1)).alias("__n"))
    w = dfx.crossJoin(F.broadcast(n)).select(
        "token",
        df_weight_expr(F.col("df_cnt"), F.col("__n"), max_weight).alias(
            "weight"
        ),
    )
    rep = weighted_token_replicas(toks, id_col, unit_col, w, max_weight)
    sig = minhash_signatures(
        rep, id_col, shingles_col="wshingles", num_perm=num_perm
    )
    return _lsh_pairs(sig, id_col, num_bands, rows_per_band, max_bucket, threshold)


def time_band_pairs(
    df: DataFrame,
    ts_col: str,
    band_seconds: int,
    id_col: str = "doc_id",
    equi_cols: list[str] | None = None,
) -> DataFrame:
    """Temporal-band blocking: every pair of records (optionally agreeing
    on ``equi_cols``) whose timestamps lie within ``band_seconds`` of each
    other — the range-join form of blocking every event pipeline needs
    (duplicate-submission detection, retry linkage, near-simultaneous
    sessions) that naive SQL expresses as an O(n²) theta join.

    Returns (equi_cols..., left_id, right_id, delta_sec) with the earlier
    record on the left (ties broken by id), 0 <= delta_sec <= band, each
    qualifying unordered pair exactly once.

    Scale shape: the inequality predicate becomes a dense-integer
    equi-join. Each record gets bucket = floor(epoch/band); the EARLIER
    side replicates to (bucket, bucket+1) — factor exactly 2, independent
    of band or skew — and the later side keeps its own bucket. Any pair
    within the band has the later record in the earlier's bucket or the
    next one, so the equi-join on (equi_cols, bucket) finds every pair
    exactly once (the two exploded buckets are distinct values). Hot time
    windows (a bucket holding b records contributes <= b² candidates) are
    the residual skew; AQE skew-join splits those stragglers, and `band`
    itself is the knob that sizes bucket occupancy. Timestamps reduce to
    whole epoch seconds via unix_timestamp (floor — DuckDB's
    floor(epoch(ts)) matches, so the oracle is engine-exact)."""
    if band_seconds < 1:
        raise ValueError(f"band_seconds must be >= 1, got {band_seconds}")
    equi_cols = list(equi_cols or [])
    base = df.select(
        *equi_cols,
        F.col(id_col),
        F.unix_timestamp(F.col(ts_col)).alias("tb_e"),
    ).where(F.col("tb_e").isNotNull())
    bucket = F.floor(F.col("tb_e") / band_seconds).cast("long")
    lhs = base.select(
        *equi_cols,
        F.col(id_col).alias("left_id"),
        F.col("tb_e").alias("tb_le"),
        F.explode(F.array(bucket, bucket + 1)).alias("tb_b"),
    )
    rhs = base.select(
        *equi_cols,
        F.col(id_col).alias("right_id"),
        F.col("tb_e").alias("tb_re"),
        bucket.alias("tb_b"),
    )
    return (
        lhs.join(rhs, equi_cols + ["tb_b"])
        .where(
            (
                (F.col("tb_re") > F.col("tb_le"))
                | (
                    (F.col("tb_re") == F.col("tb_le"))
                    & (F.col("right_id") > F.col("left_id"))
                )
            )
            & (F.col("tb_re") - F.col("tb_le") <= band_seconds)
        )
        .select(
            *equi_cols,
            "left_id",
            "right_id",
            (F.col("tb_re") - F.col("tb_le")).cast("long").alias("delta_sec"),
        )
    )
