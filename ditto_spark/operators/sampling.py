"""Corpus sampling + boilerplate-line removal for training-data curation.

Two operators a pretraining pipeline runs right after dedup and before
packing, neither present in the reference (its inputs are pre-curated pair
files, /root/reference/ditto_light/dataset.py) — part of the
training-data-pipeline tier the build brief adds beyond reference parity:

* `quota_sample` — cap every group (domain / source / language) at k
  documents, chosen deterministically by hashed id: the "no domain may
  dominate the mix" rule. At web scale a single source can hold 10^9 docs
  while the median holds 10^2, so the naive per-group ranking window —
  one task per group — rides the skew. Here the window only ever sees a
  hash-thresholded sliver of each group (expected k + O(sqrt(k)) rows per
  group, independent of group size), with a lazily-composed exact fallback
  for the astronomically-unlikely under-selection, so the result is always
  exactly the k hash-smallest rows per group.

* `strip_boilerplate_lines` — remove every line that occurs in at least
  `min_doc_freq` distinct documents (CCNet-style boilerplate/navigation
  removal), then reassemble documents preserving intra-document line
  order. The duplicated-line *set* is tiny relative to the corpus, so the
  removal join broadcasts; only the line-frequency aggregate and the
  per-document reassembly shuffle, both keyed on bounded-width columns
  (md5 hash / doc id), never on line text.

Both are md5-deterministic and engine-portable: the DuckDB oracles in
__spark_entry__ reproduce the exact per-row output, not just its shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import space_tokens


def _rank_key(id_col: str, seed: int):
    """Deterministic per-row rank key: md5(seed ':' id), total order with the
    id itself as tie-break (md5 collisions). Hex-string order == numeric
    order of the 128-bit value (fixed-length lowercase hex)."""
    return F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col)))


def quota_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 17,
    rank_col: str = "smp_rank",
    prefilter: bool = True,
) -> DataFrame:
    """Keep the min(k, |group|) rows of every group with the smallest
    md5(seed:id) — a deterministic uniform per-group quota. Adds
    `rank_col` (1-based within the group). Stable under reruns,
    repartitioning, and unrelated insertions: a surviving row's rank can
    only change if rows hashing below it enter/leave its own group.

    Scale path (prefilter=True): per-group counts (one partial-aggregated
    shuffle on `group_col`) set a per-group hash threshold
    t = min(1, (k + 6*sqrt(k) + 16) / n) so the ranking window runs on an
    expected k + O(sqrt(k)) rows per group REGARDLESS of group size —
    windows are the one skewed operation AQE cannot split, so the full
    window moves to a join (AQE skew-join splittable) + a bounded window.
    Because rows with u below the threshold form a prefix of the full
    (md5, id) ordering, the prefiltered top-k equals the exact top-k
    whenever the group keeps >= min(k, n) survivors; Chernoff puts the
    failure odds per group below e^-18, and a lazily-composed fallback
    (exact window over only the deficient groups, empty in practice and
    scheduled as a broadcast-pruned scan) repairs even those, so the
    operator is exact always, skew-bounded always.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rk = _rank_key(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(rk.asc(), F.col(id_col).asc())
    ranked_all = df.withColumn(rank_col, F.row_number().over(w))
    if not prefilter:
        return ranked_all.where(F.col(rank_col) <= k)

    # u = first 8 hex of the rank key as a fraction of 2^32: the threshold
    # test u < t selects a PREFIX of the (md5, id) total order.
    u = (
        F.conv(F.substring(rk, 1, 8), 16, 10).cast("double")
        / F.lit(float(1 << 32))
    )
    margin = float(k) + 6.0 * float(k) ** 0.5 + 16.0
    # All group joins use eqNullSafe (<=>): a NULL group value is a group
    # like any other for the window partitioner, and a plain equi-join on
    # group_col would silently drop every NULL-group row from the prefilter
    # path (diverging from prefilter=False). Spark plans <=> as a hash-join
    # key, so this stays an equi-join.
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .withColumnRenamed(group_col, "_gc")
        .withColumn("_thresh", F.least(F.lit(1.0), F.lit(margin) / F.col("_grp_n")))
    )
    surv = (
        df.withColumn("_u", u)
        .join(counts, F.col(group_col).eqNullSafe(F.col("_gc")))
        .where(F.col("_u") < F.col("_thresh"))
    )
    kept = (
        surv.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
        .select(*ranked_all.columns)  # drop _u/_gc/_grp_n/_thresh helpers
    )
    # Deficient groups: kept fewer than min(k, n) rows. Empty in practice
    # (see docstring); composed lazily so no driver-side action is needed —
    # AQE broadcasts the (empty/tiny) deficient set, leaving the fallback
    # branch a broadcast-filtered scan that emits nothing.
    kept_counts = (
        kept.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_kept_n"))
        .withColumnRenamed(group_col, "_kc")
    )
    deficient = (
        counts.join(  # left join keeps zero-survivor groups too
            kept_counts, F.col("_gc").eqNullSafe(F.col("_kc")), "left"
        )
        .where(
            F.coalesce("_kept_n", F.lit(0)) < F.least(F.lit(k), F.col("_grp_n"))
        )
        .select("_gc")
    )
    # Semi-join BEFORE the window: the full-group window only ever runs on
    # rows of deficient groups (none in practice — AQE broadcasts the empty
    # set and the branch degenerates to a filtered scan).
    exact_fix = (
        df.join(deficient, F.col(group_col).eqNullSafe(F.col("_gc")), "left_semi")
        .withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )
    good = (
        kept.join(deficient, F.col(group_col).eqNullSafe(F.col("_gc")), "left_anti")
        .select(*ranked_all.columns)
    )
    return good.unionByName(exact_fix)


def strip_boilerplate_lines(
    docs: DataFrame,
    min_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every line occurring in >= `min_doc_freq` DISTINCT documents
    (boilerplate: navigation bars, license headers, cookie banners), then
    reassemble each document's surviving lines in original order.

    Output: (id_col, clean_text, n_kept, n_removed) — one row per input
    document, clean_text = '' when nothing survives.

    Shuffle discipline at corpus scale: line text never rides a shuffle
    key. The frequency aggregate runs on (md5(line), id) with map-side
    partial aggregation; the removal anti-join keys on the md5 hash and
    its build side — the boilerplate hash set — is tiny relative to the
    corpus, so AQE broadcasts it (no shuffle of the exploded lines); the
    only corpus-sized exchange is the per-document reassembly groupBy,
    which any reconstruction needs, with order restored by array_sort
    inside the aggregate (no second window shuffle — same idiom as
    serialize.py).
    """
    if min_doc_freq < 1:
        raise ValueError(f"min_doc_freq must be >= 1, got {min_doc_freq}")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_pos", "_line"
        ),
    ).withColumn("_h", F.md5(F.col("_line")))
    boiler = (
        lines.select("_h", id_col)
        .dropDuplicates(["_h", id_col])
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_dfc"))
        .where(F.col("_dfc") >= min_doc_freq)
        .select("_h")
    )
    kept = lines.join(boiler, "_h", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_total = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
    return (
        docs.select(id_col, n_total.alias("_n_total"))
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("_n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def clerical_review_sample(
    pairs: DataFrame,
    score_col: str = "score",
    threshold: float = 0.5,
    width: float = 0.25,
    bucket_width: float = 0.05,
    per_bucket: int = 10,
    left_col: str = "left_id",
    right_col: str = "right_id",
    seed: int = 17,
) -> DataFrame:
    """Deterministic stratified sample of scored pairs near the decision
    boundary for human clerical review (the manual step every production
    linkage loop has; Splink's waterfall/comparison-viewer workflow). Pairs
    with |score - threshold| <= width are bucketed into fixed-width score
    strata and each stratum keeps `per_bucket` pairs by md5 rank — so
    reviewers see the full ambiguity gradient, not whatever the optimizer
    scheduled first, and a rerun ships the identical worklist.

    Composes `quota_sample`, inheriting its skew bound: a stratum with 10^9
    pairs costs a count-aggregate + a k+O(sqrt(k))-row window, never a
    full-stratum sort. Output: bucket (int), bucket_lo (4 dp), both pair
    ids, the score, and smp_rank (1-based within the bucket).
    """
    lo = threshold - width
    w = (
        pairs.where(
            (F.col(score_col) >= F.lit(lo))
            & (F.col(score_col) <= F.lit(threshold + width))
        )
        .withColumn(
            "bucket",
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(bucket_width)).cast("int"),
        )
        .withColumn(
            "__pair", F.concat_ws("|", F.col(left_col), F.col(right_col))
        )
    )
    out = quota_sample(w, "bucket", per_bucket, id_col="__pair", seed=seed)
    return out.select(
        "bucket",
        F.round(F.lit(lo) + F.col("bucket") * F.lit(bucket_width), 4).alias("bucket_lo"),
        left_col,
        right_col,
        score_col,
        "smp_rank",
    )


def temperature_mix_sample(
    df: DataFrame,
    source_col: str,
    id_col: str = "doc_id",
    alpha: float = 0.5,
    seed: int = 23,
) -> DataFrame:
    """Temperature-based source rebalancing (downsample-only): keep each row
    of source s with probability rate_s = (n_min / n_s)^(1-alpha), where
    n_s is the source's row count and n_min the smallest source's. This is
    the standard multilingual/multi-source mixing rule (sampling share
    proportional to n_s^alpha, e.g. XLM-R's alpha=0.3, renormalised so the
    smallest source keeps rate 1 — no upsampling, every output row is a
    real distinct input row): alpha=1 keeps everything (natural mix),
    alpha=0 fully balances every source down to ~n_min.

    Determinism & engine portability: the keep decision is
    u < rate_s with u = (first 24 md5 bits of 'seed:source:id') / 2^24 — an
    exact dyadic fraction, identical in any engine with md5. At alpha=0.5
    the rate is computed with sqrt (IEEE correctly rounded, so bit-identical
    across engines — the DuckDB oracle matches per-row); other alphas go
    through pow, whose last-ulp rounding is implementation-defined: fine
    within one engine, but a cross-engine comparison could flip a u lying
    within 1 ulp of the rate (probability ~2^-30 per row).

    Scale path: one partial-aggregated count shuffle on `source_col`; the
    per-source rate table is |sources| rows, broadcast back onto the corpus
    (AQE upgrades the join); the keep decision is a pure codegen filter.
    No window, no sort, no per-group skew — a 10^9-doc source costs the
    same plan as a 10^2-doc one.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0,1], got {alpha}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    ratio = F.col("__nmin").cast("double") / F.col("__n").cast("double")
    if alpha == 0.5:
        rate = F.sqrt(ratio)
    else:
        rate = F.pow(ratio, F.lit(1.0 - alpha))
    rates = counts.crossJoin(nmin).select(
        source_col, rate.alias("__rate")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col(source_col), F.col(id_col)
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 24))
    )
    return (
        df.join(rates, source_col)
        .where(u < F.col("__rate"))
        .drop("__rate")
    )


def hashed_gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    bigrams: bool = True,
) -> DataFrame:
    """Per-document hashed n-gram bucket counts: whitespace unigrams (plus
    word bigrams when `bigrams`), each gram folded to
    ``conv(md5(gram)[:15], 16, 10) % dim`` — the vocabulary-free feature
    map DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling") fits its bag-of-hashed-ngrams models on.
    Returns (id_col, bucket, c).

    Scale shape: one explode to |tokens| rows of (id, int) width, one
    partial-aggregated groupBy on (id, bucket) — no text in any shuffle
    key, no window, no skew beyond document length (bounded upstream by
    the curation pipeline). md5 keeps the bucket assignment engine-portable
    for the DuckDB oracle; production swaps xxhash64 one-for-one.
    """
    toks = space_tokens(F.col(text_col))
    grams = toks
    if bigrams:
        n = F.size(toks)
        big = F.zip_with(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        grams = F.concat(toks, big)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("bigint"),
        F.lit(dim),
    )
    return (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_ratios(
    raw_buckets: DataFrame,
    target_buckets: DataFrame,
    dim: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket log importance ratios log p_target[b] - log p_raw[b]
    from hashed-gram bucket counts (`hashed_gram_buckets` output), with
    add-alpha smoothing over all `dim` buckets: p[b] = (c_b + alpha) /
    (C + alpha*dim). Returns exactly `dim` rows (bucket, log_ratio) —
    the entire fitted DSIR model, small enough to broadcast regardless
    of corpus size.

    Scale shape: two partial-aggregated groupBys on an int key (the only
    corpus-sized work), then dim-row arithmetic; the totals ride along
    via a 1-row cross join (broadcast). Never collects.
    """
    spark = raw_buckets.sparkSession
    grid = spark.range(dim).select(F.col("id").cast("bigint").alias("bucket"))

    def dist(b: DataFrame, tag: str) -> DataFrame:
        cnt = b.groupBy("bucket").agg(F.sum("c").alias("bn"))
        tot = cnt.agg(F.sum("bn").alias("btot"))
        return (
            grid.join(cnt, "bucket", "left")
            .crossJoin(tot)
            .select(
                "bucket",
                F.log(
                    (F.coalesce("bn", F.lit(0)) + F.lit(alpha))
                    / (F.col("btot") + F.lit(alpha * dim))
                ).alias(f"logp_{tag}"),
            )
        )
    return (
        dist(target_buckets, "t")
        .join(dist(raw_buckets, "r"), "bucket")
        .select(
            "bucket",
            (F.col("logp_t") - F.col("logp_r")).alias("log_ratio"),
        )
    )


def dsir_importance_weights(
    raw_buckets: DataFrame,
    log_ratios: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document DSIR log importance weight: sum_b c_doc[b] *
    log_ratio[b] — the log-likelihood ratio of the document under the
    target vs raw hashed-ngram models. Returns (id_col, log_weight).

    Scale shape: the dim-row model joins broadcast-sized onto the bucket
    counts (AQE upgrades it), then one partial-aggregated groupBy on the
    id — the corpus-sized work is two narrow shuffles keyed on int/id.
    """
    return (
        raw_buckets.join(F.broadcast(log_ratios), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("log_ratio")).alias("log_weight"))
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: int = 29,
) -> DataFrame:
    """Gumbel top-k importance resampling: rank documents by
    log_weight + Gumbel noise and keep the k largest — equivalent to
    sampling k documents WITHOUT replacement with probability
    proportional to exp(log_weight) (Vieira 2014, "Gumbel-max trick and
    weighted reservoir sampling"), which is exactly DSIR's resampling
    step. Deterministic and engine-portable: u = (md5-derived 24-bit
    fraction + 2^-25) in (0,1), g = -ln(-ln(u)).

    Scale shape: a global top-k — Spark plans orderBy+limit as
    TakeOrderedAndProject (per-partition heap + driver merge of k rows),
    so no full sort and no single-partition shuffle ever materializes.
    """
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col))), 1, 6
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 24))
    )
    key = F.col("log_weight") - F.log(-F.log(u))
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
        .limit(k)
    )
