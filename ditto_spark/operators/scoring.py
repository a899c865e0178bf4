"""M1-M4 — pairwise match scoring.

The reference scores candidate pairs with a fine-tuned LM cross-encoder:
tokenize pair → DistilBERT forward → softmax[:,1] → strict `p > τ`
(/root/reference/ditto_light/ditto.py:22-64 forward, /root/reference/
matcher.py:73-116 classify, threshold at matcher.py:112-115). Batching is
1024 pairs/batch (matcher.py:120,179).

Spark-first: the whole predict loop (matcher.py:118-189 — read, buffer,
classify, write) collapses to `pairs.mapInPandas(scorer)`; Spark does the
streaming/batching via Arrow (`spark.sql.execution.arrow.maxRecordsPerBatch`)
and the iterator form keeps the model resident across batches within a
partition — the "batched pre-trained-LM cross-encoder inside pandas/Arrow
iterator UDFs with no per-row Python" contract from BASELINE.json.

Two scorers plug into the same slot:
  * token-cosine surrogate (default, deterministic, no downloads):
    token-count cosine over exact whitespace tokens (`_cosine_batch`). The
    pairs of a duplicate group share their texts, so each Arrow batch
    tokenizes each distinct text once and scores its pairs from per-text
    token counts; its cost per pair falls with how often texts repeat in a
    batch. Used by tests/CI where LM weights are unavailable (SURVEY.md §7
    risks).
  * HF cross-encoder (ditto semantics) behind an import-try: loads
    transformers+torch once per partition iterator, tokenizes each Arrow
    batch with padding/truncation (dataset.py:73-76, dataset.py:91-117
    semantics) and applies softmax over the 2-class head.

There is also a pure-JVM fast path (`score_pairs_builtin`) — token Jaccard
via array_intersect/array_union over `blocking.content_tokens` — used as the
benchmark baseline and the DuckDB-oracle-checkable scorer.

The IDF scorers (`score_pairs_tfidf_relational`, `score_pairs_weighted_jaccard`,
`match_evidence`, `phonetic.soft_tfidf_scores`) weight tokens through one
broadcast lookup, `idf_lookup`; the relational ones and the IDF builders
tokenize with `_ws_tokens`, which splits where the Arrow scorer's
`_token_lists` (Python str.split()) splits.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import content_tokens, pair_sides

SCORE_SCHEMA = "left_id string, right_id string, prob double"
# attach_pair_text truncates each side's text to this many characters
PAIR_TEXT_MAX_CHARS = 4096


def _token_lists(s: pd.Series) -> pd.Series:
    # whitespace split (vectorized) rather than a regex findall: 2-3x less
    # Python time per batch. The IDF builders (idf_tokens_expr) tokenize the
    # SAME way so every token produced here has an IDF entry.
    return s.str.lower().str.split()


def _cosine_batch(
    left: pd.Series,
    right: pd.Series,
    idf: dict[str, float] | None = None,
    default_idf: float = 1.0,
) -> np.ndarray:
    """Vectorized token-count cosine for one Arrow batch.

    The pairs of a duplicate group share their texts, so the batch's texts
    are factorized first and only the distinct ones are tokenized. Their
    tokens are factorized to int codes (no hashing, so no collisions) and
    sorted by (text, code) into one run of (code, count) per distinct text,
    which also gives its squared norm. Each pair expands its left text's
    run and finds each code in the right text's run with one searchsorted
    over `text * V + code` keys. Outside `_token_lists` there is no per-row
    Python. With `idf`, token counts are scaled by the given per-token
    weight (TF-IDF cosine); weights must be corpus-derived for determinism.
    Without it every count, norm and dot product is an integer, so the
    result does not depend on summation order. A null text scores like an
    empty one: 0.0.
    """
    n = len(left)
    text_id, texts = pd.factorize(
        pd.concat([left, right], ignore_index=True), use_na_sentinel=False
    )
    # explode keeps each token's distinct-text id as its index and turns
    # empty (and null) texts into one NaN row, which dropna removes
    flat = _token_lists(pd.Series(texts)).explode().dropna()
    codes, uniques = pd.factorize(flat)
    vocab = len(uniques)
    if vocab == 0:
        return np.zeros(n)
    keys, counts = np.unique(
        flat.index.to_numpy(np.int64) * vocab + codes, return_counts=True
    )
    run_text, run_code = np.divmod(keys, vocab)
    weights = counts.astype(np.float64)
    if idf is not None:
        wvec = np.fromiter(
            (idf.get(t, default_idf) for t in uniques), dtype=np.float64,
            count=vocab,
        )
        weights *= wvec[run_code]
    norm = np.bincount(run_text, weights=weights**2, minlength=len(texts))
    run_start = np.searchsorted(run_text, np.arange(len(texts) + 1))
    lt, rt = text_id[:n], text_id[n:]
    # one element per (pair, distinct token of the pair's left text)
    l_start = run_start[lt]
    l_len = run_start[lt + 1] - l_start
    pair = np.repeat(np.arange(n), l_len)
    pos = np.arange(len(pair)) - np.repeat(np.cumsum(l_len) - l_len - l_start, l_len)
    probe = rt[pair] * vocab + run_code[pos]
    found = np.minimum(np.searchsorted(keys, probe), len(keys) - 1)
    hit = keys[found] == probe
    dots = np.bincount(
        pair[hit], weights=weights[pos[hit]] * weights[found[hit]], minlength=n
    )
    denom = np.sqrt(norm[lt]) * np.sqrt(norm[rt])
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0, dots / denom, 0.0)
    return cos


def surrogate_scorer_factory() -> Callable[[pd.Series, pd.Series], np.ndarray]:
    """Deterministic scorer: token-count cosine in [0,1]."""
    return _cosine_batch


def idf_weighted_scorer_factory(
    idf: dict[str, float], default_idf: float = 1.0
) -> Callable[[], Callable[[pd.Series, pd.Series], np.ndarray]]:
    """TF-IDF cosine surrogate: token weights derived from a CORPUS-level
    document-frequency table (deterministic under any partitioning — a
    batch-local IDF would vary with Arrow batch boundaries). The dict is
    closure-captured and shipped once per task like the reference's
    summarizer IDF index (summarize.py:33-52)."""

    def factory() -> Callable[[pd.Series, pd.Series], np.ndarray]:
        return lambda l, r: _cosine_batch(l, r, idf=idf, default_idf=default_idf)

    return factory


def _ws_tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased text, split where Python's
    str.split() splits (every str.isspace() character). Java's \\s matches
    only [ \\t\\n\\x0B\\f\\r], so the class is spelled out."""
    return F.filter(
        F.split(
            F.lower(col),
            r"[\t\n\x0B\f\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A"
            r"\u2028\u2029\u202F\u205F\u3000]+",
        ),
        lambda t: t != "",
    )


def idf_tokens_expr(text_col: str) -> Column:
    """Distinct whitespace tokens of the lowercased text — the token stream
    `_token_lists` produces (str.lower().str.split()), so IDF lookups hit
    for every token the Arrow scorer emits, punctuation-adjacent ones
    included, and the relational scorers score exactly what the dict path
    scores. Keep the two tokenizers in lockstep."""
    return F.array_distinct(_ws_tokens(F.col(text_col)))


def build_idf_df(texts, text_col: str = "txt"):
    """(doc-distinct) texts DataFrame → (token, idf) DataFrame with
    idf = log(1 + N/df). Stays on the cluster — this is the corpus-scale
    form; broadcast-join it against exploded pair tokens
    (`score_pairs_tfidf_relational`) instead of collecting a dict."""
    toks = texts.select(F.explode(idf_tokens_expr(text_col)).alias("token"))
    df_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df_cnt"))
    n = texts.count()
    return df_counts.select(
        "token", F.log(F.lit(1.0) + F.lit(float(n)) / F.col("df_cnt")).alias("idf")
    )


def build_idf_dict(texts, text_col: str = "txt") -> dict[str, float]:
    """Driver-side {token: idf} — small-vocabulary fast path (labeled eval
    sets). At corpus scale use `build_idf_df` + the relational scorer; this
    collect would pull the whole vocabulary through the driver."""
    return {r["token"]: r["idf"] for r in build_idf_df(texts, text_col).collect()}


def idf_lookup(
    df: DataFrame, idf_df: DataFrame, default_idf: float, token_col: str = "token"
) -> DataFrame:
    """`df` left-joined on `token_col` to the (token, idf) index, with
    `idf` = the token's weight, or `default_idf` for tokens the index
    lacks. The index is broadcast (vocabulary ≪ pair tokens), so the
    exploded pair side never shuffles for the lookup."""
    idf = F.broadcast(idf_df.select(F.col("token").alias(token_col), "idf"))
    return df.join(idf, token_col, "left").withColumn(
        "idf", F.coalesce("idf", F.lit(float(default_idf)))
    )


def score_pairs_tfidf_relational(
    pairs_with_text: DataFrame,
    idf_df: DataFrame,
    default_idf: float = 1.0,
) -> DataFrame:
    """TF-IDF cosine computed RELATIONALLY: explode pair tokens, join the
    (token, idf) index, aggregate dot product and norms per pair. Produces
    the exact scores of `idf_weighted_scorer_factory` (same whitespace
    tokenizer, same default weight) without ever collecting the vocabulary
    to the driver — the corpus-scale IDF path."""

    def side(txt_col: str, prefix: str) -> DataFrame:
        toks = pairs_with_text.select(
            "left_id", "right_id",
            F.explode(_ws_tokens(F.col(txt_col))).alias("token"),
        )
        counted = toks.groupBy("left_id", "right_id", "token").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return idf_lookup(counted, idf_df, default_idf).select(
            "left_id", "right_id", "token",
            (F.col("cnt") * F.col("idf")).alias(f"{prefix}_w"),
        )

    l = side("left_txt", "l")
    r = side("right_txt", "r")
    l_norm = l.groupBy("left_id", "right_id").agg(
        F.sum(F.col("l_w") * F.col("l_w")).alias("l_sq")
    )
    r_norm = r.groupBy("left_id", "right_id").agg(
        F.sum(F.col("r_w") * F.col("r_w")).alias("r_sq")
    )
    dot = (
        l.join(r, ["left_id", "right_id", "token"])
        .groupBy("left_id", "right_id")
        .agg(F.sum(F.col("l_w") * F.col("r_w")).alias("dot"))
    )
    return (
        pairs_with_text.select("left_id", "right_id")
        .join(l_norm, ["left_id", "right_id"], "left")
        .join(r_norm, ["left_id", "right_id"], "left")
        .join(dot, ["left_id", "right_id"], "left")
        .select(
            "left_id", "right_id",
            F.when(
                (F.col("l_sq") > 0) & (F.col("r_sq") > 0),
                F.coalesce("dot", F.lit(0.0))
                / (F.sqrt("l_sq") * F.sqrt("r_sq")),
            ).otherwise(F.lit(0.0)).alias("prob"),
        )
    )


def score_pairs_progressive(
    pairs_with_text: DataFrame,
    threshold: float,
    scorer_factory: Callable[[], Callable[[pd.Series, pd.Series], np.ndarray]] | None = None,
    n_batches: int = 4,
) -> tuple[DataFrame, dict]:
    """Progressive (pay-as-you-go) pairwise scoring with transitivity
    pruning: candidate pairs are processed in descending blocker-estimate
    order (fixed [0,1] bins on `est_jaccard` — no global sort), and each batch
    drops pairs whose endpoints ALREADY share a cluster before the Arrow
    scorer sees them (Whang et al. 2013 pay-as-you-go ER, composed with
    `cluster.merge_edge_batch`'s exact incremental CC).

    Why the output is EXACTLY the non-progressive clusters: scoring only
    ever ADDS edges, so components only grow; a pruned pair's endpoints
    are in one component at prune time and therefore in one component at
    the end, and an intra-component edge (whether the scorer would have
    accepted or rejected it) never changes connected components. So the
    final assignment equals CC(all passing edges of a score-everything
    run) — only the per-pair probabilities of pruned pairs are never
    computed (this returns CLUSTERS, not a complete score table).

    Why at 100 TB: the LM scorer is the dominant stage cost (measured
    50x run: score 355 s of 409 s total), and duplicate-heavy corpora
    produce near-clique candidate groups — a k-clique needs only a
    spanning tree's k−1 accepted edges to resolve, but a one-shot run
    scores all k(k−1)/2. High-estimate batches resolve the cliques first;
    later batches prune their remaining pairs for the cost of two id-keyed
    joins + an edge-sized meta-CC per batch (driver-synchronized like the
    CC loop itself).

    Returns (assignments, stats): assignments (conv_id, cluster_id) over
    nodes that appear in accepted edges (caller maps singletons to
    themselves, as the pipeline does); stats records scored/pruned counts
    per batch.
    """
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    from ditto_spark.operators.cluster import merge_edge_batch

    binned = pairs_with_text.withColumn(
        "__bin",
        F.least(
            F.lit(n_batches - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.lit(1.0) - F.col("est_jaccard")) * n_batches),
            ),
        ).cast("int"),
    ).persist()
    # empty assignment with the caller's id dtype (string conv ids here,
    # bigint doc ids elsewhere — limit(0) keeps the schema generic)
    assignments = (
        pairs_with_text.select(F.col("left_id").alias("conv_id"))
        .limit(0)
        .withColumn("cluster_id", F.col("conv_id"))
    )
    stats: dict = {"n_batches": n_batches, "threshold": threshold, "batches": []}
    for b in range(n_batches):
        todo = binned.where(F.col("__bin") == b)
        n_pruned = 0
        joined = None
        if b > 0:
            a = assignments
            joined = (
                todo.join(
                    a.select(
                        F.col("conv_id").alias("left_id"),
                        F.col("cluster_id").alias("__cl"),
                    ),
                    "left_id",
                    "left",
                )
                .join(
                    a.select(
                        F.col("conv_id").alias("right_id"),
                        F.col("cluster_id").alias("__cr"),
                    ),
                    "right_id",
                    "left",
                )
                .withColumn(
                    # both endpoints known AND same cluster (null-safe:
                    # an unseen endpoint never prunes)
                    "__pruned",
                    F.coalesce(F.col("__cl") == F.col("__cr"), F.lit(False)),
                )
                .persist()
            )
            n_pruned = joined.where(F.col("__pruned")).count()
            todo = joined.where(~F.col("__pruned")).drop(
                "__cl", "__cr", "__pruned"
            )
        scored = score_pairs(todo, scorer_factory).persist()
        n_scored = scored.count()
        edges = scored.where(F.col("prob") > threshold).select(
            "left_id", "right_id"
        )
        assignments = merge_edge_batch(assignments, edges).localCheckpoint()
        scored.unpersist()
        if joined is not None:
            joined.unpersist()
        stats["batches"].append(
            {"bin": b, "scored": n_scored, "pruned": n_pruned}
        )
    binned.unpersist()
    stats["pairs_scored"] = sum(x["scored"] for x in stats["batches"])
    stats["pairs_pruned"] = sum(x["pruned"] for x in stats["batches"])
    return assignments, stats


def match_evidence(
    pairs_with_text: DataFrame,
    idf_df: DataFrame,
    k: int = 5,
    default_idf: float = 0.0,
    ndigits: int = 6,
) -> DataFrame:
    """Per-pair match EVIDENCE for clerical review: the top-k shared tokens
    by IDF weight (the terms that actually drive the lexical/surrogate
    scorer's decision), the total shared-IDF mass, and the shared-token
    count. The review-queue complement of `fellegi.fs_explain` — that one
    decomposes a γ-vector model's weights per comparison field; this one
    shows WHICH rare terms two free-text entities share, which is what a
    human checks first ("both mention w1423 terrace-house serial XK-55").

    Tokenizer is `idf_tokens_expr` (lowercased whitespace, distinct) —
    lockstep with the IDF builders, so every shared token has a weight.
    Tokens absent from the index weigh `default_idf` (0.0: unseen tokens
    carry no evidence; the conservative review default).

    Plan: array_intersect of the two token arrays BEFORE the explode (the
    exploded table is sized by shared tokens only, ≪ both texts), one
    broadcast join against the (token, idf) index, one pair-keyed groupBy
    with ordering-in-agg top-k (array_sort of (−idf, token) structs — no
    ranking window, no second shuffle), and one id-keyed left join to keep
    zero-overlap pairs visible (evidence='', weight 0 — "no lexical
    evidence" is a review signal, not a dropped row).

    Output: (left_id, right_id, evidence, evidence_weight, n_overlap).
    """
    shared = pairs_with_text.select(
        "left_id",
        "right_id",
        F.explode(
            F.array_intersect(
                idf_tokens_expr("left_txt"), idf_tokens_expr("right_txt")
            )
        ).alias("token"),
    )
    weighted = idf_lookup(shared, idf_df, default_idf).select(
        "left_id", "right_id", "token", F.col("idf").alias("w")
    )
    # ordering-in-agg top-k: sort (−w, token) structs inside the aggregate,
    # slice k, project tokens — deterministic (idf desc, token asc) ties
    ordered = F.array_sort(
        F.collect_list(F.struct((-F.col("w")).alias("nw"), F.col("token")))
    )
    agg = weighted.groupBy("left_id", "right_id").agg(
        F.concat_ws(
            " ",
            F.transform(F.slice(ordered, 1, k), lambda s: s["token"]),
        ).alias("evidence"),
        F.round(F.sum("w"), ndigits).alias("evidence_weight"),
        F.count(F.lit(1)).alias("n_overlap"),
    )
    return (
        pairs_with_text.select("left_id", "right_id")
        .join(agg, ["left_id", "right_id"], "left")
        .select(
            "left_id",
            "right_id",
            F.coalesce("evidence", F.lit("")).alias("evidence"),
            F.coalesce("evidence_weight", F.lit(0.0)).alias("evidence_weight"),
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
        )
    )


def numpy_cross_encoder_factory(
    vocab_size: int = 2048,
    hidden: int = 64,
    max_len: int = 128,
    seed: int = 17,
) -> Callable[[], Callable[[pd.Series, pd.Series], np.ndarray]]:
    """Deterministic numpy mini cross-encoder executing M1's FORWARD-PASS
    SEMANTICS (ditto.py:22-64) without torch: tokenize the pair as
    [CLS] left [SEP] right (dataset.py:58-88), pad to the batch max
    (dataset.py:91-117), embed + position, one ATTENTION-MASKED
    self-attention layer, take the CLS vector, Linear(hidden, 2), and
    softmax[:, 1]. Weights are seeded-random (this is a plumbing/semantics
    vehicle, not a trained matcher — `cross_encoder_scorer_factory` loads
    real HF weights into the same slot); the attention mask makes scores
    BATCH-INVARIANT: a pair scores identically whatever else shares its
    Arrow batch (asserted by tests — an unmasked encoder would leak batch
    padding into the scores)."""
    rng = np.random.RandomState(seed)
    emb = rng.randn(vocab_size, hidden).astype(np.float64) * 0.1
    pos = rng.randn(max_len, hidden).astype(np.float64) * 0.1
    wq = rng.randn(hidden, hidden) * (hidden ** -0.5)
    wk = rng.randn(hidden, hidden) * (hidden ** -0.5)
    wv = rng.randn(hidden, hidden) * (hidden ** -0.5)
    w_fc = rng.randn(hidden, 2) * 0.1
    b_fc = np.zeros(2)
    CLS, SEP = 1, 2

    def tok_ids(text: str) -> list[int]:
        import zlib

        return [
            3 + (zlib.crc32(t.encode()) % (vocab_size - 3))
            for t in text.lower().split()
        ]

    def factory() -> Callable[[pd.Series, pd.Series], np.ndarray]:
        def score(left: pd.Series, right: pd.Series) -> np.ndarray:
            n = len(left)
            if n == 0:
                return np.zeros(0)
            seqs = []
            for l, r in zip(left, right):
                ids = [CLS] + tok_ids(l) + [SEP] + tok_ids(r)
                seqs.append(ids[:max_len])
            L = max(len(s) for s in seqs)
            ids = np.zeros((n, L), dtype=np.int64)  # 0 = PAD
            mask = np.zeros((n, L), dtype=bool)
            for i, s in enumerate(seqs):
                ids[i, : len(s)] = s
                mask[i, : len(s)] = True
            x = emb[ids] + pos[:L][None, :, :]  # (n, L, h)
            q, k, v = x @ wq, x @ wk, x @ wv
            att = (q @ k.transpose(0, 2, 1)) / np.sqrt(hidden)  # (n, L, L)
            att = np.where(mask[:, None, :], att, -1e30)
            att = att - att.max(axis=-1, keepdims=True)
            p = np.exp(att)
            p = p / p.sum(axis=-1, keepdims=True)
            ctx = p @ v + x  # residual
            cls = ctx[:, 0, :]  # CLS pooling (ditto.py:62)
            logits = cls @ w_fc + b_fc
            m = logits.max(axis=1, keepdims=True)
            e = np.exp(logits - m)
            return (e / e.sum(axis=1, keepdims=True))[:, 1]

        return score

    return factory


def cross_encoder_scorer_factory(
    model_name: str = "distilbert-base-uncased",
    checkpoint_path: str | None = None,
    max_len: int = 256,
):
    """Ditto's cross-encoder (ditto.py:22-64): CLS vector → Linear(hidden, 2)
    → softmax[:,1]. Loaded once per partition iterator; raises ImportError
    where torch/transformers are absent (sandbox) — callers fall back to the
    surrogate. Kept import-gated so the UDF slot and plumbing are testable
    without weights."""
    import torch  # noqa: F401  (import-try gate)
    from transformers import AutoModel, AutoTokenizer

    tokenizer = AutoTokenizer.from_pretrained(model_name)
    encoder = AutoModel.from_pretrained(model_name)
    hidden = encoder.config.hidden_size
    fc = torch.nn.Linear(hidden, 2)
    if checkpoint_path:
        state = torch.load(checkpoint_path, map_location="cpu")
        encoder.load_state_dict(state["encoder"])
        fc.load_state_dict(state["fc"])
    encoder.eval()

    def score(left: pd.Series, right: pd.Series) -> np.ndarray:
        with torch.no_grad():
            enc = tokenizer(
                list(left), list(right),
                padding=True, truncation=True, max_length=max_len,
                return_tensors="pt",
            )
            out = encoder(**enc)
            cls = out.last_hidden_state[:, 0, :]
            logits = fc(cls)
            return torch.softmax(logits, dim=1)[:, 1].numpy()

    return score


def score_pairs(
    pairs_with_text: DataFrame,
    scorer_factory: Callable[[], Callable[[pd.Series, pd.Series], np.ndarray]] | None = None,
) -> DataFrame:
    """(left_id, right_id, left_txt, right_txt, ...) → (left_id, right_id, prob).

    mapInPandas iterator UDF: the scorer is constructed ONCE per partition
    (model load), then applied per Arrow batch — the reference's resident
    model + 1024-pair batching (matcher.py:94-98) in Spark form.
    """
    factory = scorer_factory or surrogate_scorer_factory

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = factory()  # once per partition: model load lives here
        for pdf in batches:
            probs = scorer(pdf["left_txt"], pdf["right_txt"])
            yield pd.DataFrame(
                {
                    "left_id": pdf["left_id"],
                    "right_id": pdf["right_id"],
                    "prob": np.asarray(probs, dtype=np.float64),
                }
            )

    cols = pairs_with_text.select("left_id", "right_id", "left_txt", "right_txt")
    return cols.mapInPandas(run, schema=SCORE_SCHEMA)


def attach_pair_text(pairs: DataFrame, serialized: DataFrame) -> DataFrame:
    """Join serialized (conv_id, entity_text) onto candidate pairs as
    left_txt/right_txt: two id-keyed lookups, each built on the entity side
    (`blocking.pair_sides`: broadcast when the entity table fits
    autoBroadcastJoinThreshold, a shuffled hash join when it does not; the
    pair table is never sorted).

    Text is truncated to PAIR_TEXT_MAX_CHARS (4096) BEFORE the join: the
    downstream scorer truncates anyway (the reference tokenizes with
    max_length/truncation — dataset.py:73-76; 4096 chars ≳ 256 subwords),
    and truncating early halves the bytes moved through the two lookups
    + the scorer repartition at 10^12-turn scale."""
    ser = serialized.select(
        "conv_id",
        F.substring("entity_text", 1, PAIR_TEXT_MAX_CHARS).alias("entity_text"),
    )
    return pair_sides(
        pairs, ser, "conv_id", {"entity_text": ("left_txt", "right_txt")}
    )


def score_pairs_builtin(pairs_with_text: DataFrame) -> DataFrame:
    """Pure-JVM surrogate: token-set Jaccard via array_intersect/union.

    Zero Python — the throughput baseline the UDF path is benchmarked
    against, and the scorer used by the DuckDB oracle queries."""
    lt = F.array_distinct(content_tokens(F.col("left_txt")))
    rt = F.array_distinct(content_tokens(F.col("right_txt")))
    return pairs_with_text.select(
        "left_id",
        "right_id",
        (
            F.size(F.array_intersect(lt, rt)).cast("double")
            / F.greatest(F.size(F.array_union(lt, rt)), F.lit(1)).cast("double")
        ).alias("prob"),
    )


def apply_threshold(scored: DataFrame, tau: float) -> DataFrame:
    """Strict `prob > τ` (matcher.py:115, ditto.py:92 — ties excluded);
    adds match + match_confidence per the output contract
    (matcher.py:156-159: confidence = prob of the PREDICTED class)."""
    return scored.withColumn(
        "match", (F.col("prob") > F.lit(tau)).cast("int")
    ).withColumn(
        "match_confidence",
        F.when(F.col("prob") > F.lit(tau), F.col("prob")).otherwise(1.0 - F.col("prob")),
    )


def edit_similarity_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 200,
    min_sim: float = 0.0,
) -> DataFrame:
    """Edit-distance verification of candidate pairs (the classic
    merge/purge verify step that follows sorted-neighborhood blocking):
    normalized Levenshtein similarity 1 − dist/max(len) over a bounded
    text prefix, keeping pairs with sim ≥ min_sim. Pure JVM
    (`F.levenshtein` is a Catalyst expression) — no Python in the loop,
    and DuckDB's `levenshtein` computes the identical standard distance
    for the oracle.

    Scale shape: the DP cost of Levenshtein is O(len²) per pair, so the
    text is truncated to `prefix_len` BEFORE the two attach joins — the
    truncation caps both the shuffle payload and the per-pair compute at
    a constant, which is what keeps a verify pass over 10^10 candidate
    pairs sized by the pair count alone. Both attach joins go through
    blocking.pair_sides, so each builds on the docs side (broadcast when it
    fits autoBroadcastJoinThreshold, a shuffled hash join when it does
    not) and the pair table is never sorted."""
    txt = F.substring(F.col(text_col), 1, prefix_len)
    t = docs.select(F.col(id_col), txt.alias("t"))
    lt, rt = F.col("lt"), F.col("rt")
    dist = F.levenshtein(lt, rt)
    maxlen = F.greatest(F.length(lt), F.length(rt))
    sim = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - dist.cast("double") / maxlen.cast("double")
    )
    return (
        pair_sides(
            pairs.select("left_id", "right_id"), t, id_col, {"t": ("lt", "rt")}
        ).select(
            "left_id",
            "right_id",
            dist.cast("long").alias("edit_dist"),
            F.round(sim, 9).alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= F.lit(min_sim))
    )


def mutual_best_match(
    pairs: DataFrame,
    score_col: str = "score",
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """One-to-one linkage by symmetric best match: keep an (undirected)
    scored pair only when each endpoint is the other's highest-scoring
    neighbor (ties broken by smallest neighbor id). The standard greedy
    1:1 constraint for record linkage between deduplicated sources —
    equivalent to the first round of stable-marriage on mutual proposals.

    Scale shape: symmetrize (one union, no shuffle), rank each node's
    edge list with a per-node window (edge lists are blocker-bounded, so
    partitions stay small and skew follows the blocker's already-bounded
    fan-out), then self-join the |nodes|-sized best-edge table on two
    integer keys. No collect; output ≤ |nodes|/2 rows."""
    from pyspark.sql import Window

    sym = pairs.select(
        F.col(left_col).alias("a"),
        F.col(right_col).alias("b"),
        F.col(score_col).alias("s"),
    ).unionByName(
        pairs.select(
            F.col(right_col).alias("a"),
            F.col(left_col).alias("b"),
            F.col(score_col).alias("s"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("s").desc(), F.col("b").asc())
    best = (
        sym.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("a", "b", "s")
    )
    return (
        best.alias("x")
        .join(
            best.alias("y"),
            (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")),
        )
        .where(F.col("x.a") < F.col("x.b"))
        .select(
            F.col("x.a").alias(left_col),
            F.col("x.b").alias(right_col),
            F.col("x.s").alias(score_col),
        )
    )


def bipartite_best_match(
    pairs: DataFrame,
    score_col: str = "score",
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """One-to-one constraint for TWO-TABLE linkage (bipartite form of
    mutual_best_match, which symmetrizes and is meant for within-corpus
    dedup): keep a pair only if it is simultaneously the best-scoring
    edge of its left record and of its right record. Ties break by the
    smallest partner id, so rank order — and therefore the output — is
    deterministic as long as the caller ranks on a value both engines
    agree on bit-for-bit (rounded scores; see q_fs_linkage).

    Scale shape: two ranking windows partitioned by the respective id
    (edge lists are blocker-bounded) + one equi-join of the two rank-1
    sets on the id pair. Output ≤ min(|A|, |B|) rows, no collect."""
    from pyspark.sql import Window

    wl = Window.partitionBy(left_col).orderBy(
        F.col(score_col).desc(), F.col(right_col).asc()
    )
    wr = Window.partitionBy(right_col).orderBy(
        F.col(score_col).desc(), F.col(left_col).asc()
    )
    best_l = (
        pairs.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    best_r = (
        pairs.select(left_col, right_col, score_col)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(left_col, right_col)
    )
    return best_l.join(best_r, [left_col, right_col])


def score_pairs_weighted_jaccard(
    pairs_with_text: DataFrame,
    idf_df: DataFrame,
    default_idf: float = 1.0,
) -> DataFrame:
    """Set-weighted Jaccard over DISTINCT tokens (Chum et al. 2008's
    weighted set similarity, the standard IDF-weighted complement of the
    cosine scorer): WJ = Σ_{t∈A∩B} w_t / Σ_{t∈A∪B} w_t, so agreement on a
    rare token counts for more than agreement on a stopword — the same
    term-frequency insight as fellegi.fs_score's TF adjustment, applied to
    the token-overlap verify. Same relational discipline as
    `score_pairs_tfidf_relational`: explode pair tokens (distinct — set
    semantics), broadcast-join the (token, idf) index, three pair-keyed
    partial aggregates; union weight arrives as L + R − I (never a union
    materialization). Output (left_id, right_id, prob in [0,1]); a pair
    with a token-less side scores 0.0."""

    def side(txt_col: str, prefix: str) -> DataFrame:
        toks = pairs_with_text.select(
            "left_id", "right_id",
            F.explode(idf_tokens_expr(txt_col)).alias("token"),
        )
        return idf_lookup(toks, idf_df, default_idf).select(
            "left_id", "right_id", "token", F.col("idf").alias(f"{prefix}_w")
        )

    l = side("left_txt", "l")
    r = side("right_txt", "r")
    l_sum = l.groupBy("left_id", "right_id").agg(F.sum("l_w").alias("l_s"))
    r_sum = r.groupBy("left_id", "right_id").agg(F.sum("r_w").alias("r_s"))
    inter = (
        l.join(r, ["left_id", "right_id", "token"])
        .groupBy("left_id", "right_id")
        .agg(F.sum("l_w").alias("i_s"))
    )
    # a side with no tokens has no sum row: its weight is 0, not NULL
    ls, rs, i_s = (F.coalesce(c, F.lit(0.0)) for c in ("l_s", "r_s", "i_s"))
    return (
        pairs_with_text.select("left_id", "right_id")
        .join(l_sum, ["left_id", "right_id"], "left")
        .join(r_sum, ["left_id", "right_id"], "left")
        .join(inter, ["left_id", "right_id"], "left")
        .select(
            "left_id", "right_id",
            F.when(ls + rs > 0, i_s / (ls + rs - i_s))
            .otherwise(F.lit(0.0))
            .alias("prob"),
        )
    )


def score_pairs_cached(
    pairs_with_text: DataFrame,
    cache_dir: str,
    score_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Content-addressed score memo around any pair scorer — the
    incremental-run path: on continuously-arriving transcript corpora the
    blocking stage re-emits mostly-seen candidate pairs every run, and the
    scorer (the LM forward pass — the most expensive stage by far) should
    only ever run on the delta.

    Reference parity: generalizes the reference's ad-hoc file memoization
    (/root/reference/blocking/blocker.py caches encoder output per input
    file) from per-file artifacts to a per-PAIR score table keyed by
    content, which is what composes with incremental blocking.

    Key = (md5(left_txt), md5(right_txt)) — content-addressed, so a
    conversation whose text changes between runs gets a new key and is
    transparently re-scored, while id renames / re-blocks hit the cache.
    Pair order is preserved (cross-encoders are order-sensitive).

    Plan shape (the 100 TB story):
      1. distinct text-pairs only are scored — identical serialized pairs
         (retry-heavy template conversations) collapse BEFORE the scorer;
      2. hits/misses split by one fixed-width-key equi-join against the
         cache table (left_anti for misses) — AQE broadcasts whichever
         side is small (first run: empty cache; steady state: small miss
         delta);
      3. `score_fn` (default: the Arrow-UDF `score_pairs`) runs on misses
         ONLY; results are appended to `cache_dir` (parquet here; an
         Iceberg append with snapshot isolation at real scale — same
         contract as checkpoint.StageStore) and the append doubles as the
         materialization barrier, so the scorer computes each miss once;
      4. the run's result is one join of this run's pairs against the
         cache — never re-scoring, never collecting.

    Retried appends may duplicate rows; the read side dropDuplicates on
    the key, which is sound because every scorer in this package is
    deterministic (a nondeterministic scorer would make ANY memoization
    unsound). Returns the same (left_id, right_id, prob) schema as
    `score_pairs` — a drop-in replacement.
    """
    from pyspark.errors import AnalysisException

    spark = pairs_with_text.sparkSession
    score_fn = score_fn or score_pairs

    fp = pairs_with_text.select(
        "left_id",
        "right_id",
        F.md5("left_txt").alias("left_fp"),
        F.md5("right_txt").alias("right_fp"),
        "left_txt",
        "right_txt",
    )

    def _read_cache() -> DataFrame | None:
        try:
            c = spark.read.parquet(cache_dir)
        except AnalysisException:
            return None
        return c.dropDuplicates(["left_fp", "right_fp"])

    distinct_pairs = fp.select(
        "left_fp", "right_fp", "left_txt", "right_txt"
    ).dropDuplicates(["left_fp", "right_fp"])

    cache = _read_cache()
    misses = (
        distinct_pairs.join(
            cache.select("left_fp", "right_fp"), ["left_fp", "right_fp"], "left_anti"
        )
        if cache is not None
        else distinct_pairs
    )

    fresh = score_fn(
        misses.select(
            F.col("left_fp").alias("left_id"),
            F.col("right_fp").alias("right_id"),
            "left_txt",
            "right_txt",
        )
    ).select(
        F.col("left_id").alias("left_fp"),
        F.col("right_id").alias("right_fp"),
        "prob",
    )
    fresh.write.mode("append").parquet(cache_dir)

    all_scores = _read_cache()
    return (
        fp.select("left_id", "right_id", "left_fp", "right_fp")
        .join(all_scores, ["left_fp", "right_fp"])
        .select("left_id", "right_id", "prob")
    )


def score_cache_size(spark, cache_dir: str) -> int:
    """Distinct cached text-pairs (0 if the cache does not exist yet)."""
    from pyspark.errors import AnalysisException

    try:
        c = spark.read.parquet(cache_dir)
    except AnalysisException:
        return 0
    return c.dropDuplicates(["left_fp", "right_fp"]).count()
