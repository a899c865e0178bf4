"""Structured Streaming — incremental dedup/linkage ingestion.

The reference is batch-only (loose files; no streaming exists — SURVEY.md
§2.7), but a production transcript pipeline receives conversations
continuously. Two streaming operators re-use the exact batch operator
expressions (the blocking projections are narrow, so they are
streaming-legal without modification):

* exact first-seen dedup — fingerprint (md5 of normalized text) +
  `dropDuplicates` state, bounded by a watermark on the event-time column.
* incremental LSH candidate generation — each arriving serialized
  conversation computes its MinHash signature + band keys and equi-joins
  the *static* band index of the already-ingested corpus (stream-static
  inner join, supported without watermark) → candidate pairs against the
  corpus, with est_jaccard from the carried signatures.

Band keys and est_jaccard come from the blocking module's Column helpers
(`band_structs`, `sig_agreement`) — the same formulas `lsh_bands` uses to
build the static index, so stream and index keys cannot drift apart. The
streams carry `sig` through banding in one projection rather than joining
`lsh_bands(sig)` back to `sig`: that self-join trips "conflicting
attributes" when a stateful operator sits upstream.

Both run with `trigger(availableNow=True)` in tests (file source → memory
sink); on a cluster the same code points at Kafka/Iceberg-CDC sources and
an Iceberg sink with checkpointLocation for exactly-once resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import (
    band_structs,
    lsh_bands,
    minhash_signatures,
    shingle,
    sig_agreement,
    tokenize,
)


def fingerprint_expr(text_col: str = "entity_text") -> F.Column:
    """Exact-dup fingerprint: md5 of the whitespace-normalized lowercase
    text (stable across engines)."""
    return F.md5(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "entity_text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-seen exact dedup on a stream: one surviving row per
    fingerprint within the watermark horizon.

    Uses dropDuplicatesWithinWatermark: plain dropDuplicates(["fingerprint"])
    keyed WITHOUT the event-time column never builds a watermark eviction
    predicate, so its state grows without bound on a long-running stream.
    The WithinWatermark variant evicts each fingerprint's state once the
    watermark passes its first-seen event time — bounded state, at the cost
    that a duplicate arriving after the horizon is re-emitted (the right
    trade for dedup at 10^12-turn scale; downstream exact dedup is
    idempotent on the fingerprint key)."""
    return (
        stream.withColumn("fingerprint", fingerprint_expr(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def build_band_index(
    corpus: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    shingle_n: int = 2,
    num_perm: int = 64,
    num_bands: int = 21,
    rows_per_band: int = 3,
) -> DataFrame:
    """Static side for incremental blocking: (band_idx, band_key, corpus_id,
    corpus_sig). Persist (Iceberg table at scale); rebuilt offline as the
    corpus grows."""
    sig = minhash_signatures(
        shingle(tokenize(corpus, text_col), shingle_n), id_col, num_perm=num_perm
    )
    bands = lsh_bands(sig, id_col, num_bands, rows_per_band)
    return bands.join(sig, id_col).select(
        "band_idx", "band_key",
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("corpus_sig"),
    )


def streaming_lsh_candidates(
    stream: DataFrame,
    band_index: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    shingle_n: int = 2,
    num_perm: int = 64,
    num_bands: int = 21,
    rows_per_band: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """Arriving entity → band keys → stream-static equi-join against the
    corpus band index → (stream_id, corpus_id, est_jaccard), deduped per
    micro-batch via groupBy max-agree (streaming-legal aggregation-free
    form: dropDuplicates on the pair key)."""
    sig = minhash_signatures(
        shingle(tokenize(stream, text_col), shingle_n), id_col, num_perm=num_perm
    )
    bands = sig.select(
        id_col, "sig", band_structs(num_bands, rows_per_band).alias("b")
    ).select(
        id_col, "sig",
        F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"),
    )
    joined = bands.join(band_index, ["band_idx", "band_key"]).where(
        F.col(id_col) != F.col("corpus_id")
    )
    out = joined.select(
        F.col(id_col).alias("stream_id"),
        F.col("corpus_id"),
        sig_agreement("sig", "corpus_sig").alias("est_jaccard"),
    ).dropDuplicates(["stream_id", "corpus_id"])
    if threshold is not None:
        out = out.where(F.col("est_jaccard") >= threshold)
    return out


def streaming_lsh_self_candidates(
    stream: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "entity_text",
    ts_col: str = "ts",
    horizon: str = "10 minutes",
    delay: str = "1 minute",
    shingle_n: int = 2,
    num_perm: int = 64,
    num_bands: int = 21,
    rows_per_band: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """STREAM-STREAM near-dup candidates: arriving entities match OTHER
    in-flight entities within an event-time horizon — the complement of
    streaming_lsh_candidates (stream vs static corpus index). Canonical
    use: burst dedup — the same conversation resubmitted minutes apart
    pairs up before either lands in the corpus.

    Streaming-legal shape: signature+banding is a stateless projection;
    pair generation is a WATERMARKED stream-stream self equi-join on
    (band_idx, band_key) with the time-range predicate
    a.ts − horizon ≤ b.ts ≤ a.ts + horizon. The range bound + watermark
    (delay) lets the state store evict band rows once they can no longer
    match — join state is bounded by horizon × arrival rate × num_bands,
    not by stream lifetime. Band-duplicate pairs collapse via
    dropDuplicatesWithinWatermark on the id pair (a second stateful
    operator — append-mode chaining, Spark ≥ 3.5); left_id < right_id
    emits each pair once. est_jaccard rides along (both sides carry their
    signatures through the band rows — heavier state, identical estimate
    to the batch path)."""
    sig = minhash_signatures(
        shingle(tokenize(stream, text_col), shingle_n),
        id_col,
        num_perm=num_perm,
        extra_cols=(ts_col,),
    )
    bands = (
        sig.select(
            id_col, ts_col, "sig", band_structs(num_bands, rows_per_band).alias("b")
        )
        .select(
            id_col, ts_col, "sig",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_key").alias("band_key"),
        )
        .withWatermark(ts_col, delay)
    )
    a, b = bands.alias("a"), bands.alias("b")
    lo = F.col(f"a.{ts_col}") - F.expr(f"INTERVAL {horizon}")
    hi = F.col(f"a.{ts_col}") + F.expr(f"INTERVAL {horizon}")
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col(f"b.{ts_col}") >= lo)
        & (F.col(f"b.{ts_col}") <= hi)
    )
    joined = a.join(b, cond)
    out = joined.select(
        F.col(f"a.{id_col}").alias("left_id"),
        F.col(f"b.{id_col}").alias("right_id"),
        F.col(f"a.{ts_col}").alias("left_ts"),
        sig_agreement(F.col("a.sig"), F.col("b.sig")).alias("est_jaccard"),
    ).dropDuplicatesWithinWatermark(["left_id", "right_id"])
    if threshold is not None:
        out = out.where(F.col("est_jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# Stateful sessionization: raw turn stream → serialized conversations
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = "conv_id string, entity_text string, n_turns int"
SESSION_STATE_SCHEMA = (
    "turn_idx array<int>, role array<string>, text array<string>, "
    "tool array<string>, max_ts_ms long"
)


def render_turns_pd(rows) -> str:
    """COL/VAL rendering identical to operators.serialize.render_turn_expr
    (matcher.py:52-58 semantics), applied to (turn_idx, role, text, tool)
    tuples sorted by turn_idx — keeps streaming output byte-identical to the
    batch serializer."""
    parts = []
    for _, role, text, tool in sorted(rows, key=lambda r: r[0]):
        s = f"COL role VAL {role} COL text VAL {text}"
        if tool is not None:
            s += f" COL tool VAL {tool}"
        parts.append(s)
    return " ".join(parts)


def streaming_sessionize_serialize(
    turns_stream,
    watermark: str = "10 minutes",
    gap_ms: int = 60_000,
):
    """Custom stateful operator (applyInPandasWithState): turns arrive
    incrementally keyed by conv_id; state buffers the turns; when the event-
    time watermark passes the conversation's last-seen ts + gap_ms, the
    conversation is complete → emit its serialized COL/VAL entity string and
    drop the state.

    This is the streaming form of operators.serialize (the reference has no
    streaming at all — transcripts as they are produced are the natural
    input shape at 10^12-turn scale). Downstream, emitted entities feed
    streaming_lsh_candidates against the corpus band index.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def assemble(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            turn_idx, role, text, tool, _ = state.get
            rows = list(zip(turn_idx, role, text, tool))
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "entity_text": [render_turns_pd(rows)],
                    "n_turns": [len(rows)],
                }
            )
            return
        ti, ro, te, to = [], [], [], []
        max_ts_ms = 0
        if state.exists:
            ti, ro, te, to, max_ts_ms = state.get
            ti, ro, te, to = list(ti), list(ro), list(te), list(to)
        for pdf in pdfs:
            ti.extend(int(x) for x in pdf["turn_idx"])
            ro.extend(pdf["role"])
            te.extend(pdf["text"])
            to.extend(None if pd.isna(x) else x for x in pdf["tool"])
            max_ts_ms = max(
                max_ts_ms, int(pdf["ts"].max().value // 1_000_000)
            )
        state.update((ti, ro, te, to, max_ts_ms))
        state.setTimeoutTimestamp(max_ts_ms + gap_ms)
        yield pd.DataFrame(
            {"conv_id": [], "entity_text": [], "n_turns": []}
        )

    return (
        turns_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            assemble,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_window_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingest statistics — the monitoring
    surface of the streaming dedup path: per (event-time window, role)
    turn counts, distinct-conversation estimate, and the duplicate-text
    rate (1 - distinct fingerprints / rows), so a corpus operator watches
    dup pressure per window as data lands.

    Late-data semantics are the standard Structured Streaming contract:
    rows older than the watermark are DROPPED, a window emits exactly once
    (append mode) when the watermark passes its end, and state is bounded
    to open windows. Distinct counts use approx_count_distinct (HLL++) —
    exact distinct is not streaming-legal and at 10^12-turn scale a
    per-window exact distinct would hold every key in state; the HLL
    sketch is mergeable map-side like any partial aggregate."""
    win = F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("fingerprint", fingerprint_expr(text_col))
        .groupBy(win.alias("win"), F.col(role_col))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct(conv_col).alias("n_convs"),
            F.approx_count_distinct("fingerprint").alias("n_unique"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col(role_col),
            "n_turns",
            "n_convs",
            # HLL++ can overestimate distinct count past the exact row
            # count (~2% standard error) — clamp so dup_rate never goes
            # negative on an all-unique window
            F.greatest(
                F.lit(0.0), F.lit(1.0) - F.col("n_unique") / F.col("n_turns")
            ).alias("dup_rate"),
        )
    )


def make_cluster_maintainer(assignment_path: str, id_col: str = "conv_id"):
    """foreachBatch sink for streamed linkage: each micro-batch of match
    edges (left_id, right_id) is folded into the persisted assignment
    table with `cluster.merge_edge_batch` — the iterative CC runs on the
    batch-bounded meta-graph only; the corpus-sized work per batch is one
    remap join + the assignment rewrite.

    Usage:
        matches.writeStream.foreachBatch(
            make_cluster_maintainer("/path/assignment")
        ).option("checkpointLocation", ckpt).start()

    The assignment parquet is the stream's state; because merge results
    are bit-identical to a full recompute over all edges seen (min-id
    composition), a replayed batch after a failure converges to the same
    table — the sink is idempotent, which is what foreachBatch's
    at-least-once contract needs. (Sandbox: parquet overwrite via a
    staging-then-swap write; on a cluster the same function targets an
    Iceberg table and gains atomic snapshot commits for free.)"""
    from ditto_spark.operators.cluster import merge_edge_batch

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        edges = batch_df.select("left_id", "right_id")
        if not edges.take(1):
            return
        import os as _os
        import shutil

        # Crash recovery BEFORE the existence probe: a driver death inside
        # the swap below can leave assignment_path missing while '._old'
        # still holds the previous state. Without this restore, the replayed
        # batch would re-seed from its own edges alone and the next swap
        # would delete '._old' — silent loss of every prior cluster.
        old = assignment_path.rstrip("/") + "._old"
        if not _os.path.exists(assignment_path) and _os.path.exists(old):
            _os.rename(old, assignment_path)

        # local-FS existence probe (a cluster deployment would ask the
        # Hadoop FileSystem / Iceberg catalog instead)
        has_state = _os.path.exists(assignment_path)
        if has_state:
            assign = spark.read.parquet(assignment_path)
            merged = merge_edge_batch(assign, edges, id_col=id_col)
        else:
            from ditto_spark.operators.cluster import assign_clusters

            nodes = edges.select(
                F.explode(F.array("left_id", "right_id")).alias(id_col)
            ).distinct()
            merged = assign_clusters(nodes, edges, id_col=id_col)
        # stage-then-swap: never read and overwrite the same files in one
        # job. Crash windows: after the first rename, assignment_path is
        # missing but '._old' survives (restored above on replay); after
        # the second, both exist until the cleanup — the replayed batch
        # merges idempotently against the NEW state and the stale '._old'
        # is simply removed here.
        tmp = assignment_path.rstrip("/") + f"._staging_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if _os.path.exists(assignment_path):
            _os.rename(assignment_path, old)
        _os.rename(tmp, assignment_path)
        shutil.rmtree(old, ignore_errors=True)

    return apply


def make_hot_key_monitor(
    counter_path: str,
    key_col: str,
    d: int = 4,
    w: int = 1024,
    threshold: int = 10000,
    hot_path: str | None = None,
):
    """foreachBatch sink maintaining count-min counters across micro-batches:
    the streaming form of `sketch.cms_counters`, detecting hot blocking /
    LSH / join keys while they emerge — the salting decision a streaming ER
    ingest must make BEFORE its pair-generating join, from state bounded at
    d*w counter rows however long the stream runs.

    Per batch: sketch the batch (one bounded groupBy), merge into the
    persisted counters (union+sum), probe the BATCH's distinct keys against
    the merged state, and write those with est >= threshold to
    `hot_path/batch=<id>/` as (key, est) — the worklist `sketch.salt_factors`
    turns into per-key salt counts for the static-side join.

    Exactly-once despite foreachBatch's at-least-once contract: CMS merge is
    additive (a replayed merge double-counts — unlike the idempotent min-id
    merge in `make_cluster_maintainer`), so the state carries the last
    applied batch id in a `_batch_id` marker INSIDE the parquet directory
    (underscore-prefixed: invisible to readers, and it travels atomically
    with the stage-then-swap rename). A replayed batch id <= the marker is
    skipped; the hot list is per-batch overwrite-partitioned, so its replay
    is idempotent too. Crash windows mirror the maintainer: '._old' restore
    on entry, hot write BEFORE the state swap.
    """
    from ditto_spark.operators.sketch import cms_counters, cms_estimate, cms_merge

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os as _os
        import shutil

        spark = batch_df.sparkSession
        old = counter_path.rstrip("/") + "._old"
        if not _os.path.exists(counter_path) and _os.path.exists(old):
            _os.rename(old, counter_path)

        marker = _os.path.join(counter_path, "_batch_id")
        state = None
        if _os.path.exists(counter_path):
            if _os.path.exists(marker):
                with open(marker) as fh:
                    if batch_id <= int(fh.read().strip()):
                        return  # replayed batch already folded in
            state = spark.read.parquet(counter_path)

        keys = batch_df.where(F.col(key_col).isNotNull()).select(key_col)
        if not keys.take(1):
            return
        batch_counters = cms_counters(keys, key_col, d=d, w=w)
        merged = (
            cms_merge(state, batch_counters) if state is not None else batch_counters
        )
        # materialize once: the hot probe and the state write both consume it
        merged = merged.localCheckpoint(eager=True)

        if hot_path is not None:
            hot = cms_estimate(
                merged, keys.distinct(), key_col, d=d, w=w
            ).where(F.col("est") >= threshold)
            hot.write.mode("overwrite").parquet(
                f"{hot_path.rstrip('/')}/batch={batch_id}"
            )

        tmp = counter_path.rstrip("/") + f"._staging_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        with open(_os.path.join(tmp, "_batch_id"), "w") as fh:
            fh.write(str(batch_id))
        shutil.rmtree(old, ignore_errors=True)
        if _os.path.exists(counter_path):
            _os.rename(counter_path, old)
        _os.rename(tmp, counter_path)
        shutil.rmtree(old, ignore_errors=True)

    return apply
