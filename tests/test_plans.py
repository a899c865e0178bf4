"""Physical-plan regression tests — the scale claims as assertions.

Each test pins a plan property that matters at 100 TB but is invisible to
row-level correctness tests: predicate pushdown and column pruning reaching
the parquet scan, zero-shuffle signature projection, the CC star path's
bounded exchange count, and the broadcast-only IVF assignment. A refactor
that silently reintroduces a shuffle or defeats pushdown fails here, not in
a production plan review."""

import os

import pyspark.sql.functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def _initial_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_pushdown_and_column_pruning(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    # ReadSchema must carry only the projected+filtered columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in rs and "lang" in rs
    assert "text" not in rs and "ts" not in rs, rs


def test_minhash_signature_projection_is_zero_shuffle(spark):
    from ditto_spark.operators.blocking import (
        tokenize, shingle, minhash_signatures,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("entity_text")
    )
    sigs = minhash_signatures(shingle(tokenize(docs), n=2))
    assert _initial_plan(sigs).count("Exchange") == 0


def test_cc_star_path_exchange_budget(spark):
    from ditto_spark.operators.cluster import connected_components

    edges = [
        (f"q{c}_{i}", f"q{c}_{j}")
        for c in range(4)
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    out = connected_components(df)
    assert connected_components.last_rounds == 0
    # star path: the output is read off the star check's one per-node
    # aggregate over the checkpointed stars — 1 exchange, no iterative
    # lineage
    assert _initial_plan(out).count("Exchange") <= 1
    # loop path: the converged stars are read out the same way
    path = [(f"p{i}", f"p{i + 1}") for i in range(8)]
    looped = connected_components(
        spark.createDataFrame(path, "left_id string, right_id string"),
        contract=False,
    )
    assert connected_components.last_rounds > 0
    assert _initial_plan(looped).count("Exchange") <= 1


def test_ivf_assignment_is_broadcast_only(spark):
    from ditto_spark.operators.ann import ivf_centroids, _ivf_assign, _vec_view

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    vec_col = [c for c in emb.columns if c != "vec_id"][0]
    vecs = _vec_view(emb, "vec_id", vec_col)
    cent = ivf_centroids(emb, n_centroids=4, vec_col=vec_col)
    assigned = _ivf_assign(vecs, cent)
    plan = _initial_plan(assigned)
    # vector side never shuffles: the only exchange under the join is the
    # broadcast of the one-row centroid array
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2, plan


def test_scorer_stage_single_explicit_repartition(spark, tiny_transcripts):
    from ditto_spark.operators.serialize import serialize_conversations
    from ditto_spark.operators.blocking import block_minhash_lsh
    from ditto_spark.operators.scoring import attach_pair_text, score_pairs

    ser = serialize_conversations(tiny_transcripts)
    cand = block_minhash_lsh(ser, text_col="block_text")
    wt = attach_pair_text(cand, ser).repartition(8)
    scored = score_pairs(wt)
    plan = _initial_plan(scored)
    # the plan prints root-first: the segment between the scorer node and
    # its explicit round-robin exchange must contain no OTHER exchange —
    # the Arrow scorer rides the repartition's layout directly
    assert "MapInPandas" in plan and "RoundRobinPartitioning" in plan, plan
    seg = plan.split("MapInPandas", 1)[1].split("RoundRobinPartitioning", 1)[0]
    # the round-robin exchange's own header is the final token before the
    # split point; no additional Exchange may appear in between
    assert seg.count("Exchange") == 1, plan


def test_fs_gamma_plan_single_join_no_python(spark):
    """FS comparison vectors: one block-key equi-join, no cartesian, no
    Python eval nodes — the gamma math stays in codegen."""
    import __spark_entry__ as E

    gam = E.q_fs_comparison_vectors(spark, SF_DIR)
    plan = _initial_plan(gam)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_fs_score_weights_are_literals(spark):
    """fs_score embeds Python-computed log2 weights as CASE literals: the
    plan must contain no runtime LOG over the weight path (only the TF
    adjustment's log2(tf) survives) and no params-table join beyond the
    single TF join."""
    import __spark_entry__ as E

    scored = E.q_fs_match_scores(spark, SF_DIR)
    plan = _initial_plan(scored)
    assert "EvalPython" not in plan
    assert plan.upper().count("LOG") <= 2, plan.upper().count("LOG")


def test_allpairs_prefix_index_excludes_suffix_tokens(spark):
    """AllPairs: the join-side index carries prefix rows only — the plan
    filters on the rank bound before the self-join, and there is no
    cartesian fallback."""
    from ditto_spark.operators.blocking import allpairs_jaccard_join

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pairs = allpairs_jaccard_join(docs, threshold=0.5, shingle_n=3)
    plan = _initial_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_merge_edge_batch_meta_graph_only_iterates_batch(spark):
    """Incremental CC: the corpus-sized assignment appears in exactly the
    two edge-mapping joins and the final remap — the iterative CC input
    is the batch-bounded meta edge set."""
    from ditto_spark.operators.cluster import assign_clusters, merge_edge_batch

    nodes = spark.range(1000).select(F.col("id").alias("conv_id"))
    assign = assign_clusters(
        nodes, spark.createDataFrame([(0, 1)], "left_id long, right_id long")
    ).cache()
    assign.count()
    batch = spark.createDataFrame([(5, 6), (6, 7)], "left_id long, right_id long")
    merged = merge_edge_batch(assign, batch)
    plan = _initial_plan(merged)
    assert "CartesianProduct" not in plan
    assign.unpersist()


def test_bucketed_stage_join_is_exchange_free(spark, tmp_path):
    """Two stages bucketed on the same key join with ZERO Exchange — the
    write-once-shuffle-never-again contract bucketing buys for
    repeatedly-joined stage tables. (Bucket-local sorts may remain when
    a bucket spans multiple files; the shuffle is the 100 TB cost.)"""
    from ditto_spark.checkpoint import write_bucketed

    left = spark.range(0, 5000).select(
        F.col("id").alias("conv_id"), (F.col("id") % 7).alias("x")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("conv_id"), (F.col("id") % 11).alias("y")
    )
    lt = write_bucketed(left, "bk_left", str(tmp_path / "bk_left"), "conv_id", 8)
    rt = write_bucketed(right, "bk_right", str(tmp_path / "bk_right"), "conv_id", 8)
    # tiny test tables would broadcast (which also skips the exchange, but
    # proves nothing about bucketing); force the shuffle-join path the way
    # a 100 TB join would take it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lt.join(rt, "conv_id")
        assert joined.count() == 5000
        plan = _initial_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_flagship_exchange_count_per_stage(spark):
    """The flagship's exchanges per stage and scorer, as pipeline.py's
    docstring lists them. Counts the executed-plan lines naming an
    Exchange, with AQE off so the plan is the static one; the serialized
    frame's one exchange is printed again under each cached read of it."""
    from ditto_spark.operators.serialize import serialize_conversations
    from ditto_spark.pipeline import (
        PipelineConfig,
        stage_candidates,
        stage_pair_text,
        stage_scored,
    )
    from ditto_spark.synth import generate_transcripts

    def exchanges(df):
        lines = [l for l in _initial_plan(df).splitlines() if "Exchange" in l]
        return (
            len(lines),
            sum("ReusedExchange" in l for l in lines),
            sum("RoundRobinPartitioning" in l for l in lines),
        )

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # a corpus of the tiny_transcripts size under a seed of its own, so no
    # signature cache that an earlier test left over the fixture (planned
    # with AQE on) stands in for this plan's signatures
    transcripts = generate_transcripts(spark, n_base=50, seed=5)
    serialized = serialize_conversations(transcripts).persist()
    try:
        assert exchanges(serialized) == (1, 0, 0)
        for arrow, scored_counts in ((True, (10, 2, 1)), (False, (9, 2, 0))):
            cfg = PipelineConfig(use_arrow_udf_scorer=arrow)
            candidates = stage_candidates(serialized, cfg)
            assert exchanges(candidates) == (6, 1, 0)
            with_text = stage_pair_text(candidates, serialized, cfg)
            assert exchanges(with_text) == scored_counts
            assert exchanges(stage_scored(with_text, cfg)) == scored_counts
    finally:
        serialized.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _flagship_pair_side(spark):
    """The flagship's Arrow-scored plan over a fixture-sized corpus, with
    AQE off: (the plan's text, the (nodeName, build side) of each hash or
    sort-merge join on the pair side, and the output partitioning of each
    exchange there). The pair side is walked from the scorer down through
    each hash join's streamed child and the first child of any other
    node."""
    from ditto_spark.operators.serialize import serialize_conversations
    from ditto_spark.pipeline import (
        PipelineConfig,
        stage_candidates,
        stage_pair_text,
        stage_scored,
    )
    from ditto_spark.synth import generate_transcripts

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    serialized = serialize_conversations(
        generate_transcripts(spark, n_base=50, seed=5)
    ).persist()
    try:
        cfg = PipelineConfig()
        scored = stage_scored(
            stage_pair_text(stage_candidates(serialized, cfg), serialized, cfg),
            cfg,
        )
        plan = scored._jdf.queryExecution().executedPlan()
        joins, exchanges = [], []
        node = plan
        while node.children().size() > 0:
            name = node.nodeName()
            streamed = 0
            if "HashJoin" in name:
                side = node.buildSide().toString()
                joins.append((name, side))
                streamed = 1 if side == "BuildLeft" else 0
            elif "Join" in name:
                joins.append((name, None))
            elif name == "Exchange":
                exchanges.append(node.outputPartitioning().toString())
            node = node.children().apply(streamed)
        return plan.toString(), joins, exchanges
    finally:
        serialized.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_entity_lookups_broadcast_at_fixture_size(spark):
    """The two signature lookups and the two pair-text lookups broadcast
    their sub-MB entity side, so the pair table is not shuffled between the
    candidates' distinct and the scorer's round-robin."""
    _, joins, exchanges = _flagship_pair_side(spark)
    assert joins == [("BroadcastHashJoin", "BuildRight")] * 4, joins
    assert exchanges[0].startswith("RoundRobinPartitioning"), exchanges
    assert exchanges[1].startswith("hashpartitioning(left_id#"), exchanges
    assert ", right_id#" in exchanges[1], exchanges


def test_entity_lookups_build_on_entity_side_without_broadcast(spark):
    """With broadcasting off, every lookup is a shuffled hash join that
    builds on the entity side: the pair table is never sorted."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan, joins, _ = _flagship_pair_side(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert joins == [("ShuffledHashJoin", "BuildRight")] * 4, joins
    assert "SortMergeJoin" not in plan, plan
