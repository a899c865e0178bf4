"""Transitive clustering — large-star/small-star connected components.

Absent from the reference (its pipeline stops at pairwise decisions,
/root/reference/matcher.py:156-160); required by BASELINE.json north_rule.
Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14) — alternate large-star and small-star rounds until the edge set is
stable; converges in O(log² n) rounds (O(log n) in practice).

Implementation invariant: edges are kept oriented big→small (u > v).
* The symmetric view needed by large-star is a plain union with the swapped
  orientation — duplicate-free by construction, so NO distinct there.
* Large-star emits (w, m) with w > m — which is exactly small-star's input
  orientation, so the two stars chain with no re-symmetrize between them.
Per round: 3 shuffles — the two per-star min-windows plus ONE end-of-round
dedup (large-star's output feeds small-star un-deduplicated: duplicate
edges are harmless to a min/row_number window, and small-star's dedup
bounds growth across rounds) — then a lazy localCheckpoint to cut lineage
(a persisted round table on a real cluster — the resume point) and one tiny
(count, xor-hash) job every CHECK_EVERY rounds for the convergence test.
All driver work is O(1) per round. Loop shuffles are scoped to an
edge-sized partition count (`_loop_partitions`) via explicit
repartition(loop_parts, keys) on the loop tables — never by mutating the
session-global spark.sql.shuffle.partitions (a concurrent job on the same
session must not see the loop's partition count).

  large-star(x): m = min(Γ(x) ∪ x); emit (w, m) for w ∈ Γ(x), w > x
  small-star(x): N = {w ∈ Γ(x): w < x}; m = min(N); emit
                 (w, m) for w ∈ N ∪ {x}, w ≠ m

Cluster-assignment contract: every clusterer here returns rows only for
nodes that touch an edge; `cover_singletons` is the one place that gives
every other id its own cluster (cluster_id = the id itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

# Edges per loop partition of the CC and pivot loops (`_loop_partitions`).
ROWS_PER_PARTITION = 200_000
# Star rounds per convergence check (why 2: see connected_components).
CHECK_EVERY = 2


def _loop_partitions(spark, n_edges: int) -> int:
    """Edge-sized shuffle partition count for an iterative loop:
    max(4, n_edges / ROWS_PER_PARTITION + 1), capped at the session's
    shuffle.partitions (which is sized for the corpus; edges ≪ corpus).
    On a 1000-executor cluster this keeps thousands of near-empty
    reducers out of every round."""
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        session_parts = 200
    return max(4, min(session_parts, n_edges // ROWS_PER_PARTITION + 1))


def _signature(edges: DataFrame) -> tuple:
    """(edge count, xor of per-edge hashes) — one tiny job. Equal
    signatures across a round pair mean the edge set is a fixed point."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _star_nodes(edges: DataFrame) -> DataFrame:
    """Per node of an oriented (u > v) edge set: min_p / max_p = its least
    and greatest parent (the v of its u-side edges; NULL for a node with
    none) and is_parent = it is some edge's v. min_p < max_p iff the node
    has two distinct parents — min/max rather than a count of distinct
    parents, which would plan a second exchange."""
    vtype = edges.schema["v"].dataType.simpleString()
    sides = edges.select(
        F.col("u").alias("n"), F.col("v").alias("p")
    ).unionByName(
        edges.select(F.col("v").alias("n"), F.lit(None).cast(vtype).alias("p"))
    )
    return sides.groupBy("n").agg(
        F.min("p").alias("min_p"),
        F.max("p").alias("max_p"),
        F.bool_or(F.col("p").isNull()).alias("is_parent"),
    )


def _star_clusters(nodes: DataFrame) -> DataFrame:
    """`_star_nodes` rows → (conv_id, cluster_id): a node's least parent,
    or the node itself when it has none. Every parent is below its child
    (u > v), so this is also the min over the node and its parents — the
    component minimum once the edges are a min-rooted star forest."""
    return nodes.select(
        F.col("n").alias("conv_id"),
        F.coalesce("min_p", "n").alias("cluster_id"),
    )


def cover_singletons(
    ids: DataFrame, clusters: DataFrame, id_col: str, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Every row of `ids` gets a cluster: left-join `clusters` (id_col,
    cluster_col) on id_col; ids with no cluster row map to themselves."""
    return ids.join(clusters, id_col, "left").withColumn(
        cluster_col, F.coalesce(cluster_col, id_col)
    )


def _contract_partitions(edges: DataFrame) -> DataFrame:
    """Phase-0 local contraction (the 'filtering' step of two-phase CC,
    Kiveris et al. §6): each partition runs union-find over ITS edges only
    and re-emits them as spanning stars (node → partition-local component
    min). Connectivity-equivalent by construction, embarrassingly parallel,
    and ZERO-shuffle — it runs on whatever layout the edge table already
    has. Dense components (duplicate clusters are cliques across ~b bands)
    collapse to one edge per node before the star loop ever shuffles, so
    the loop starts from a far smaller, shallower graph. Per-partition
    memory is O(nodes in partition) — bounded by the partition size the
    caller already controls.

    Output keeps the (u, v) u > v orientation: the union root is the
    component min (UTF-8 binary order == Python str order for the loop's
    F.least/greatest to agree), and emitted edges are (node, root),
    node != root, unique by construction."""
    import pandas as pd

    schema = edges.schema

    def contract(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        out_u = []
        out_v = []
        for x in parent:
            r = find(x)
            if r != x:
                out_u.append(x)
                out_v.append(r)
        yield pd.DataFrame({"u": out_u, "v": out_v})

    return edges.mapInPandas(contract, schema=schema)


def _large_star(edges: DataFrame, parts: int) -> DataFrame:
    """edges oriented (u, v), u > v. Returns (u, v) with u > v, possibly
    with duplicates (no dedup here — small-star's end-of-round dedup covers
    it; duplicate edges are harmless to the min/row_number windows, so
    skipping the dedup saves one full shuffle per round).

    m = min(Γ(u) ∪ u) via an unordered per-u window — ONE shuffle instead
    of the groupBy+rejoin formulation's two. The explicit
    repartition(parts, "u") both scopes the loop's partition count (no
    session-global conf writes) and satisfies the window's clustering
    requirement, so the window adds no second exchange."""
    from pyspark.sql import Window

    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition(parts, "u")
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame, parts: int) -> DataFrame:
    """edges oriented (u, v) with v < u (large-star output, duplicates
    allowed). Returns the same orientation, deduplicated — this is the
    round's single growth-bounding dedup. Same one-window-shuffle shape as
    _large_star; the self-edge (u, m) is emitted by tagging each group's
    first row rather than re-aggregating. The dedup's clustering is
    pre-satisfied by repartition(parts, "u", "v") so it too runs at the
    loop's partition count without touching session conf."""
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    wo = Window.partitionBy("u").orderBy("v")
    withm = (
        edges.repartition(parts, "u")
        .withColumn("m", F.min("v").over(w))
        .withColumn("rn", F.row_number().over(wo))
    )
    emit_n = withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    emit_self = withm.where(F.col("rn") == 1).select("u", F.col("m").alias("v"))
    return (
        emit_n.unionByName(emit_self)
        .where(F.col("u") != F.col("v"))
        .repartition(parts, "u", "v")
        .dropDuplicates(["u", "v"])
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
    assume_unique: bool = False,
    contract: bool = True,
) -> DataFrame:
    """(left_id, right_id) match edges → (conv_id, cluster_id) with
    cluster_id = min node id of the component. Nodes appearing only as
    singletons must be unioned in by the caller (`cover_singletons`).

    Serial-fraction controls (the loop is the pipeline's only
    driver-synchronized iteration, so its fixed costs cap scaling
    efficiency):
    * convergence is tested every CHECK_EVERY = 2 rounds — the lazy
      localCheckpoints of the rounds in between fold into one job, halving
      driver barriers (two stable consecutive signatures are required
      anyway since one round can be a fixed point of only one star);
    * the loop's shuffles run at the edge-sized `_loop_partitions` count,
      applied via explicit repartition on the loop tables — the
      session-global shuffle.partitions is never mutated, so concurrent
      jobs on the same SparkSession are unaffected;
    * each star is one min-WINDOW shuffle; a hub node's whole neighborhood
      lands in one task, which suits dedup graphs (millions of small
      cliques, most collapsed by the contraction below before the loop).
    * two-pass local contraction (by v, then by u) + a star-forest check
      SKIP the loop outright when contraction already converged — exact
      for clique-shaped components (the dedup production shape), so the
      flagship's CC stage usually runs zero driver-synchronized rounds.

    * contract=False skips the contraction passes — the loop runs from
      the raw oriented edges (regression lever for loop-path testing;
      also for graphs whose layout makes local contraction useless,
      where the two passes are two wasted shuffles). The star-forest
      check still applies (it is correct on any edge set).

    After a call, `connected_components.last_rounds` holds the number of
    star rounds the loop actually executed (0 = star short-circuit). It
    is reset to None at call entry so a failed call (non-convergence
    raise) never leaves a previous call's count behind; it is a
    diagnostics convenience on the function object, not synchronized —
    under concurrent calls on one session read it immediately after the
    call you mean."""
    connected_components.last_rounds = None
    e = pairs.select(
        F.col("left_id").alias("a"), F.col("right_id").alias("b")
    ).where(F.col("a") != F.col("b"))
    oriented = e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    if not assume_unique:
        # candidate pipelines emit unique (left < right) pairs already —
        # pass assume_unique=True there to skip this full-edge-set shuffle
        oriented = oriented.distinct()
    # phase-0 local contraction: shrink the loop's input (also subsumes
    # intra-partition duplicate edges). Two passes with ALTERNATING layout:
    # pass 1 co-locates each LOWER endpoint's edges (v), pass 2 each
    # HIGHER endpoint's (u). For clique-shaped components — the dedup
    # production shape — the pair is EXACT regardless of hash co-location:
    # after the v-pass every emitted edge points at a smaller neighbor,
    # and in the u-pass every node's full edge list (which, in a clique,
    # contains the direct edge to the component min) lands in one
    # partition, so union-find roots every member at the min. The loop
    # below then starts from a star forest and is skipped outright by the
    # star check — zero driver-synchronized rounds. Non-clique residues
    # (paths, sparse bridges) still enter the loop, just smaller. Each
    # pass is one column-repartition (AQE coalesces the count) + a linear
    # zero-shuffle scan.
    if contract:
        edges = _contract_partitions(
            _contract_partitions(oriented.repartition("v")).repartition("u")
        ).localCheckpoint(eager=True)
    else:
        edges = oriented.localCheckpoint(eager=True)
    # star-forest short-circuit: the edge set is already node→root stars
    # iff (a) no node appears on BOTH sides and (b) no node carries two
    # DISTINCT parents — (b) is reachable even after the u-pass because a
    # node pulled into two different partitions' local components as a
    # v-side member is emitted once per partition, possibly under two
    # roots. Under (a)+(b), orientation (u > v) makes each root the min of
    # its star and connectivity preservation makes each star exactly one
    # input component, so each node's cluster is its one parent, or itself
    # for a root. Check and assignment are ONE node-keyed aggregate (ids
    # only, map-side partial): an isEmpty probe over its violating rows,
    # and, on star input, the output read straight off it. On star input
    # this saves the loop's 2 fixed-point rounds (6 shuffles, 2 collects).
    nodes = _star_nodes(edges)
    violations = nodes.where(
        (F.col("min_p") < F.col("max_p"))
        | (F.col("min_p").isNotNull() & F.col("is_parent"))
    )
    if violations.isEmpty():
        connected_components.last_rounds = 0
        return _star_clusters(nodes)
    # Seed the convergence test with the INPUT's signature: post-contraction
    # the graph is often already a union of min-rooted stars (a fixed point
    # of both stars), and with a seeded prev_sig the first check at round
    # CHECK_EVERY can conclude — saving a full extra round pair. Identical
    # signatures across one round pair still mean "fixed point of both
    # stars", same guarantee as before.
    prev_sig = _signature(edges)
    # prev_sig[0] > 0: empty edge sets exit via the star path
    loop_parts = _loop_partitions(pairs.sparkSession, prev_sig[0])
    converged = False
    for rnd in range(max_iter):
        # lazy checkpoint: the signature collect below materializes it
        # (with the intermediate rounds), so convergence costs ONE
        # driver-synchronized job per CHECK_EVERY rounds
        edges = _small_star(
            _large_star(edges, loop_parts), loop_parts
        ).localCheckpoint(eager=False)
        if (rnd + 1) % CHECK_EVERY != 0 and rnd + 1 < max_iter:
            continue
        sig = _signature(edges)
        if sig == prev_sig:
            converged = True
            connected_components.last_rounds = rnd + 1
            break
        prev_sig = sig
    if not converged:
        # At a non-fixed-point a node can still carry different cluster ids
        # on its u- and v-sides — fail loudly instead of emitting an
        # arbitrary (nondeterministic) assignment.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (large-star/small-star needs O(log n) rounds)"
        )
    # stable state: stars rooted at the component minimum
    return _star_clusters(_star_nodes(edges))


def assign_clusters(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "conv_id",
    assume_unique: bool = False,
) -> DataFrame:
    """Full assignment (id_col, cluster_id): matched components +
    singletons as their own cluster, one row per distinct id."""
    comp = connected_components(pairs, assume_unique=assume_unique)
    return cover_singletons(
        all_ids.select(id_col).distinct(),
        comp.withColumnRenamed("conv_id", id_col),
        id_col,
    )


def cluster_representatives(
    assignments: DataFrame,
    records: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    mode_cols: tuple[str, ...] = (),
    longest_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Golden-record consolidation (survivorship) — the ER step after
    clustering: one canonical row per cluster. Rules (all deterministic):
      rep_id        min member id
      n_members     cluster size
      mode_cols     most frequent non-null value, ties → smallest value
      longest_cols  longest value, ties → smallest member id
    The reference pipeline stops at match decisions; consolidation is the
    standard downstream step (Christen 2012 ch. 2 "data fusion"), added as
    a first-class operator.

    Scale shape: one narrow join (assignment onto records), then one
    groupBy per rule column — each is a (cluster, value)-keyed partial
    aggregate followed by a per-cluster top-1 window over the DISTINCT
    value counts (tiny), never over raw members. The final assembly joins
    |clusters|-sized tables on the cluster id. No collect, no skew risk
    beyond the cluster-size distribution itself (bounded upstream by the
    dedup threshold)."""
    j = records.join(
        assignments.select(F.col(id_col), F.col(cluster_col)), id_col
    )
    from pyspark.sql import Window

    out = j.groupBy(cluster_col).agg(
        F.min(id_col).alias("rep_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    for c in mode_cols:
        counts = (
            j.where(F.col(c).isNotNull())
            .groupBy(cluster_col, c)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy(cluster_col).orderBy(
            F.col("cnt").desc(), F.col(c).asc()
        )
        top = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(cluster_col, c)
        )
        out = out.join(top, cluster_col, "left")
    for c in longest_cols:
        w = Window.partitionBy(cluster_col).orderBy(
            F.length(F.col(c)).desc(), F.col(id_col).asc()
        )
        top = (
            j.select(cluster_col, id_col, c)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(cluster_col, F.col(c).alias(f"canonical_{c}"))
        )
        out = out.join(top, cluster_col, "left")
    return out


def merge_edge_batch(
    assignments: DataFrame,
    new_edges: DataFrame,
    id_col: str = "conv_id",
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of new
    match edges into an existing (conv_id, cluster_id) assignment WITHOUT
    re-running CC over the corpus — the streaming-ER primitive (wire it
    into `foreachBatch`: score the micro-batch, threshold, then merge the
    surviving edges into the persisted assignment table).

    How: new edges are mapped into CLUSTER space (two joins against the
    assignment; endpoints never seen before seed their own id), and CC
    runs on the contracted meta-graph only — its size is bounded by the
    batch's edge count, not the corpus, so the iterative part stays tiny
    no matter how large the accumulated assignment is. The corpus-sized
    work is exactly one remap join on cluster_id at the end. Because
    cluster ids are min-ids and the meta-CC takes mins of mins, the
    result is IDENTICAL to re-running full CC over all edges seen so far
    (tested against the from-scratch run), so checkpoints stay
    deterministic across batch boundaries.

    Nodes that appear only in `new_edges` are appended to the assignment.
    """
    a = assignments.select(
        F.col(id_col).alias("__n"), F.col("cluster_id").alias("__c")
    )
    e = (
        new_edges.select(
            F.col("left_id").alias("__l"), F.col("right_id").alias("__r")
        )
        .join(a.withColumnRenamed("__n", "__l").withColumnRenamed("__c", "__cl"),
              "__l", "left")
        .join(a.withColumnRenamed("__n", "__r").withColumnRenamed("__c", "__cr"),
              "__r", "left")
        .select(
            F.coalesce("__cl", "__l").alias("left_id"),
            F.coalesce("__cr", "__r").alias("right_id"),
        )
        .where(F.col("left_id") != F.col("right_id"))
        .distinct()
    )
    meta = connected_components(e, assume_unique=True)

    merged = (
        assignments.join(
            meta.select(
                F.col("conv_id").alias("cluster_id"),
                F.col("cluster_id").alias("__new"),
            ),
            "cluster_id",
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce("__new", "cluster_id").alias("cluster_id"),
        )
    )
    fresh = (
        new_edges.select(F.explode(F.array("left_id", "right_id")).alias(id_col))
        .distinct()
        .join(assignments.select(id_col), id_col, "left_anti")
    )
    fresh_assigned = cover_singletons(
        fresh,
        meta.select(F.col("conv_id").alias(id_col), F.col("cluster_id")),
        id_col,
    )
    return merged.unionByName(fresh_assigned)


def incremental_link(
    new_ids: DataFrame,
    anchor_edges: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Anchor-constrained incremental linkage — the MDM-style counterpart
    to merge_edge_batch: existing clusters are IMMUTABLE labels (anchors),
    and a batch of new records is resolved against them plus each other.
    merge_edge_batch merges existing clusters when a batch edge bridges
    them; here a bridge never rewrites the master table — the new
    component deterministically takes the SMALLEST anchor it touches
    (review surfaces the bridge via cluster_graph_metrics instead). This
    is the standard nightly-batch operation against a master entity table
    (Christen 2012 ch. 9, "real-time and incremental matching").

    Inputs: `new_ids` (id_col) — every record in the batch;
    `anchor_edges` (id_col, anchor_col) — batch records matched into an
    existing cluster; `new_edges` (left_id, right_id) — matched
    batch-internal pairs. Caller contract: batch ids and anchor ids live
    in disjoint domains (monotonic ids make this free).

    Output: (id_col, cluster_id, matched_existing) for NEW records only —
    cluster_id is the min anchor reachable through the batch's match
    graph, else the min batch id of the component (a new cluster in the
    batch-id domain); matched_existing says which.

    How: both node kinds are encoded into one ordered string key space —
    'a:'+zero-padded anchor sorts below 'n:'+zero-padded batch id — so
    ONE connected-components run produces exactly the min-anchor-else-
    min-new resolution; no per-component argmin pass, no driver work.
    Scale: CC input is edge-sized (matched pairs only, never the master
    table), and the master table itself is touched zero times here — the
    caller's blocking join is the only corpus-sized stage.
    """
    pad = 20

    def enc(prefix: str, c: F.Column) -> F.Column:
        return F.concat(F.lit(prefix), F.lpad(c.cast("string"), pad, "0"))

    e_anchor = anchor_edges.select(
        enc("n:", F.col(id_col)).alias("left_id"),
        enc("a:", F.col(anchor_col)).alias("right_id"),
    )
    e_new = new_edges.select(
        enc("n:", F.col("left_id")).alias("left_id"),
        enc("n:", F.col("right_id")).alias("right_id"),
    )
    nodes = new_ids.select(enc("n:", F.col(id_col)).alias("conv_id")).distinct()
    comp = assign_clusters(nodes, e_anchor.unionByName(e_new), id_col="conv_id")
    return comp.where(F.col("conv_id").startswith("n:")).select(
        F.substring("conv_id", 3, pad).cast("long").alias(id_col),
        F.substring("cluster_id", 3, pad).cast("long").alias("cluster_id"),
        F.col("cluster_id").startswith("a:").alias("matched_existing"),
    )


def split_clusters(
    assignments: DataFrame,
    scored_pairs: DataFrame,
    tau_hi: float,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Cluster splitting by threshold raise — the repair step for chained
    false merges that transitive closure creates (Splink's cluster-studio
    workflow): keep only edges with score >= tau_hi and re-resolve. The
    tau_hi edge set is a subset of the one that built `assignments`, so
    every refined component nests inside its original cluster — ONE global
    CC over the filtered edges suffices; no per-cluster loop.

    Output: (id_col, cluster_col, subcluster_id, n_subclusters) — one row
    per record; n_subclusters > 1 flags the clusters the raise split.

    Shape: edge filter → CC (edge-sized) → one id-keyed join back onto
    the assignment → one cluster-keyed distinct-count agg; the only
    corpus-sized stages are the join and the agg, both on keys the
    assignment is already organized by."""
    hi = scored_pairs.where(F.col(score_col) >= tau_hi).select(
        "left_id", "right_id"
    )
    comp = connected_components(hi).select(
        F.col("conv_id").alias(id_col), F.col("cluster_id").alias("subcluster_id")
    )
    out = cover_singletons(
        assignments.select(F.col(id_col), F.col(cluster_col)),
        comp,
        id_col,
        "subcluster_id",
    )
    nsub = out.groupBy(cluster_col).agg(
        F.countDistinct("subcluster_id").cast("long").alias("n_subclusters")
    )
    return out.join(nsub, cluster_col).select(
        id_col, cluster_col, "subcluster_id", "n_subclusters"
    )


def cluster_graph_metrics(
    assignments: DataFrame,
    edges: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
    score_col: str | None = None,
    min_nodes: int = 2,
) -> DataFrame:
    """Per-cluster graph-quality metrics (Splink's cluster-metrics
    counterpart): transitive closure links records that were never directly
    compared, so a low-density cluster — few within-cluster match edges
    relative to n(n-1)/2 — is the standard signal for a chained false merge,
    and its weakest edge (min score) is the bridge a reviewer should cut.

    Inputs: `assignments` (id_col, cluster_col) from assign_clusters;
    `edges` (left_id, right_id[, score_col]) — the thresholded match pairs
    the clustering consumed. Output per cluster with >= min_nodes members:
    cluster_id, n_nodes, n_edges, density (2E/(n(n-1)), 4 dp), and when
    score_col is given min_score / max_score (4 dp; order-free aggregates —
    an avg would be addition-order-nondeterministic across engines).

    Shape: two node-keyed hash joins attach cluster ids to edge endpoints,
    then one per-cluster partial aggregation each side; nothing holds a
    cluster's member list in a row, so a 10^8-member degenerate cluster is
    just a big group, not an OOM. Edges whose endpoints landed in different
    clusters (possible when `edges` is a superset of the thresholded match
    set) are dropped rather than miscounted.
    """
    a = assignments.select(
        F.col(id_col).alias("__n"), F.col(cluster_col).alias("__c")
    )
    score_aggs = []
    if score_col is not None:
        score_aggs = [
            F.round(F.min(score_col), 4).alias("min_score"),
            F.round(F.max(score_col), 4).alias("max_score"),
        ]
    sizes = (
        assignments.groupBy(F.col(cluster_col).alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .where(F.col("n_nodes") >= min_nodes)
    )
    e = (
        edges.join(a.withColumnRenamed("__n", "left_id"), "left_id")
        .withColumnRenamed("__c", "__cl")
        .join(a.withColumnRenamed("__n", "right_id"), "right_id")
        .withColumnRenamed("__c", "__cr")
        .where(F.col("__cl") == F.col("__cr"))
    )
    edge_stats = e.groupBy(F.col("__cl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_edges"), *score_aggs
    )
    out = sizes.join(edge_stats, "cluster_id", "left").withColumn(
        "n_edges", F.coalesce("n_edges", F.lit(0))
    )
    density = F.round(
        F.lit(2.0) * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
        4,
    )
    cols = ["cluster_id", "n_nodes", "n_edges", density.alias("density")]
    if score_col is not None:
        cols += ["min_score", "max_score"]
    return out.select(*cols)


def stabilize_cluster_ids(
    new_assign: DataFrame,
    prev_assign: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
    out_col: str = "stable_id",
    rounds: int = 3,
) -> DataFrame:
    """Entity-id persistence across FULL re-resolutions — the counterpart
    to `incremental_link` (which handles batch-vs-master): when the whole
    pipeline reruns (new threshold, new scorer, new corpus snapshot), the
    connected-components labels are arbitrary per run, but downstream
    consumers key on entity ids. Carry a previous run's id to the new
    cluster that is its MUTUAL best overlap (standard MDM re-resolution
    discipline — Christen 2012 ch. 9's persistent-id requirement).

    A new cluster takes prev id p iff p is its largest-overlap previous
    cluster AND it is p's largest-overlap new cluster (ties broken by
    ascending id, so the match is deterministic); mutual-best guarantees a
    prev id is never duplicated. `rounds` repeated mutual-best passes over
    the not-yet-matched remainder (greedy-matching approximation) let a
    displaced id re-match its next-best successor — e.g. prev {p1 big,
    p9 small} vs new {n1, n2} where n2's first choice p1 pairs with n1:
    round 2 carries p9 → n2 instead of retiring it. Splits: the bigger
    half keeps the id, the rest get fresh ids (carried=false). Merges:
    the bigger-overlap prev id wins, the smaller is retired. Output:
    new_assign's (id, cluster) plus `stable_id` (prev id when carried,
    else the new run's own cluster id) and `carried`.

    Scale shape: overlap counting is ONE (new, prev)-keyed partial agg
    over the id-join of the two assignments (each side already
    hash-organized by record id at 10^12 scale); each round is two argmax
    windows partitioned by cluster id over the shrinking OVERLAP table
    (rows bounded by how many prev clusters a new cluster touches, not by
    records) — `rounds` is a static plan depth, not a driver-synchronized
    loop; the final mapping (≤ one row per cluster) broadcasts back onto
    the assignment. No collect.
    """
    from pyspark.sql import Window

    nw = new_assign.select(
        F.col(id_col), F.col(cluster_col).alias("__new_cid")
    )
    pv = prev_assign.select(
        F.col(id_col), F.col(cluster_col).alias("__prev_cid")
    )
    overlaps = (
        nw.join(pv, id_col)
        .groupBy("__new_cid", "__prev_cid")
        .agg(F.count(F.lit(1)).alias("__overlap"))
    )
    by_new = Window.partitionBy("__new_cid").orderBy(
        F.desc("__overlap"), F.asc("__prev_cid")
    )
    by_prev = Window.partitionBy("__prev_cid").orderBy(
        F.desc("__overlap"), F.asc("__new_cid")
    )
    def mutual_best(ov: DataFrame) -> DataFrame:
        return (
            ov.withColumn("__rn", F.row_number().over(by_new))
            .withColumn("__rp", F.row_number().over(by_prev))
            .where((F.col("__rn") == 1) & (F.col("__rp") == 1))
            .select("__new_cid", "__prev_cid")
        )

    remaining = overlaps
    mapping = None
    for _ in range(rounds):
        m = mutual_best(remaining)
        mapping = m if mapping is None else mapping.unionByName(m)
        remaining = remaining.join(
            m.select("__new_cid"), "__new_cid", "left_anti"
        ).join(m.select("__prev_cid"), "__prev_cid", "left_anti")
    return (
        new_assign.withColumnRenamed(cluster_col, "__new_cid")
        .join(mapping, "__new_cid", "left")
        .select(
            F.col(id_col),
            F.col("__new_cid").alias(cluster_col),
            F.coalesce("__prev_cid", "__new_cid").alias(out_col),
            F.col("__prev_cid").isNotNull().alias("carried"),
        )
    )


def _tarjan_cuts(nodes, adj):
    """Iterative Tarjan cut analysis on a simple undirected graph: one DFS
    yields BOTH the bridges (edges whose removal disconnects their
    component, as (min, max) tuples) and the articulation points (nodes
    whose removal does). Explicit stack — cluster diameter never hits the
    Python recursion limit."""
    disc: dict = {}
    low: dict = {}
    timer = 0
    bridges = []
    arts = set()
    for root in nodes:
        if root in disc:
            continue
        disc[root] = low[root] = timer
        timer += 1
        root_children = 0
        stack = [(root, None, iter(adj[root]))]
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue  # simple graph: the one tree edge back
                if w in disc:
                    low[v] = min(low[v], disc[w])
                else:
                    disc[w] = low[w] = timer
                    timer += 1
                    stack.append((w, v, iter(adj[w])))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
                if parent is not None:
                    low[parent] = min(low[parent], low[v])
                    if low[v] > disc[parent]:
                        bridges.append((min(parent, v), max(parent, v)))
                    if parent == root:
                        root_children += 1
                    elif low[v] >= disc[parent]:
                        arts.add(parent)
        if root_children >= 2:
            arts.add(root)
    return set(bridges), arts


def cluster_bridge_edges(
    edges: DataFrame,
    assignment: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """Flag BRIDGE edges inside each entity cluster — edges whose removal
    splits the cluster (Tarjan 1974). The sharpest chained-false-merge
    review signal after transitive closure: a giant cluster held together
    by one low-score bridge is almost always two entities, and the bridge
    IS the pair to send to clerical review (complements
    cluster_graph_metrics' density/weakest-edge aggregates by naming the
    exact culprit edge). Output: every intra-cluster edge with an
    is_bridge flag plus per-endpoint articulation-point flags (nodes
    whose removal splits the cluster — same single Tarjan DFS).

    Distributed shape: edges join their cluster id (one node-keyed join;
    cross-cluster edges dropped, same contract as cluster_graph_metrics),
    then ONE applyInPandas group per cluster runs linear-time Tarjan —
    per-group cost O(V+E) of THAT cluster only, so the stage is bounded by
    the largest cluster, not the corpus. Clusters larger than
    max_cluster_size (post-CC pathologies that should have been split
    upstream) are NOT silently analyzed: their edges return is_bridge NULL
    + skipped=true so the caller sees the gap. Bridge order inside the
    group is deterministic (sorted edge input, sorted adjacency)."""
    import pandas as pd

    le = assignment.select(
        F.col(id_col).alias("left_id"), F.col(cluster_col).alias("__ca")
    )
    re_ = assignment.select(
        F.col(id_col).alias("right_id"), F.col(cluster_col).alias("__cb")
    )
    e = (
        edges.select("left_id", "right_id")
        .join(le, "left_id")
        .join(re_, "right_id")
        .where(F.col("__ca") == F.col("__cb"))
        .select("left_id", "right_id", F.col("__ca").alias(cluster_col))
    )
    id_t = dict(edges.dtypes)["left_id"]
    cl_t = dict(assignment.dtypes)[cluster_col]
    schema = (
        f"{cluster_col} {cl_t}, left_id {id_t}, right_id {id_t}, "
        "is_bridge boolean, left_is_articulation boolean, "
        "right_is_articulation boolean, skipped boolean"
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["left_id", "right_id"]).reset_index(drop=True)
        cl = pdf[cluster_col].iloc[0]
        nodes = sorted(set(pdf["left_id"]) | set(pdf["right_id"]))
        if len(nodes) > max_cluster_size:
            na = pd.array([None] * len(pdf), dtype="boolean")
            return pd.DataFrame(
                {
                    cluster_col: pdf[cluster_col],
                    "left_id": pdf["left_id"],
                    "right_id": pdf["right_id"],
                    "is_bridge": na,
                    "left_is_articulation": na,
                    "right_is_articulation": na,
                    "skipped": True,
                }
            )
        adj: dict = {n: [] for n in nodes}
        for a, b in zip(pdf["left_id"], pdf["right_id"]):
            if a != b:
                adj[a].append(b)
                adj[b].append(a)
        for n in nodes:
            adj[n].sort()
        br, arts = _tarjan_cuts(nodes, adj)
        isb = [
            (min(a, b), max(a, b)) in br and a != b
            for a, b in zip(pdf["left_id"], pdf["right_id"])
        ]
        return pd.DataFrame(
            {
                cluster_col: cl,
                "left_id": pdf["left_id"],
                "right_id": pdf["right_id"],
                "is_bridge": pd.array(isb, dtype="boolean"),
                "left_is_articulation": pd.array(
                    [a in arts for a in pdf["left_id"]], dtype="boolean"
                ),
                "right_is_articulation": pd.array(
                    [b in arts for b in pdf["right_id"]], dtype="boolean"
                ),
                "skipped": False,
            }
        )

    return e.groupBy(cluster_col).applyInPandas(per_cluster, schema)


def pivot_clusters(
    pairs: DataFrame,
    seed: int = 17,
    max_rounds: int = 64,
) -> DataFrame:
    """KwikCluster pivot correlation clustering (Ailon, Charikar & Newman,
    JACM 2008; parallelized via the lex-first-MIS rounds of Blelloch,
    Fineman & Shun, SPAA 2012 / Chierichetti, Dasgupta & Kumar, KDD 2014 —
    all public): the principled alternative to connected components when
    transitive chaining over-merges. CC merges a...z through a chain of
    pairwise matches even when a and z share nothing; KwikCluster picks
    pivot records in a deterministic pseudo-random order and each cluster
    is a pivot plus its DIRECT match neighbors — every member is one hop
    from its pivot (bounded diameter, 3-approx expected cluster editing
    cost over the rank distribution), so chained false merges cannot
    propagate. Complements `split_clusters` (threshold-raise repair):
    this prevents the chain, that repairs it.

    Exact sequential semantics, computed in parallel: ranks are
    r(v) = md5(f"{seed}:{v}") (engine-portable; collisions negligible).
    The pivot set is the lexicographically-first maximal independent set
    under r — computed in O(log n) expected rounds of "active nodes whose
    rank beats every active neighbor become pivots; pivots and their
    neighbors deactivate" — and each non-pivot joins its minimum-rank
    pivot neighbor, which is provably the pivot that would have claimed
    it in the sequential rank-order sweep (pytest asserts exact equality
    with a sequential reference implementation).

    Scale shape (same discipline as connected_components): per round, one
    self-equi-join of the ACTIVE edge set + one groupBy-min keyed on node
    ids only (ranks are 32-char strings, no payload), shuffles at the same
    edge-sized `_loop_partitions` count via explicit repartition — the
    session's shuffle.partitions is never mutated; active edges shrink
    geometrically (each round removes pivots AND their whole
    neighborhoods). The final assignment is one edge-vs-pivot semi-join +
    groupBy-min. Returns (node, cluster_id) for every node incident to an
    (left_id, right_id) edge; singletons are the caller's
    `cover_singletons`. Raises on non-convergence within max_rounds;
    `pivot_clusters.last_rounds` holds the executed round count."""
    pivot_clusters.last_rounds = None
    spark = pairs.sparkSession
    e = pairs.select(
        F.col("left_id").alias("x"), F.col("right_id").alias("y")
    ).where(F.col("x") != F.col("y"))
    sym = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y"))).distinct()

    def rk(c) -> F.Column:
        return F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string")))

    loop_parts = _loop_partitions(spark, sym.count())
    sym = sym.repartition(loop_parts, "x").localCheckpoint(eager=True)
    active = (
        sym.select(F.col("x").alias("n")).distinct()
        .repartition(loop_parts, "n")
        .localCheckpoint(eager=True)
    )
    pivot_rounds: list[DataFrame] = []
    rounds = 0
    while True:
        if active.isEmpty():
            break
        if rounds >= max_rounds:
            raise RuntimeError(
                f"pivot_clusters did not converge in {max_rounds} rounds"
            )
        rounds += 1
        # active-active adjacency for this round (ids only)
        aa = (
            sym.join(active.select(F.col("n").alias("x")), "x")
            .join(active.select(F.col("n").alias("y")), "y")
            .select("x", "y")
        )
        # minimum active-neighbor rank per node; nodes without active
        # neighbors have no row here and are pivots by default
        mn = aa.groupBy("x").agg(F.min(rk(F.col("y"))).alias("mr"))
        new_piv = (
            active.join(mn, active["n"] == mn["x"], "left")
            .where(F.col("mr").isNull() | (rk(F.col("n")) < F.col("mr")))
            .select("n")
            .localCheckpoint(eager=True)
        )
        pivot_rounds.append(new_piv)
        # deactivate pivots and their entire neighborhoods
        claimed = (
            aa.join(new_piv.select(F.col("n").alias("y")), "y")
            .select(F.col("x").alias("n"))
        )
        gone = new_piv.union(claimed).distinct()
        active = (
            active.join(gone, "n", "left_anti")
            .repartition(loop_parts, "n")
            .localCheckpoint(eager=True)
        )
    pivot_clusters.last_rounds = rounds
    if not pivot_rounds:
        # no edges at all (caller unions singletons anyway); keep the
        # caller's id type
        t = pairs.schema["left_id"].dataType.simpleString()
        return spark.createDataFrame([], f"node {t}, cluster_id {t}")
    piv = pivot_rounds[0]
    for p in pivot_rounds[1:]:
        piv = piv.union(p)
    # each non-pivot joins its minimum-rank pivot neighbor — exactly the
    # pivot that removes it in the sequential rank-order sweep
    asgn = (
        sym.join(piv.select(F.col("n").alias("y")), "y")
        .join(piv.select(F.col("n").alias("x")), "x", "left_anti")
        .groupBy("x")
        .agg(
            F.min(F.struct(rk(F.col("y")).alias("r"), F.col("y").alias("p")))[
                "p"
            ].alias("cluster_id")
        )
        .select(F.col("x").alias("node"), "cluster_id")
    )
    return piv.select(
        F.col("n").alias("node"), F.col("n").alias("cluster_id")
    ).union(asgn)


def cluster_editing_cost(
    assignments: DataFrame,
    edges: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Correlation-clustering (cluster-editing) objective of a clustering
    against a match-edge set (Bansal, Blum & Chawla 2004 — the quantity
    KwikCluster 3-approximates): disagreements = within-cluster pairs with
    NO match edge (what transitive chaining invents) + match edges that
    CROSS clusters (what a conservative clusterer refuses). One row:
    (intra_pairs, intra_edges, intra_missing, inter_edges, editing_cost).
    The measurable arbiter of the CC-vs-pivot trade: CC always has
    inter_edges = 0 but pays intra_missing on chained components;
    KwikCluster bounds intra_missing (diameter ≤ 2) and pays inter_edges.

    Scale shape: intra_pairs = Σ_c n_c(n_c−1)/2 comes from cluster SIZES
    (one count agg — no pair enumeration, so a 10^8-member cluster is one
    bigint, not 10^16 rows); edge classification is two node-keyed joins +
    one count. Edges deduped on canonical orientation; self-loops dropped;
    an edge touching a node absent from `assignments` raises — silently
    dropping it would understate the cost."""
    a = assignments.select(
        F.col(id_col).alias("__n"), F.col(cluster_col).alias("__c")
    )
    e = (
        edges.select(
            F.least(left_col, right_col).alias("u"),
            F.greatest(left_col, right_col).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    tagged = (
        e.join(a.withColumnsRenamed({"__n": "u", "__c": "cu"}), "u", "left")
        .join(a.withColumnsRenamed({"__n": "v", "__c": "cv"}), "v", "left")
    )
    # single-pass guard: the missing-endpoint count folds into the one
    # edge aggregate and raises AT EXECUTION via raise_error — a separate
    # eager probe would evaluate the full upstream lineage twice
    edge_counts = tagged.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(
            F.sum((F.col("cu") == F.col("cv")).cast("long")), F.lit(0)
        ).alias("intra_edges"),
        F.coalesce(
            F.sum(
                (F.col("cu").isNull() | F.col("cv").isNull()).cast("long")
            ),
            F.lit(0),
        ).alias("n_orphan"),
    ).select(
        F.when(
            F.col("n_orphan") > 0,
            F.raise_error(
                F.lit(
                    "cluster_editing_cost: edge endpoint missing from"
                    " assignments"
                )
            ).cast("long"),
        ).otherwise(F.col("n_edges")).alias("n_edges"),
        "intra_edges",
    )
    # C(n,2) computed halved-factor-first — shiftright(n,1) * (n-1) for
    # even n, shiftright(n,1) * n for odd — so the intermediate product IS
    # the result: exact SIGNED 64-bit whenever C(n,2) ≤ 2^63−1, i.e.
    # n ≤ 2^32 (C(2^32,2) = 2^31·(2^32−1) just fits; n = 2^32+1 wraps),
    # where the naive n*(n-1) already wraps at n ≈ 3.04e9. Beyond that
    # C(n,2) is unrepresentable in LongType, so fail loudly instead of
    # wrapping (float division would silently drop units past 2^53 —
    # reachable at a 1.4e8-member cluster, hence no double path either).
    n = F.col("n")
    c2 = F.when(
        n > F.lit(4294967296),
        F.raise_error(
            F.lit(
                "cluster_editing_cost: cluster size exceeds 2^32 —"
                " C(n,2) not representable in signed int64"
            )
        ).cast("long"),
    ).otherwise(
        F.shiftright(n, 1) * F.when(n % 2 == 1, n).otherwise(n - 1)
    )
    # the cross-cluster TOTAL sums in decimal(38,0): each per-cluster C(n,2)
    # fits int64 (guarded above), but many large clusters can push the sum
    # past 2^63−1, where a non-ANSI long sum wraps silently (round-4 advice)
    pair_counts = (
        a.groupBy("__c")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(
                F.sum(c2.cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__ipd")
        )
        .select(
            F.when(
                F.col("__ipd")
                > F.lit(9223372036854775807).cast("decimal(38,0)"),
                F.raise_error(
                    F.lit(
                        "cluster_editing_cost: total intra-cluster pair"
                        " count exceeds 2^63-1 — not representable in"
                        " signed int64"
                    )
                ).cast("decimal(38,0)"),
            )
            .otherwise(F.col("__ipd"))
            .cast("long")
            .alias("intra_pairs")
        )
    )
    return pair_counts.crossJoin(edge_counts).select(
        "intra_pairs",
        "intra_edges",
        (F.col("intra_pairs") - F.col("intra_edges")).alias("intra_missing"),
        (F.col("n_edges") - F.col("intra_edges")).alias("inter_edges"),
        (
            F.col("intra_pairs") - F.col("intra_edges")
            + F.col("n_edges") - F.col("intra_edges")
        ).alias("editing_cost"),
    )
