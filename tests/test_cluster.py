"""Connected components on known graphs: chains, stars, cycles, singletons
(FIXTURES.md §3 topologies)."""

import pyspark.sql.functions as F

from ditto_spark.operators.cluster import connected_components, assign_clusters


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    return {
        r["conv_id"]: r["cluster_id"] for r in connected_components(df).collect()
    }


def test_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_long_chain(spark):
    nodes = [f"n{i:02d}" for i in range(12)]
    got = _cc(spark, list(zip(nodes, nodes[1:])))
    assert all(v == "n00" for v in got.values()) and len(got) == 12


def test_star_and_cycle_and_separate(spark):
    edges = [
        ("hub", "s1"), ("hub", "s2"), ("hub", "s3"),      # star
        ("x", "y"), ("y", "z"), ("z", "x"),               # cycle
        ("p", "q"),                                        # pair
    ]
    got = _cc(spark, edges)
    assert got["s1"] == got["s2"] == got["s3"] == got["hub"] == "hub"
    assert got["x"] == got["y"] == got["z"] == "x"
    assert got["p"] == got["q"] == "p"


def test_reversed_and_duplicate_edges(spark):
    got = _cc(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_cliques_take_star_shortcut(spark):
    # production shape: disjoint near-dup cliques. Two-pass contraction
    # must collapse them to exact min-rooted stars and skip the loop.
    edges = []
    for c in range(6):
        nodes = [f"c{c}_{i}" for i in range(5)]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    got = _cc(spark, edges)
    assert connected_components.last_rounds == 0
    for c in range(6):
        root = f"c{c}_0"
        assert all(got[f"c{c}_{i}"] == root for i in range(5))


def test_multi_parent_not_mistaken_for_star(spark):
    # (u,v1),(u,v2): u carries two distinct parents — a star-check that
    # only tests two-sidedness would wrongly leave v1 and v2 in separate
    # clusters. All three nodes share one component rooted at min.
    got = _cc(spark, [("zz", "aa"), ("zz", "mm")])
    assert got == {"zz": "aa", "aa": "aa", "mm": "aa"}


def test_star_shortcut_correct_on_path_graphs(spark):
    # paths defeat local contraction under adversarial partitioning; the
    # loop path must still produce exact min-rooted components.
    nodes = [f"p{i:03d}" for i in range(40)]
    got = _cc(spark, list(zip(nodes, nodes[1:])))
    assert all(v == "p000" for v in got.values()) and len(got) == 40


def test_loop_path_without_contraction(spark):
    # contract=False forces the star loop (at test scale AQE coalesces
    # contraction to one partition, which would short-circuit everything);
    # result must match the contracted path exactly.
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z")]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in connected_components(df, contract=False).collect()
    }
    assert connected_components.last_rounds > 0
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x", "z": "x"}


def test_star_path_matches_loop_path(spark):
    """Both paths read each node's cluster off one per-node aggregate: the
    star path off the star check's, the loop path off its converged edges.
    On a clique (contracted to stars: star path), a path and a two-parent
    graph (both violate the star check without contraction: loop path) the
    two must agree, and last_rounds must say which path ran."""
    clique = [(f"k{i}", f"k{j}") for i in range(6) for j in range(i + 1, 6)]
    path = [(f"p{i}", f"p{i + 1}") for i in range(7)]
    two_parent = [("t9", "t1"), ("t9", "t5"), ("t7", "t5")]
    star = [("s0", "s1"), ("s0", "s2"), ("s0", "s3")]

    def run(edges, **kw):
        df = spark.createDataFrame(edges, "left_id string, right_id string")
        got = {
            r["conv_id"]: r["cluster_id"]
            for r in connected_components(df, **kw).collect()
        }
        return got, connected_components.last_rounds

    for edges, first in ((clique, "k0"), (path, "p0"), (two_parent, "t1")):
        contracted, _ = run(edges)
        loop, loop_rounds = run(edges, contract=False)
        assert loop_rounds > 0
        nodes = {n for e in edges for n in e}
        assert contracted == loop == {n: first for n in nodes}
    _, rounds = run(clique)
    assert rounds == 0
    # already a min-rooted star: the star path runs with no contraction too
    got, rounds = run(star, contract=False)
    assert rounds == 0
    assert got == {"s0": "s0", "s1": "s0", "s2": "s0", "s3": "s0"}


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    nodes = [f"n{i:02d}" for i in range(12)]
    df = spark.createDataFrame(
        list(zip(nodes, nodes[1:])), "left_id string, right_id string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, contract=False, max_iter=1)
    assert connected_components.last_rounds is None


def test_empty_edges(spark):
    df = spark.createDataFrame([], "left_id string, right_id string")
    assert connected_components(df).count() == 0


def test_singletons_assigned_self(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",), ("lone",)], "conv_id string")
    pairs = spark.createDataFrame([("a", "b")], "left_id string, right_id string")
    got = {r["conv_id"]: r["cluster_id"] for r in assign_clusters(ids, pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "lone": "lone"}


def test_assign_clusters_writes_id_col(spark):
    ids = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    out = assign_clusters(ids, pairs, id_col="doc_id")
    assert out.columns == ["doc_id", "cluster_id"]
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 3)]


def test_cluster_representatives_survivorship_rules(spark):
    from ditto_spark.operators.cluster import cluster_representatives

    records = spark.createDataFrame(
        [
            (1, "aaaa", "en", "web"),
            (2, "bbbbbb", "de", "web"),
            (3, "cc", "de", None),
            (7, "dddddd", None, "pdf"),
            (9, "e", "fr", "pdf"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id long, cluster_id long",
    )
    got = {
        r["cluster_id"]: r
        for r in cluster_representatives(
            assign, records, mode_cols=("lang", "source"), longest_cols=("text",)
        ).collect()
    }
    c1, c7 = got[1], got[7]
    assert (c1["rep_id"], c1["n_members"]) == (1, 3)
    assert c1["lang"] == "de"  # 2 de vs 1 en
    assert c1["source"] == "web"  # null excluded
    assert c1["canonical_text"] == "bbbbbb"
    assert (c7["rep_id"], c7["n_members"]) == (7, 2)
    assert c7["lang"] == "fr"  # only non-null
    assert c7["source"] == "pdf"
    # longest tie (6 vs 1): doc 7 wins on length; id tie-break unused here
    assert c7["canonical_text"] == "dddddd"


def test_cluster_representatives_mode_tie_breaks_to_smallest_value(spark):
    from ditto_spark.operators.cluster import cluster_representatives

    records = spark.createDataFrame(
        [(1, "x", "b"), (2, "xy", "a"), (3, "z", None), (4, "zz", None)],
        "doc_id long, text string, lang string",
    )
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc_id long, cluster_id long"
    )
    got = {
        r["cluster_id"]: r
        for r in cluster_representatives(
            assign, records, mode_cols=("lang",), longest_cols=("text",)
        ).collect()
    }
    assert got[1]["lang"] == "a"  # 1-1 tie -> smallest value
    assert got[3]["lang"] is None  # all-null mode column stays null
    assert got[3]["canonical_text"] == "zz"


def test_merge_edge_batch_equals_full_recompute(spark):
    """Incremental CC over random edge batches must equal from-scratch CC
    on all edges seen so far, at every batch boundary."""
    import random

    from ditto_spark.operators.cluster import assign_clusters, merge_edge_batch

    rng = random.Random(17)
    nodes = list(range(100))
    edges = [
        (a, b)
        for a, b in (
            (rng.randrange(100), rng.randrange(100)) for _ in range(120)
        )
        if a != b
    ]
    batches = [edges[:40], edges[40:45], edges[45:]]  # incl. a tiny batch

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "conv_id long")
    assign = assign_clusters(
        nodes_df, spark.createDataFrame([], "left_id long, right_id long")
    )
    seen: list[tuple[int, int]] = []
    for batch in batches:
        seen.extend(batch)
        bdf = spark.createDataFrame(batch, "left_id long, right_id long")
        assign = merge_edge_batch(assign, bdf)
        full = assign_clusters(
            nodes_df, spark.createDataFrame(seen, "left_id long, right_id long")
        )
        got = {(r["conv_id"], r["cluster_id"]) for r in assign.collect()}
        want = {(r["conv_id"], r["cluster_id"]) for r in full.collect()}
        assert got == want


def test_merge_edge_batch_fresh_nodes_and_intra_cluster_edges(spark):
    from ditto_spark.operators.cluster import assign_clusters, merge_edge_batch

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "conv_id long")
    assign = assign_clusters(
        nodes, spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    )
    # batch: an intra-cluster edge (no-op), a fresh-to-old edge, and a
    # fresh-to-fresh edge
    batch = spark.createDataFrame(
        [(2, 1), (9, 3), (10, 11)], "left_id long, right_id long"
    )
    got = {
        (r["conv_id"], r["cluster_id"])
        for r in merge_edge_batch(assign, batch).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 3), (9, 3), (10, 10), (11, 10)}


def test_cluster_graph_metrics_density_and_scores(arrow_frame):
    from ditto_spark.operators.cluster import assign_clusters, cluster_graph_metrics

    # triangle {1,2,3} (dense) + chain {4,5,6} (sparse) + singleton 7
    edges = arrow_frame(
        [
            (1, 2, 0.9),
            (2, 3, 0.8),
            (1, 3, 0.7),
            (4, 5, 0.6),
            (5, 6, 0.55),
        ],
        "left_id long, right_id long, score double",
    )
    ids = arrow_frame([(i,) for i in range(1, 8)], "conv_id long")
    a = assign_clusters(ids, edges.select("left_id", "right_id"))
    out = {
        r["cluster_id"]: r
        for r in cluster_graph_metrics(a, edges, score_col="score").collect()
    }
    tri, chain = out[1], out[4]
    assert tri["n_nodes"] == 3 and tri["n_edges"] == 3 and tri["density"] == 1.0
    assert tri["min_score"] == 0.7 and tri["max_score"] == 0.9
    assert chain["n_nodes"] == 3 and chain["n_edges"] == 2
    assert chain["density"] == round(2 * 2 / (3 * 2), 4)
    assert 7 not in out  # singleton filtered at min_nodes=2


def test_cluster_graph_metrics_cross_cluster_edges_dropped(arrow_frame):
    from ditto_spark.operators.cluster import cluster_graph_metrics

    a = arrow_frame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "conv_id long, cluster_id long"
    )
    # edge (2,3) straddles clusters: must not count anywhere
    edges = arrow_frame(
        [(1, 2), (3, 4), (2, 3)], "left_id long, right_id long"
    )
    out = {r["cluster_id"]: r for r in cluster_graph_metrics(a, edges).collect()}
    assert out[1]["n_edges"] == 1 and out[3]["n_edges"] == 1


def test_incremental_link_anchor_and_new_clusters(spark):
    from ditto_spark.operators.cluster import incremental_link

    # existing clusters 3 and 7 (anchors). Batch: 100 matches anchor 7;
    # 101-102 match each other and 101 matches anchor 3; 103-104 match
    # only each other (new cluster, min id 103); 105 matches nothing.
    new_ids = spark.createDataFrame(
        [(i,) for i in (100, 101, 102, 103, 104, 105)], "doc_id long"
    )
    anchor_edges = spark.createDataFrame(
        [(100, 7), (101, 3)], "doc_id long, anchor long"
    )
    new_edges = spark.createDataFrame(
        [(101, 102), (103, 104)], "left_id long, right_id long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["matched_existing"])
        for r in incremental_link(new_ids, anchor_edges, new_edges).collect()
    }
    assert out == {
        100: (7, True),
        101: (3, True),
        102: (3, True),   # reaches anchor 3 through 101
        103: (103, False),
        104: (103, False),
        105: (105, False),
    }


def test_incremental_link_bridge_takes_min_anchor(spark):
    from ditto_spark.operators.cluster import incremental_link

    # one new record matches into clusters 9 AND 4 (a bridge): the master
    # table is immutable, so the record takes the smallest anchor (4) —
    # deterministically — rather than merging the two clusters.
    new_ids = spark.createDataFrame([(200,), (201,)], "doc_id long")
    anchor_edges = spark.createDataFrame(
        [(200, 9), (200, 4)], "doc_id long, anchor long"
    )
    new_edges = spark.createDataFrame(
        [(200, 201)], "left_id long, right_id long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["matched_existing"])
        for r in incremental_link(new_ids, anchor_edges, new_edges).collect()
    }
    assert out == {200: (4, True), 201: (4, True)}


def test_split_clusters_threshold_raise(spark):
    from ditto_spark.operators.cluster import assign_clusters, split_clusters

    # chain 1-2-3 merged at 0.5 via a weak 2-3 bridge (0.55); raising to
    # 0.7 cuts the bridge -> cluster 1 splits into {1,2} and {3}.
    # pair 5-6 is strong -> survives intact. 8 is a singleton throughout.
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.55), (5, 6, 0.8)],
        "left_id long, right_id long, score double",
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6, 8)], "conv_id long"
    )
    a = assign_clusters(
        ids, pairs.where("score >= 0.5").select("left_id", "right_id")
    ).select(F.col("conv_id").alias("doc_id"), "cluster_id")
    out = {
        r["doc_id"]: (r["cluster_id"], r["subcluster_id"], r["n_subclusters"])
        for r in split_clusters(a, pairs, tau_hi=0.7).collect()
    }
    assert out[1] == (1, 1, 2) and out[2] == (1, 1, 2)
    assert out[3] == (1, 3, 2)          # split off the chain
    assert out[5] == (5, 5, 1) and out[6] == (5, 5, 1)
    assert out[8] == (8, 8, 1)          # singleton: own subcluster


def _assign(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, cluster_id string")


def test_stabilize_identical_runs_carry_all_ids(spark):
    from ditto_spark.operators.cluster import stabilize_cluster_ids

    prev = _assign(spark, [("a", "p1"), ("b", "p1"), ("c", "p2")])
    # same clustering, different run-local labels
    new = _assign(spark, [("a", "x9"), ("b", "x9"), ("c", "x3")])
    got = {
        r["conv_id"]: (r["stable_id"], r["carried"])
        for r in stabilize_cluster_ids(new, prev).collect()
    }
    assert got == {"a": ("p1", True), "b": ("p1", True), "c": ("p2", True)}


def test_stabilize_split_keeps_id_on_bigger_half(spark):
    from ditto_spark.operators.cluster import stabilize_cluster_ids

    prev = _assign(spark, [(x, "p1") for x in "abcde"])
    new = _assign(
        spark, [("a", "n1"), ("b", "n1"), ("c", "n1"), ("d", "n2"), ("e", "n2")]
    )
    got = {
        r["conv_id"]: (r["stable_id"], r["carried"])
        for r in stabilize_cluster_ids(new, prev).collect()
    }
    assert got["a"] == ("p1", True) and got["c"] == ("p1", True)
    assert got["d"] == ("n2", False) and got["e"] == ("n2", False)


def test_stabilize_merge_bigger_prev_wins(spark):
    from ditto_spark.operators.cluster import stabilize_cluster_ids

    prev = _assign(
        spark, [("a", "p1"), ("b", "p1"), ("c", "p1"), ("d", "p2"), ("e", "p2")]
    )
    new = _assign(spark, [(x, "n1") for x in "abcde"])
    got = {
        r["conv_id"]: (r["stable_id"], r["carried"])
        for r in stabilize_cluster_ids(new, prev).collect()
    }
    # merged cluster takes the larger-overlap prev id; p2 is retired
    assert all(v == ("p1", True) for v in got.values())


def test_stabilize_prev_id_never_duplicated(spark):
    from ditto_spark.operators.cluster import stabilize_cluster_ids
    import pyspark.sql.functions as F

    # p1 overlaps BOTH new clusters (3 vs 2) — only the mutual best carries
    prev = _assign(spark, [(x, "p1") for x in "abcde"] + [("f", "p9")])
    new = _assign(
        spark,
        [("a", "n1"), ("b", "n1"), ("c", "n1"),
         ("d", "n2"), ("e", "n2"), ("f", "n2")],
    )
    out = stabilize_cluster_ids(new, prev)
    stable_of = {r["conv_id"]: r["stable_id"] for r in out.collect()}
    assert stable_of["a"] == "p1"
    # n2's mutual best is p9 (p1 prefers n1), so n2 carries p9
    assert stable_of["d"] == "p9" and stable_of["f"] == "p9"
    dupes = (
        out.where(F.col("carried"))
        .groupBy("stable_id")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert dupes == 0


def test_stabilize_new_records_without_history(spark):
    from ditto_spark.operators.cluster import stabilize_cluster_ids

    prev = _assign(spark, [("a", "p1")])
    new = _assign(spark, [("a", "n1"), ("z", "n7")])  # z never seen before
    got = {
        r["conv_id"]: (r["stable_id"], r["carried"])
        for r in stabilize_cluster_ids(new, prev).collect()
    }
    assert got["a"] == ("p1", True)
    assert got["z"] == ("n7", False)


def test_cluster_bridge_edges_vs_bruteforce(arrow_frame):
    """Tarjan bridges ≡ remove-edge-and-check-connectivity brute force on
    a mixed graph: chain (all bridges), triangle (none), barbell (only the
    bar), plus a cross-cluster edge that must be dropped."""
    from itertools import combinations

    from ditto_spark.operators.cluster import cluster_bridge_edges

    # cluster A: chain 1-2-3-4; cluster B: triangle 10-11-12 + pendant 13
    # + second triangle 14-15-16 bridged by 12-14 (barbell); edge 4-10
    # straddles clusters and must vanish
    edges = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (10, 12), (11, 12), (12, 13),
        (14, 15), (14, 16), (15, 16), (12, 14),
        (4, 10),
    ]
    e = arrow_frame(edges, "left_id long, right_id long")
    assign = arrow_frame(
        [(i, 1) for i in (1, 2, 3, 4)]
        + [(i, 2) for i in (10, 11, 12, 13, 14, 15, 16)],
        "conv_id long, cluster_id long",
    )
    out = cluster_bridge_edges(e, assign).collect()
    got = {(r["left_id"], r["right_id"]): r["is_bridge"] for r in out}
    assert (4, 10) not in got  # cross-cluster edge dropped
    assert not any(r["skipped"] for r in out)

    # brute force per cluster
    def connected(nodes, es):
        if not nodes:
            return True
        seen = {next(iter(nodes))}
        frontier = [next(iter(nodes))]
        adj = {n: set() for n in nodes}
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        while frontier:
            v = frontier.pop()
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    frontier.append(w)
        return seen == set(nodes)

    clusters = {1: {1, 2, 3, 4}, 2: {10, 11, 12, 13, 14, 15, 16}}
    for cl, nodes in clusters.items():
        ces = [(a, b) for a, b in edges if a in nodes and b in nodes]
        for edge in ces:
            rest = [x for x in ces if x != edge]
            # a bridge disconnects the component it lives in
            comp_nodes = nodes
            want = not connected(comp_nodes, rest)
            assert got[edge] == want, f"edge {edge}: {got[edge]} vs {want}"
    # spot checks
    assert got[(1, 2)] and got[(3, 4)] and got[(12, 13)] and got[(12, 14)]
    assert not got[(10, 11)] and not got[(15, 16)]


def test_cluster_bridge_edges_oversize_skip(arrow_frame):
    from ditto_spark.operators.cluster import cluster_bridge_edges

    e = arrow_frame(
        [(1, 2), (2, 3)], "left_id long, right_id long"
    )
    assign = arrow_frame(
        [(1, 7), (2, 7), (3, 7)], "conv_id long, cluster_id long"
    )
    out = cluster_bridge_edges(e, assign, max_cluster_size=2).collect()
    assert len(out) == 2
    assert all(r["skipped"] for r in out)
    assert all(r["is_bridge"] is None for r in out)


def test_cluster_articulation_points_vs_bruteforce(arrow_frame):
    """Articulation flags ≡ remove-node-and-check-connectivity brute force
    on the same chain/triangle-pendant/barbell graph."""
    from ditto_spark.operators.cluster import cluster_bridge_edges

    edges = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (10, 12), (11, 12), (12, 13),
        (14, 15), (14, 16), (15, 16), (12, 14),
    ]
    e = arrow_frame(edges, "left_id long, right_id long")
    assign = arrow_frame(
        [(i, 1) for i in (1, 2, 3, 4)]
        + [(i, 2) for i in (10, 11, 12, 13, 14, 15, 16)],
        "conv_id long, cluster_id long",
    )
    rows = cluster_bridge_edges(e, assign).collect()
    art = {}
    for r in rows:
        art[r["left_id"]] = r["left_is_articulation"]
        art[r["right_id"]] = r["right_is_articulation"]

    def connected(nodes, es):
        nodes = set(nodes)
        if not nodes:
            return True
        adj = {n: set() for n in nodes}
        for a, b in es:
            if a in nodes and b in nodes:
                adj[a].add(b)
                adj[b].add(a)
        start = next(iter(nodes))
        seen, frontier = {start}, [start]
        while frontier:
            v = frontier.pop()
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    frontier.append(w)
        return seen == nodes

    clusters = {1: {1, 2, 3, 4}, 2: {10, 11, 12, 13, 14, 15, 16}}
    for nodes in clusters.values():
        ces = [(a, b) for a, b in edges if a in nodes and b in nodes]
        for n in nodes:
            want = not connected(nodes - {n}, ces)
            assert art[n] == want, f"node {n}: {art[n]} vs {want}"
    # spot checks: chain interior + barbell junctions are articulations
    assert art[2] and art[3] and art[12] and art[14]
    assert not art[1] and not art[11] and not art[16]


def _seq_kwikcluster(edges, seed=17):
    """Sequential KwikCluster reference: sweep nodes in md5-rank order;
    an unremoved node becomes a pivot and claims all unremoved
    neighbors."""
    import hashlib

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rank = lambda v: hashlib.md5(f"{seed}:{v}".encode()).hexdigest()  # noqa: E731
    out, removed = {}, set()
    for v in sorted(adj, key=rank):
        if v in removed:
            continue
        out[v] = v
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                out[u] = v
                removed.add(u)
    return out


def test_pivot_clusters_equals_sequential_kwikcluster(spark):
    """The parallel MIS-rounds formulation must EXACTLY reproduce the
    sequential rank-order sweep — including the trap where an eager
    per-round assignment would hand a node to a later-rank pivot that
    fires in an earlier round."""
    import random

    from ditto_spark.operators.cluster import pivot_clusters

    for trial_seed in (0, 1, 2):
        rng = random.Random(trial_seed)
        n = 60
        edges = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if rng.random() < 0.06
            }
        )
        df = spark.createDataFrame(edges, "left_id long, right_id long")
        got = {
            r["node"]: r["cluster_id"]
            for r in pivot_clusters(df, seed=17).collect()
        }
        assert got == _seq_kwikcluster(edges, seed=17), f"trial {trial_seed}"


def test_pivot_clusters_bounds_chain_diameter(spark):
    """On a 7-node chain CC returns ONE cluster (transitive chaining);
    KwikCluster clusters have every member one hop from its pivot."""
    from ditto_spark.operators.cluster import connected_components, pivot_clusters

    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "left_id long, right_id long")
    cc = connected_components(df)
    assert cc.select("cluster_id").distinct().count() == 1
    rows = pivot_clusters(df, seed=17).collect()
    assert len(rows) == 7
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["node"])
    assert len(by_cluster) > 1
    adj = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    for pivot, members in by_cluster.items():
        for m in members:
            assert m == pivot or (m, pivot) in adj


def test_pivot_clusters_partition_invariant_and_empty(spark):
    from ditto_spark.operators.cluster import pivot_clusters

    edges = [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 9)]
    df = spark.createDataFrame(edges, "left_id long, right_id long")
    a = sorted(map(tuple, pivot_clusters(df).collect()))
    b = sorted(map(tuple, pivot_clusters(df.repartition(7)).collect()))
    assert a == b
    empty = pivot_clusters(df.where("left_id > 100"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["node", "cluster_id"]


def test_pivot_clusters_nonconvergence_raises(spark):
    import pytest as _pytest

    from ditto_spark.operators.cluster import pivot_clusters

    df = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        pivot_clusters(df, max_rounds=0)


def test_cluster_editing_cost_hand_values(spark):
    from ditto_spark.operators.cluster import cluster_editing_cost

    assigns = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "conv_id long, cluster_id long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (3, 4)], "left_id long, right_id long"
    )
    r = cluster_editing_cost(assigns, edges).collect()[0]
    # intra pairs: C(3,2)+C(2,2)=4; intra edges 3 → missing (1,3); inter (3,4)
    assert (
        r["intra_pairs"], r["intra_edges"], r["intra_missing"],
        r["inter_edges"], r["editing_cost"],
    ) == (4, 3, 1, 1, 2)
    # empty edge set: all-zero edge metrics, never NULL (review finding)
    r0 = cluster_editing_cost(
        assigns, edges.where("left_id > 100")
    ).collect()[0]
    assert (
        r0["intra_pairs"], r0["intra_edges"], r0["intra_missing"],
        r0["inter_edges"], r0["editing_cost"],
    ) == (4, 0, 4, 0, 4)


def test_cluster_editing_cost_missing_endpoint_raises(spark):
    import pytest as _pytest

    from ditto_spark.operators.cluster import cluster_editing_cost

    assigns = spark.createDataFrame([(1, 1)], "conv_id long, cluster_id long")
    edges = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    with _pytest.raises(Exception, match="missing from assignments"):
        cluster_editing_cost(assigns, edges).collect()


def test_pivot_beats_cc_editing_cost_on_chain(spark):
    """The objective arbiter of the clusterer trade: on a chain (the
    chained-false-merge shape) CC pays quadratic intra_missing while
    KwikCluster's bounded-diameter clusters cost strictly less."""
    from ditto_spark.operators.cluster import (
        cluster_editing_cost,
        connected_components,
        pivot_clusters,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "left_id long, right_id long"
    )
    cc = connected_components(edges)
    cc = cc.select(F.col(cc.columns[0]).alias("conv_id"), F.col("cluster_id"))
    pv = pivot_clusters(edges).select(
        F.col("node").alias("conv_id"), "cluster_id"
    )
    cost_cc = cluster_editing_cost(cc, edges).collect()[0]["editing_cost"]
    cost_pv = cluster_editing_cost(pv, edges).collect()[0]["editing_cost"]
    assert cost_cc == 45 - 9  # C(10,2) pairs, 9 edges present
    assert cost_pv < cost_cc, (cost_pv, cost_cc)
