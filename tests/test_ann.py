import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from ditto_spark.operators.ann import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dup_pairs,
    plane_matrix,
)

DIM = 16


def _frame(spark, rows, typ="double"):
    """(vec_id, embedding: array<typ>) built through Arrow from pandas: a
    JVM-side scan. A frame built from a Python list is a Python RDD scan,
    and the crossJoin plans here would start Python evaluation in every
    task (seconds per call even on a few rows)."""
    pdf = pd.DataFrame({"vec_id": [i for i, _ in rows], "embedding": [v for _, v in rows]})
    return spark.createDataFrame(pdf, f"vec_id long, embedding array<{typ}>")


def _vecs(spark, n=60, n_clusters=6, seed=3, noise=0.05):
    """Clustered unit vectors: cluster centers + small noise."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, DIM)
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = centers[c] + noise * rng.randn(DIM)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return _frame(spark, rows, "float"), [
        i % n_clusters for i in range(n)
    ]


def test_bruteforce_topk_finds_same_cluster(spark):
    df, cluster = _vecs(spark)
    v = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    out = cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    assert len(out) == 18
    for r in out:
        assert cluster[r["query_id"]] == cluster[r["neighbor_id"]]


def test_lsh_topk_matches_bruteforce_recall(spark):
    df, _ = _vecs(spark)
    v = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(df, dim=DIM, k=3, n_planes=64, bands=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall {recall}"


def test_lsh_topk_recall_at_10k_vectors(spark):
    """Scale-parameter gate (round-1 verdict): 64-plane/8-band signatures
    must hold ≥0.9 top-k recall vs brute force at ≥10k vectors — the regime
    where the old 2-bit chunks degenerated to a near-cross-join."""
    n = 10_000
    rng = np.random.RandomState(11)
    centers = rng.randn(200, DIM)
    idx = np.arange(n) % 200
    m = centers[idx] + 0.05 * rng.randn(n, DIM)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in m[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(8).cache()
    df.count()

    v = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=5, vec_col="v").collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(
            df, dim=DIM, k=5, n_planes=64, bands=8,
            query_filter=F.col("query_id") % 100 == 0,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall at 10k vectors: {recall}"
    df.unpersist()


def test_lsh_topk_salting_keeps_full_bucket_recall(spark):
    """Query-side replication salting must NOT lose any within-bucket
    neighbor: forcing tiny cells (max_bucket=5) yields the identical result
    set as unsalted."""
    df, _ = _vecs(spark, n=120)
    unsalted = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(df, dim=DIM, k=3, max_bucket=10**9).collect()
    }
    salted = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(df, dim=DIM, k=3, max_bucket=5).collect()
    }
    assert salted == unsalted


def test_embedding_near_dup_pairs(spark):
    df, cluster = _vecs(spark, noise=0.02)
    pairs = embedding_near_dup_pairs(df, dim=DIM, threshold=0.98).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert cluster[r["left_id"]] == cluster[r["right_id"]]
        assert r["cos"] >= 0.98


def test_plane_matrix_portable_formula():
    """w[d, p] must equal the md5-derived value the DuckDB oracle
    regenerates in SQL."""
    import duckdb

    w = plane_matrix(dim=3, n_planes=2)
    got = duckdb.connect().execute(
        """
        SELECT p.i, d.i,
               ('0x' || substr(md5('23:' || p.i || ':' || d.i), 1, 8))::BIGINT
                 / 2147483648.0 - 1.0
        FROM unnest(generate_series(0, 1)) p(i),
             unnest(generate_series(0, 2)) d(i)
        """
    ).fetchall()
    for p, d, val in got:
        assert abs(w[d, p] - val) < 1e-15


def test_embedding_near_dup_salting_is_lossless(spark):
    """One-side cell replication: forcing every bucket to salt (max_bucket=4)
    must return EXACTLY the unsalted pair set — full within-bucket recall,
    not probabilistic recovery (round-2 advisor finding)."""
    df, _ = _vecs(spark)
    unsalted = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dup_pairs(
            df, dim=DIM, threshold=0.9, max_bucket=10**9
        ).collect()
    }
    salted = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dup_pairs(
            df, dim=DIM, threshold=0.9, max_bucket=4
        ).collect()
    }
    assert salted == unsalted
    assert len(unsalted) > 0


def test_ivf_topk_recall_on_clustered_vectors(spark):
    from ditto_spark.operators.ann import cosine_topk_ivf

    df, _ = _vecs(spark)
    v = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(df, k=3, n_centroids=8, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"IVF recall {recall}"


def test_ivf_assignment_partitions_corpus(spark):
    from ditto_spark.operators.ann import _ivf_assign, _vec_view, ivf_centroids

    df, _ = _vecs(spark)
    cent = ivf_centroids(df, n_centroids=8)
    assert cent.count() == 8
    assigned = _ivf_assign(_vec_view(df, "vec_id", "embedding"), cent)
    rows = assigned.collect()
    assert len(rows) == 60  # exactly one cell per vector
    assert len({r["vec_id"] for r in rows}) == 60
    assert {r["cell_rank"] for r in rows} == {1}


def test_ivf_topk_deterministic(spark):
    from ditto_spark.operators.ann import cosine_topk_ivf

    df, _ = _vecs(spark)
    a = sorted(map(tuple, cosine_topk_ivf(df, k=3, n_centroids=8).collect()))
    b = sorted(map(tuple, cosine_topk_ivf(df, k=3, n_centroids=8).collect()))
    assert a == b


def test_ivf_lloyd_refinement_improves_quantization(spark):
    from ditto_spark.operators.ann import _ivf_assign, _vec_view, ivf_centroids

    df, _ = _vecs(spark)
    v = _vec_view(df, "vec_id", "embedding")

    def mean_best_cos(cent):
        # average cosine of each vector to its assigned centroid — the
        # quantity a Lloyd round is supposed to not decrease
        assigned = _ivf_assign(v, cent)
        joined = (
            assigned.join(v, "vec_id")
            .join(cent, "centroid_id")
        )
        dot = lambda a, b: F.aggregate(  # noqa: E731
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = dot(F.col("v"), F.col("cv")) / (
            F.sqrt(dot(F.col("v"), F.col("v")))
            * F.sqrt(dot(F.col("cv"), F.col("cv")))
        )
        return joined.select(F.avg(cos).alias("m")).collect()[0]["m"]

    c0 = ivf_centroids(df, n_centroids=6, n_iter=0)
    c1 = ivf_centroids(df, n_centroids=6, n_iter=1)
    assert c1.count() <= 6
    dim = len(c1.collect()[0]["cv"])
    assert dim == DIM
    assert mean_best_cos(c1) >= mean_best_cos(c0) - 1e-9


def test_ivf_lloyd_keeps_empty_cells(spark):
    """A centroid whose cell receives no assignments must survive Lloyd
    refinement with its previous vector (the bare groupBy rebuild would
    silently shrink the quantizer below n_centroids)."""
    from ditto_spark.operators.ann import ivf_centroids

    df, _ = _vecs(spark, n=24, n_clusters=2)  # 2 tight clusters, 8 seeds
    for n_iter in (1, 2):
        cent = ivf_centroids(df, n_centroids=8, n_iter=n_iter)
        got = cent.collect()
        assert len(got) == 8, f"n_iter={n_iter}: quantizer shrank to {len(got)}"
        assert sorted(r["centroid_id"] for r in got) == list(range(8))


def test_semantic_dedup_drops_planted_copies(spark):
    from ditto_spark.operators.ann import semantic_dedup

    df, _ = _vecs(spark, n=30, n_clusters=3, noise=0.3)
    copies = df.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    allv = df.unionByName(copies)
    out = semantic_dedup(allv, n_centroids=4, threshold=0.999)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == allv.count()
    for i in range(0, 30, 3):
        r = rows[i + 1000]
        # an exact copy is dropped, witnessed by its source, in its source's cell
        assert r["is_kept"] == 0 and r["dup_of"] == i
        assert r["centroid_id"] == rows[i]["centroid_id"]
    for r in rows.values():
        assert (r["is_kept"] == 1) == (r["dup_of"] == -1)


def test_semantic_dedup_partition_invariant(spark):
    from ditto_spark.operators.ann import semantic_dedup

    df, _ = _vecs(spark, n=24, n_clusters=4, noise=0.2)
    a = sorted(map(tuple, semantic_dedup(df, n_centroids=4, threshold=0.97).collect()))
    b = sorted(
        map(
            tuple,
            semantic_dedup(
                df.repartition(7), n_centroids=4, threshold=0.97
            ).collect(),
        )
    )
    assert a == b


def test_rp_project_matches_numpy_and_preserves_distances(spark):
    import numpy as np
    import pyspark.sql.functions as F
    from ditto_spark.operators.ann import rp_project, sign_matrix

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    S = sign_matrix(64, 16)
    expect = (X @ S.T) / np.sqrt(16.0)
    got = (
        rp_project(emb, 64, 16)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    Y = np.stack(got["rp"].values)
    assert np.allclose(Y, expect, atol=1e-9)
    # Johnson-Lindenstrauss: pairwise distances preserved in expectation
    d_orig = np.linalg.norm(X[:30, None, :] - X[None, :30, :], axis=2)
    d_proj = np.linalg.norm(Y[:30, None, :] - Y[None, :30, :], axis=2)
    iu = np.triu_indices(30, 1)
    ratio = d_proj[iu] / d_orig[iu]
    assert 0.9 < ratio.mean() < 1.1
    assert ratio.min() > 0.4 and ratio.max() < 1.9


def test_rp_project_zero_exchange_plan(spark):
    from ditto_spark.operators.ann import rp_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        rp_project(emb, 64, 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_knn_vote_majority_and_tie_break(spark):
    from ditto_spark.operators.ann import knn_vote

    # q1: labels [0,0,1] -> majority 0 with 2 votes. q2: labels
    # [0,0,1,2] -> majority 0. Neighbor 99 has no label row -> dropped.
    neighbors = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (2, 13), (2, 14), (2, 99)],
        "query_id long, neighbor_id long",
    )
    labels = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1), (13, 1), (14, 2)],
        "vec_id long, label long",
    )
    out = {r["query_id"]: (r["label"], r["votes"])
           for r in knn_vote(neighbors, labels).collect()}
    assert out[1] == (0, 2)
    assert out[2] == (0, 2)


def test_knn_vote_tie_takes_smallest_label(spark):
    from ditto_spark.operators.ann import knn_vote

    neighbors = spark.createDataFrame(
        [(7, 1), (7, 2), (7, 3), (7, 4)], "query_id long, neighbor_id long"
    )
    labels = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 2), (4, 2)], "vec_id long, label long"
    )
    [r] = knn_vote(neighbors, labels).collect()
    assert (r["query_id"], r["label"], r["votes"]) == (7, 2, 2)


def _fh_portable_hashes():
    hash_fn = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
    )
    sign_fn = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit("s:"), t)), 1, 8), 16, 10)
        .cast("bigint") % 2 == 0
    )
    return hash_fn, sign_fn


def _fh_ref(tokens, dim):
    import hashlib

    v = [0.0] * dim
    for t in tokens:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        s = int(hashlib.md5(("s:" + t).encode()).hexdigest()[:8], 16)
        v[h % dim] += 1.0 if s % 2 == 0 else -1.0
    return v


def test_feature_hash_matches_python_reference(spark):
    """Bin/sign/accumulate structure exact vs a from-scratch Python impl
    on the portable md5 hashes, incl. token multiplicity (TF) and the
    empty-doc zero vector (normalization guard)."""
    from ditto_spark.operators.ann import feature_hash_vectors

    # NB: ["alpha","beta","alpha","gamma"] at dim=8 cancels to the zero
    # vector (all four land in bin 3 with signs -,-,+,+) — kept out of the
    # unit-norm check but exactly the case the norm>0 guard exists for
    rows = [
        (0, ["alpha", "beta", "alpha", "delta"]),
        (1, ["beta"]),
        (2, []),
        (3, ["alpha", "beta", "alpha", "gamma"]),  # full cancellation
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    hash_fn, sign_fn = _fh_portable_hashes()
    got = {
        r["doc_id"]: list(r["fh"])
        for r in feature_hash_vectors(
            df, dim=8, l2_normalize=False, hash_fn=hash_fn, sign_fn=sign_fn
        ).collect()
    }
    for i, toks in rows:
        assert got[i] == _fh_ref(toks, 8), f"doc {i}"
    # normalized: unit norm for non-empty docs, zero vector stays zero
    nrm = {
        r["doc_id"]: list(r["fh"])
        for r in feature_hash_vectors(
            df, dim=8, hash_fn=hash_fn, sign_fn=sign_fn
        ).collect()
    }
    assert abs(sum(x * x for x in nrm[0]) - 1.0) < 1e-12
    assert nrm[2] == [0.0] * 8
    assert nrm[3] == [0.0] * 8  # cancellation hits the norm>0 guard too


def test_feature_hash_inner_product_tracks_token_cosine(spark):
    """Unbiasedness in practice: at dim=256 the hashed-vector cosine
    tracks the exact bag-of-words cosine within 0.15 for high/low-overlap
    pairs, identical docs hash identically, and the projection is
    partition-invariant."""
    from ditto_spark.operators.ann import feature_hash_vectors

    a = [f"tok{i}" for i in range(30)]
    docs = [
        (0, a),
        (1, list(a)),                          # identical
        (2, a[:24] + [f"x{i}" for i in range(6)]),   # cos = 0.8
        (3, [f"y{i}" for i in range(30)]),     # disjoint
    ]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<string>")
    fh = feature_hash_vectors(df, dim=256)
    rows = {r["doc_id"]: np.array(r["fh"]) for r in fh.collect()}
    assert np.allclose(rows[0], rows[1])

    def cos(x, y):
        return float(np.dot(x, y))  # already L2-normalized

    def exact(t1, t2):
        s1, s2 = set(t1), set(t2)
        return len(s1 & s2) / (len(s1) ** 0.5 * len(s2) ** 0.5)

    assert abs(cos(rows[0], rows[2]) - exact(a, docs[2][1])) < 0.15
    assert abs(cos(rows[0], rows[3])) < 0.15
    fh2 = {
        r["doc_id"]: list(r["fh"])
        for r in feature_hash_vectors(df.repartition(7), dim=256).collect()
    }
    assert {k: list(v) for k, v in rows.items()} == fh2


def test_feature_hash_feeds_ann_stack(spark):
    """Composition: hashed vectors drive cosine_topk_bruteforce — the
    nearest neighbor of each templated doc is its near-duplicate."""
    from ditto_spark.operators.ann import feature_hash_vectors

    base = [f"w{i}" for i in range(20)]
    rows = []
    for i in range(10):
        rows.append((2 * i, base + [f"doc{i}"]))
        rows.append((2 * i + 1, base + [f"doc{i}", "extra"]))  # near-dup
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    fh = (
        feature_hash_vectors(df, dim=128)
        .withColumnRenamed("doc_id", "vec_id")
        .withColumnRenamed("fh", "v")
    )
    q = fh.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    top1 = cosine_topk_bruteforce(fh, q, k=1)
    got = {r["query_id"]: r["neighbor_id"] for r in top1.collect()}
    pairmate = lambda i: i + 1 if i % 2 == 0 else i - 1  # noqa: E731
    matches = sum(1 for q, n in got.items() if n == pairmate(q))
    assert matches >= 18, f"only {matches}/20 nearest neighbors are the planted near-dups"


def _dvecs(spark, n=60, n_clusters=6, seed=3, noise=0.05):
    """Clustered unit vectors as array<double> (exact-arithmetic tests)."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, DIM)
    rows = []
    for i in range(n):
        v = centers[i % n_clusters] + noise * rng.randn(DIM)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return _frame(spark, rows)


def test_pq_encode_matches_numpy(spark):
    """pq_codebooks seeding + pq_encode argmin replicated in plain numpy
    (md5 per-subspace seed ranking, 3-inner-product squared-L2, ties to
    smallest code) — proves the deterministic contract the DuckDB oracle
    relies on."""
    import hashlib

    from ditto_spark.operators.ann import pq_codebooks, pq_encode

    m, ksub, dsub = 4, 8, DIM // 4
    df = _dvecs(spark)
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    # numpy codebooks: per subspace, ksub smallest md5(f"{id}:{s}")
    cb = {}
    for s in range(m):
        ranked = sorted(
            vecs, key=lambda i: hashlib.md5(f"{i}:{s}".encode()).hexdigest()
        )[:ksub]
        cb[s] = [vecs[i][s * dsub:(s + 1) * dsub] for i in ranked]
    spark_cb = pq_codebooks(df, dim=DIM, m=m, ksub=ksub)
    for r in spark_cb.collect():
        np.testing.assert_allclose(
            r["cw"], cb[r["sub_id"]][r["code"]], rtol=0, atol=0
        )
    # numpy encode: argmin ||sv||^2 - 2<sv,cw> + ||cw||^2, ties -> low code
    expect = {}
    for i, v in vecs.items():
        codes = []
        for s in range(m):
            sv = v[s * dsub:(s + 1) * dsub]
            d = [sv @ sv - 2.0 * (sv @ c) + c @ c for c in cb[s]]
            codes.append(int(np.argmin(d)))
        expect[i] = codes
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df, spark_cb, dim=DIM, m=m).collect()
    }
    assert got == expect


def test_pq_encode_partition_invariant(spark):
    from ditto_spark.operators.ann import pq_codebooks, pq_encode

    df = _dvecs(spark)
    cb = pq_codebooks(df, dim=DIM, m=4, ksub=8)
    a = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(df, cb, dim=DIM, m=4).collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(df.repartition(7), cb, dim=DIM, m=4).collect()
    )
    assert a == b


def test_pq_lloyd_refinement_improves_quantization(spark):
    """Lloyd rounds never increase total squared quantization error on the
    training set (standard k-means monotonicity, per subspace)."""
    from ditto_spark.operators.ann import pq_codebooks, pq_encode, _pq_cb_row

    df = _dvecs(spark)
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}

    def total_err(n_iter):
        cb = pq_codebooks(df, dim=DIM, m=4, ksub=8, n_iter=n_iter)
        cbs = _pq_cb_row(cb).collect()[0]["cbs"]
        enc = pq_encode(df, cb, dim=DIM, m=4).collect()
        err = 0.0
        for r in enc:
            v = vecs[r["vec_id"]]
            for s, c in enumerate(r["codes"]):
                sv = v[s * 4:(s + 1) * 4]
                cw = np.array(cbs[s][c])
                err += float((sv - cw) @ (sv - cw))
        return err

    e0, e2 = total_err(0), total_err(2)
    assert e2 <= e0 + 1e-9, (e0, e2)


def test_ivfpq_recall_and_rerank(spark):
    """IVF-PQ top-k recall vs exact brute force on clustered vectors; the
    exact re-rank tier must do at least as well as raw ADC ranking."""
    from ditto_spark.operators.ann import cosine_topk_ivfpq

    df = _dvecs(spark)
    v = df.select("vec_id", F.col("embedding").alias("v"))
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }

    def recall(rerank):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_ivfpq(
                df, dim=DIM, k=3, n_centroids=8, n_probe=4, m=4, ksub=8,
                rerank=rerank,
            ).collect()
        }
        return len(exact & approx) / len(exact)

    # raw ADC ranks among ~10 same-cluster near-ties whose cosine gaps are
    # smaller than the quantization error — low raw recall is the expected
    # PQ trade (measured 0.38 here); the exact re-rank tier is how PQ is
    # deployed (measured 1.0 here)
    r_adc = recall(None)
    r_rr = recall(15)
    assert r_adc >= 0.3, f"ADC recall {r_adc}"
    assert r_rr >= r_adc - 1e-9, (r_adc, r_rr)
    assert r_rr >= 0.9, f"re-rank recall {r_rr}"


def test_multiprobe_probe_sequence_matches_numpy(spark):
    """hyperplane_band_probes replicated in plain numpy: base chunk per
    band + flips of the 1st/2nd smallest-QUANTIZED-|margin| bits
    (floor(|margin|·1e6), bit-index tiebreak) — the deterministic
    contract the DuckDB oracle replays; the replica must quantize the
    same way or ties inside one 1e-6 bin order differently."""
    from ditto_spark.operators.ann import hyperplane_band_probes

    df, _ = _vecs(spark)
    pr = hyperplane_band_probes(df, dim=DIM, n_planes=32, bands=4, n_probes=2)
    planes = plane_matrix(DIM, 32)
    pow2 = 1 << np.arange(8, dtype=np.int64)
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    got = {}
    for r in pr.collect():
        got.setdefault(r["vec_id"], []).append(
            (r["band_idx"], r["probe"], r["chunk"])
        )
    for vid, v in vecs.items():
        proj = v @ planes
        base = ((proj > 0).astype(np.int64)).reshape(4, 8) @ pow2
        mg = np.floor(np.abs(proj).reshape(4, 8) * 1e6)
        exp = []
        for b in range(4):
            exp.append((b, 0, int(base[b])))
            for t, bit in enumerate(np.argsort(mg[b], kind="stable")[:2]):
                exp.append((b, t + 1, int(base[b]) ^ (1 << int(bit))))
        assert sorted(got[vid]) == sorted(exp), f"vec {vid}"


def test_multiprobe_improves_recall_without_more_bands(spark):
    """At bands=2 (16-bit chunks — collision-poor on 60 vectors) the probe
    sequence recovers most of the recall a larger band count would buy,
    with the corpus index unchanged (measured 0.922 → 0.989 at 2 probes)."""
    from ditto_spark.operators.ann import _vec_view, cosine_topk_lsh

    df, _ = _vecs(spark)
    v = _vec_view(df, "vec_id", "embedding")
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }

    def recall(n_probes):
        ap = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_lsh(
                df, dim=DIM, k=3, n_planes=32, bands=2, n_probes=n_probes
            ).collect()
        }
        return len(exact & ap) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, (r0, r2)
    assert r0 >= 0.85 and r2 >= 0.95, (r0, r2)


def test_ivfpq_residual_encoding_improves_adc_recall(spark):
    """True-IVFADC residual quantization: with refined codebooks the
    residual codes (v − c_nearest) rank candidates clearly better than
    raw-vector codes at the same bit budget (measured 0.528 vs 0.344 on
    this deterministic corpus) — the coarse quantizer absorbs the cluster
    mean, leaving the codebooks the fine structure."""
    from ditto_spark.operators.ann import cosine_topk_ivfpq

    df = _dvecs(spark)
    v = df.select("vec_id", F.col("embedding").alias("v"))
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }

    def recall(residual):
        ap = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_ivfpq(
                df, dim=DIM, k=3, n_centroids=8, n_probe=4, m=4, ksub=8,
                n_iter=2, residual=residual,
            ).collect()
        }
        return len(exact & ap) / len(exact)

    r_raw, r_res = recall(False), recall(True)
    assert r_res > r_raw, (r_raw, r_res)
    assert r_res >= 0.45, r_res


def test_semantic_dedup_overlap_catches_boundary_straddling_pair(spark):
    """The documented SemDeDup locality hole, closed by overlap>1: plant a
    near-identical pair constructed to straddle the Voronoi boundary of
    two quantizer cells (each vector's rank-1 cell differs, rank-2 sets
    intersect). overlap=1 must MISS it (both kept); overlap=2 must catch
    it (min id kept, witness recorded)."""
    import hashlib

    from ditto_spark.operators.ann import (
        _ivf_assign,
        _vec_view,
        ivf_centroids,
        semantic_dedup,
    )

    df = _dvecs(spark)
    base = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    cents = {
        r["centroid_id"]: np.array(r["cv"])
        for r in ivf_centroids(df, n_centroids=8).collect()
    }

    def rank_cells(v, upto=2):
        sims = sorted(
            ((-(v @ c) / (np.linalg.norm(v) * np.linalg.norm(c)), cid)
             for cid, c in cents.items())
        )
        return [cid for _, cid in sims[:upto]]

    thr = 0.999
    planted = None
    for a_id, ca in cents.items():
        for b_id, cb in cents.items():
            if b_id <= a_id:
                continue
            ah, bh = ca / np.linalg.norm(ca), cb / np.linalg.norm(cb)
            if ah @ bh >= 0.9:
                continue
            mid = ah + bh
            mid = mid / np.linalg.norm(mid)
            # the A-B midpoint often sits closest to a THIRD centroid, so
            # sweep the nudge size until the pair truly straddles a
            # boundary between its two rank cells
            for eps in (0.02, 0.01, 0.005):
                va = mid + eps * (ah - bh)
                vb = mid - eps * (ah - bh)
                va, vb = va / np.linalg.norm(va), vb / np.linalg.norm(vb)
                cos_ab = float(va @ vb)
                if cos_ab < thr:
                    continue
                ra, rb = rank_cells(va), rank_cells(vb)
                if ra[0] == rb[0] or set(ra) != set(rb):
                    continue
                # no corpus vector may qualify as a witness for either
                near = max(
                    float(v @ w) / (np.linalg.norm(v) * np.linalg.norm(w))
                    for w in base.values() for v in (va, vb)
                )
                if near >= thr:
                    continue
                planted = (va, vb)
                break
            if planted:
                break
        if planted:
            break
    assert planted is not None, "no boundary-straddling construction found"
    va, vb = planted
    # planted ids must not displace the md5-seeded centroids
    seeds = sorted(
        list(base) + [1001, 1002],
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )[:8]
    assert 1001 not in seeds and 1002 not in seeds
    df2 = df.union(
        spark.createDataFrame(
            [(1001, [float(x) for x in va]), (1002, [float(x) for x in vb])],
            "vec_id long, embedding array<double>",
        )
    )
    # straddle confirmed on the Spark side
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in _ivf_assign(
            _vec_view(df2.where(F.col("vec_id") > 1000), "vec_id", "embedding"),
            ivf_centroids(df2, n_centroids=8),
        ).collect()
    }
    assert cells[1001] != cells[1002]

    def result(overlap):
        return {
            r["vec_id"]: (r["is_kept"], r["dup_of"])
            for r in semantic_dedup(
                df2, n_centroids=8, threshold=thr, overlap=overlap
            ).collect()
        }

    r1, r2 = result(1), result(2)
    assert r1[1001] == (1, -1) and r1[1002] == (1, -1)  # missed at overlap=1
    assert r2[1001] == (1, -1) and r2[1002] == (0, 1001)  # caught at overlap=2


def test_sq8_encode_roundtrip_matches_numpy(spark):
    """Packed codes unpack to exactly the numpy-computed quantization
    (clip(floor((x−mn)/(mx−mn)·256), 0, 255)); byte 7 exercises the sign
    bit of the packed long (bitwise pack — a multiply-add formulation
    overflows ANSI longs)."""
    from ditto_spark.operators.ann import sq8_encode, sq8_stats

    df = _dvecs(spark)
    st = sq8_stats(df, DIM)
    srow = st.collect()[0]
    mn, mx = np.array(srow["mins"]), np.array(srow["maxs"])
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    for row in sq8_encode(df, st, DIM).collect():
        v = vecs[row["vec_id"]]
        expect = [
            0 if mx[i] == mn[i]
            else int(min(255, max(0, np.floor(
                (v[i] - mn[i]) / (mx[i] - mn[i]) * 256))))
            for i in range(DIM)
        ]
        got = [(row["sq8"][i // 8] >> (8 * (i % 8))) & 255 for i in range(DIM)]
        assert expect == got, row["vec_id"]
        assert len(row["sq8"]) == DIM // 8


def test_sq8_topk_recall_and_degenerate_dim(spark):
    """8-bit per-dim reconstruction keeps top-k recall high (measured
    0.972 on the clustered corpus — far above PQ's raw ADC at the same
    8 bits/dim budget, the expected SQ-vs-PQ trade at full dim count);
    a constant dimension (mx == mn) must not produce NaNs."""
    from ditto_spark.operators.ann import cosine_topk_sq8

    df = _dvecs(spark)
    const = df.select(
        "vec_id",
        F.concat(F.array(F.lit(0.5)), F.slice("embedding", 2, DIM - 1)).alias(
            "embedding"
        ),
    )
    v = df.select("vec_id", F.col("embedding").alias("v"))
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(v, q, k=3, vec_col="v").collect()
    }
    ap = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_sq8(df, dim=DIM, k=3).collect()
    }
    assert len(exact & ap) / len(exact) >= 0.9
    rows = cosine_topk_sq8(const, dim=DIM, k=3).collect()
    assert rows and all(not np.isnan(r["cos"]) for r in rows)


def test_sq8_partition_invariant(spark):
    from ditto_spark.operators.ann import sq8_encode, sq8_stats

    df = _dvecs(spark)
    st = sq8_stats(df, DIM)
    a = sorted((r["vec_id"], tuple(r["sq8"])) for r in sq8_encode(df, st, DIM).collect())
    b = sorted(
        (r["vec_id"], tuple(r["sq8"]))
        for r in sq8_encode(df.repartition(7), st, DIM).collect()
    )
    assert a == b


def _zero_vector_corpus(spark):
    """Feature-hashed docs 0 and 1 plus an empty doc 2, whose hashed vector
    is the zero vector (as embedding: array<double>)."""
    from ditto_spark.operators.ann import feature_hash_vectors

    docs = spark.createDataFrame(
        [(0, ["a", "b", "c"]), (1, ["a", "b", "d"]), (2, [])],
        "doc_id long, tokens array<string>",
    )
    rows = feature_hash_vectors(docs, dim=DIM).collect()
    return _frame(spark, [(r["doc_id"], r["fh"]) for r in rows])


def test_zero_vector_scores_minus_one_in_every_cosine_tier(spark):
    """A zero vector (an empty document's hashed vector) scores cos = -1.0
    against anything instead of dividing by zero: it ranks last in every
    top-k and never passes a near-dup threshold. Width-1 LSH bands put the
    zero vector (all sign bits 0) in a bucket with every vector that has a
    non-positive projection, and a single IVF cell makes every pair meet."""
    from ditto_spark.operators.ann import (
        cosine_topk_ivf,
        cosine_topk_sq8,
        semantic_dedup,
    )

    vecs = _zero_vector_corpus(spark)
    assert {
        r["vec_id"]: any(x != 0.0 for x in r["embedding"]) for r in vecs.collect()
    } == {0: True, 1: True, 2: False}
    q = vecs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    expect = {(2, 0): -1.0, (2, 1): -1.0, (0, 2): -1.0, (1, 2): -1.0}
    tiers = {
        "bruteforce": cosine_topk_bruteforce(vecs, q, k=2, vec_col="embedding"),
        "lsh": cosine_topk_lsh(vecs, dim=DIM, k=2, n_planes=16, bands=16),
        "ivf": cosine_topk_ivf(vecs, k=2, n_centroids=1, n_probe=1),
    }
    for name, df in tiers.items():
        got = {(r["query_id"], r["neighbor_id"]): (r["cos"], r["rk"]) for r in df.collect()}
        assert {p: got[p][0] for p in expect if p in got} == {
            p: v for p, v in expect.items() if p in got
        }, name
        assert (2, 0) in got and got[(2, 0)][1] == 1, (name, got)
        if (0, 2) in got:
            assert got[(0, 2)][1] == 2, (name, got)  # ranks behind doc 1
    pairs = embedding_near_dup_pairs(
        vecs, dim=DIM, threshold=0.5, n_planes=16, bands=16
    ).collect()
    assert all(2 not in (r["left_id"], r["right_id"]) for r in pairs)
    sd = {
        r["vec_id"]: (r["is_kept"], r["dup_of"])
        for r in semantic_dedup(vecs, n_centroids=1, threshold=0.5).collect()
    }
    assert sd[2] == (1, -1) and sd[1][1] != 2
    # asymmetric tiers: a zero QUERY vector scores -1.0 too
    zq = q.where(F.col("query_id") == 2)
    rows = cosine_topk_sq8(vecs, dim=DIM, k=2, queries=zq).collect()
    assert sorted((r["neighbor_id"], r["cos"], r["rk"]) for r in rows) == [
        (0, -1.0, 1), (1, -1.0, 2)
    ]


def test_topk_ties_go_to_lower_neighbor_id(spark):
    """The shared top-k contract: duplicated vectors tie exactly, ties go
    to the lower neighbor_id, and rk runs 1..k per query — identically in
    the brute-force, IVF and SQ8 tiers."""
    from ditto_spark.operators.ann import cosine_topk_ivf, cosine_topk_sq8

    rng = np.random.RandomState(5)
    a, b = rng.randn(8), rng.randn(8)
    vecs = _frame(
        spark, [(i, [float(x) for x in (a if i < 4 else b)]) for i in range(6)]
    )
    q = vecs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    # ids 0-3 duplicate one vector, 4-5 another
    expect = {
        0: [1, 2, 3], 1: [0, 2, 3], 2: [0, 1, 3], 3: [0, 1, 2],
        4: [5, 0, 1], 5: [4, 0, 1],
    }
    tiers = {
        "bruteforce": cosine_topk_bruteforce(vecs, q, k=3, vec_col="embedding"),
        "ivf": cosine_topk_ivf(vecs, k=3, n_centroids=2, n_probe=2),
        "sq8": cosine_topk_sq8(vecs, dim=8, k=3),
    }
    for name, df in tiers.items():
        got = {}
        for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rk"])):
            got.setdefault(r["query_id"], []).append((r["rk"], r["neighbor_id"]))
        assert got == {
            qid: list(enumerate(nbrs, start=1)) for qid, nbrs in expect.items()
        }, name
