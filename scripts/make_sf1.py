#!/usr/bin/env python
"""Synthesize an sf1.0-equivalent corpus (10x sf0.1) for the round-5
full-suite bench — deterministic, derived only from the driver's sf0.1
parquet, written to a repo-local dir (the driver's /root/testdata is
read-only and has no sf1.0).

Scaling construction (the point is LINEAR scale, not pathology): each of
the 10 replicas is a token-disjoint copy of sf0.1 —
  documents   every token gets an ALNUM replica suffix (`tok` → `tokrK`),
              so within-replica near-dup/shingle structure is IDENTICAL to
              sf0.1 while across replicas nothing matches: pair counts and
              group sizes scale exactly 10x, no artificial 10-clique of
              replicas inflates the quadratic stages. The suffix must stay
              inside [a-z0-9] — a non-alnum separator splits under the
              [a-z0-9]+ tokenizers and silently degrades 3-gram shingles
              to effective 2-grams (measured: rare-shingle pairs 1.12M →
              10).
  events      ids offset per replica (user_id + K·U, event_id + K·E);
              values/timestamps unchanged → 10x users, same per-user
              transcript shape.
  embeddings  vec_id offset; embedding rotated by K positions (norm- and
              distribution-preserving, decorrelates replicas so ANN/cosine
              queries see 10x genuinely distinct vectors).

Usage: python scripts/make_sf1.py [out_dir]   (default .bench_data/sf1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPLICAS = 10


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_data", "sf1",
    )
    os.makedirs(out, exist_ok=True)
    from ditto_spark.session import get_spark

    spark = get_spark("make_sf1", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    docs_out = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    # empty strings (leading / repeated spaces) stay empty,
                    # so each replica keeps the source's token structure
                    lambda t: F.when(t == "", t).otherwise(
                        F.concat(t, F.lit("r"), F.col("rep").cast("string"))
                    ),
                ),
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    docs_out.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    n_e = ev.agg(F.max("event_id")).collect()[0][0] + 1
    ev_out = ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("rep") * n_e).alias("event_id"),
        (F.col("user_id") + F.col("rep") * n_u).alias("user_id"),
        *[c for c in ev.columns if c not in ("event_id", "user_id")],
    )
    ev_out.repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_v = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    rot = F.concat(
        F.slice(F.col("embedding"), F.col("rep") + 1, dim - F.col("rep")),
        F.slice(F.col("embedding"), F.lit(1), F.col("rep")),
    )
    emb_out = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep") * n_v).alias("vec_id"),
        rot.alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    emb_out.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    for t in ["documents", "events", "embeddings"]:
        n = spark.read.parquet(f"{out}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    print("written to", out)


if __name__ == "__main__":
    main()
