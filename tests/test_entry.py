"""Mimics the driver's correctness gate: every oracle-backed query in
__spark_entry__.py runs on Spark AND DuckDB at sf0.01; row count, column
names, and exact sorted values must agree. Rows-only queries must run and
return a stable non-empty result."""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from scripts.check_oracles import duck_connection, mismatch

SF_DIR = "/root/testdata/sf0.01"
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


ORACLES = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLES)
def test_oracle_parity(spark, name):
    qdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck_connection(SF_DIR).execute(entrymod.oracle_sql()[name]).fetchdf()
    diff = mismatch(qdf, odf)
    assert diff is None, f"{name}: {diff}"


def test_compare_is_exact_on_floats():
    """The gate compares a float by its repr, so a 1e-12 difference is a
    mismatch, and NaN equals NaN."""
    a = pd.DataFrame({"x": [0.5 + 1e-12], "n": [float("nan")]})
    b = pd.DataFrame({"x": [0.5], "n": [float("nan")]})
    assert mismatch(a, b) is not None
    assert mismatch(b, b.copy()) is None


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_chunk_windows_no_aliasing_past_100(spark):
    """Round-4 verdict finding #1: the old doc_id*100+idx composite key
    aliased documents with >100 windows. The widened stride must keep
    every window id distinct for a 150-window document."""
    docs = spark.createDataFrame(
        [(7, " ".join(f"t{i}" for i in range(150 * 20))),
         (8, " ".join(f"u{i}" for i in range(5 * 20)))],
        "doc_id long, text string",
    )
    out = entrymod._chunk_windows(docs, w=20).toPandas()
    assert len(out) == 155
    assert out["doc_id"].is_unique
    # doc 7's windows all live in doc 7's id space, none leak into doc 8's
    s = entrymod._CHUNK_ID_STRIDE
    d7 = out[(out.doc_id >= 7 * s) & (out.doc_id < 8 * s)]
    assert len(d7) == 150


def test_chunk_windows_stride_guard_raises(spark):
    """A document whose window count reaches the stride must raise instead
    of silently aliasing (tested at a tiny stride)."""
    from pyspark.errors import PySparkException

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10 * 4)))],
        "doc_id long, text string",
    )
    with pytest.raises(PySparkException, match="chunk index overflow"):
        entrymod._chunk_windows(docs, w=4, stride=8).count()


# The md5 MinHash queries, and the two exact self-join queries
# (allpairs_jaccard, edit_distance_pairs): each returns a lazy frame, so a
# persist inside one outlives the query. sf0.001, so no frame cached by an
# earlier sf0.01 case can absorb a persist.
NO_CACHE_QUERIES = [
    "minhash_lsh_candidates", "er_cross_candidates", "chunk_near_dup",
    "chunk_curation", "transcript_dedup_builtin", "bbit_minhash_jaccard",
    "minhash_md5_signature", "weighted_minhash_signature", "blocking_recall",
    "allpairs_jaccard", "edit_distance_pairs",
]


@pytest.mark.parametrize("name", NO_CACHE_QUERIES)
def test_md5_query_leaves_no_cache(spark, name):
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    entrymod.queries()[name](spark, SF_SMALL).collect()
    assert cm.numCachedEntries() == before
