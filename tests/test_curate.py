"""Composed curation funnel (operators/curate.py): planted-disposition
fixture, funnel arithmetic, partition invariance, bench-less mode."""

import pyspark.sql.functions as F
import pytest

from ditto_spark.operators.curate import (
    CurationConfig,
    curate_documents,
    curation_funnel,
)

# Vocabularies are disjoint across groups so no accidental shingle overlap;
# every "good" doc has 30+ words incl. the stopword 'the' (min_stop_hits=1).
_A = ("the alpha beaver canyon delta ember falcon garnet harbor indigo "
      "jasper kelp lumen meadow nectar onyx prairie quartz russet saffron "
      "timber umber velvet willow xenon yonder zephyr anchor bramble cedar")
# near-dup of _A: last 4 words differ → 26-token shared prefix, 24 shared
# 3-gram shingles of 28 each → J = 24/32 = 0.75 ≥ 0.5
_A_ND = " ".join(_A.split()[:26] + ["dune", "echo", "fjord", "grove"])
_B = ("the basil clover dahlia elm fennel ginger hazel iris juniper "
      "laurel mint nutmeg oak pepper rosemary sage thyme urtica vanilla "
      "wasabi yarrow zinnia acorn birch chestnut dogwood elder fig gum")
_C = ("the comet draco eagle fern gale halo ion jade kite lark moth "
      "newt orca pike quail rook swan teal urchin vole wren yak zebu "
      "asp boar crane dove eel")


@pytest.fixture(scope="module")
def fixture_docs(spark):
    rows = [
        (0, _A),                      # kept (cluster representative)
        (2, _A),                      # exact copy of 0 → exact
        (4, _A_ND),                   # near-dup of 0 → near_dup
        (6, "too short text here now"),  # < 20 words → quality
        (8, _B),                      # contaminated (bench doc 1 quotes it)
        (10, _C),                     # kept
    ]
    # bench doc 1 embeds 10 consecutive words of _B → 8 shared shingles ≥ 2
    bench_rows = [
        (1, "unrelated words only " + " ".join(_B.split()[5:15])),
        (3, "totally disjoint benchmark prompt nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    return docs, bench


def _dispositions(annotated):
    return {r["doc_id"]: r["dropped_at"] for r in annotated.collect()}


def test_planted_dispositions(fixture_docs):
    docs, bench = fixture_docs
    got = _dispositions(curate_documents(docs, bench=bench))
    assert got == {
        0: "kept",
        2: "exact",
        4: "near_dup",
        6: "quality",
        8: "contaminated",
        10: "kept",
    }


def test_one_row_per_input_doc(fixture_docs):
    docs, bench = fixture_docs
    ann = curate_documents(docs, bench=bench)
    assert ann.count() == docs.count()
    assert ann.select("doc_id").distinct().count() == docs.count()


def test_funnel_arithmetic(fixture_docs):
    docs, bench = fixture_docs
    ann = curate_documents(docs, bench=bench)
    funnel = {r["stage"]: (r["dropped"], r["remaining"])
              for r in curation_funnel(ann).collect()}
    assert funnel == {
        "quality": (1, 5),
        "exact": (1, 4),
        "near_dup": (1, 3),
        "contaminated": (1, 2),
    }


def test_without_bench_no_contaminated_stage(fixture_docs):
    docs, _ = fixture_docs
    got = _dispositions(curate_documents(docs))
    assert got[8] == "kept"  # no benchmark → nothing to contaminate
    assert "contaminated" not in set(got.values())
    # other stages unchanged
    assert got[2] == "exact" and got[4] == "near_dup" and got[6] == "quality"


def test_partition_invariance(fixture_docs):
    docs, bench = fixture_docs
    a = _dispositions(curate_documents(docs, bench=bench))
    b = _dispositions(
        curate_documents(docs.repartition(7), bench=bench.repartition(3))
    )
    assert a == b


def test_kept_texts_are_distinct_and_quality(fixture_docs):
    docs, bench = fixture_docs
    ann = curate_documents(docs, bench=bench)
    kept = docs.join(
        ann.where(F.col("dropped_at") == "kept").select("doc_id"), "doc_id"
    )
    texts = [r["text"] for r in kept.collect()]
    assert len(texts) == len(set(texts))
    assert all(len(t.split()) >= 20 for t in texts)


def test_jaccard_threshold_knob(fixture_docs):
    # raising τ above 0.75 splits the {0, 4} near-dup cluster
    docs, bench = fixture_docs
    got = _dispositions(
        curate_documents(docs, bench=bench, cfg=CurationConfig(jaccard_threshold=0.8))
    )
    assert got[4] == "kept"
    assert got[2] == "exact"  # exact dedup unaffected by τ


def test_curate_leaves_no_cache(spark, fixture_docs):
    """Running the funnel to completion leaves no cache entry behind. The
    filter gives the run plans of its own: a persist of a plan that an
    earlier test already cached adds no entry, and would hide a leak."""
    docs, bench = fixture_docs
    docs = docs.where(F.col("doc_id") >= 0)
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    assert curate_documents(docs, bench=bench).count() == docs.count()
    assert cm.numCachedEntries() == before


_BOILER20 = (
    "the deploy cluster error retry timeout schema parquet shuffle "
    "partition broadcast join filter window stream batch token model "
    "index cache"
)


def _uniq20(tag):
    return " ".join(f"{tag}word{i}" for i in range(20))


def test_chunk_near_dup_pairs_production(spark):
    """xxhash production path: shared + one-token-mutated 20-token windows
    across hosts surface as chunk pairs; string keys parse back and never
    alias (>100-window doc included)."""
    from ditto_spark.operators.textprep import chunk_near_dup_pairs

    mutated = _BOILER20.replace("timeout", "deadline")
    rows = [
        (0, _BOILER20 + " " + _uniq20("a")),
        (1, _BOILER20 + " " + _uniq20("b")),
        (2, mutated + " " + _uniq20("c")),
        # 120-window doc: composite-int ids would have aliased here
        (3, " ".join(f"dtok{i} filler{i % 7}" for i in range(120 * 10))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_near_dup_pairs(docs, chunk_tokens=20, threshold=0.2).toPandas()
    pair_docs = set(map(tuple, out[["left_doc", "right_doc"]].values))
    # exact boilerplate copies must pair; est 1.0 on the (0,1) window pair
    exact = out[(out.left_doc == "0") & (out.right_doc == "1")]
    assert len(exact) == 1 and exact.iloc[0].est_jaccard == 1.0
    assert exact.iloc[0].left_chunk == 0 and exact.iloc[0].right_chunk == 0
    # the mutated window pairs with at least one exact host below est 1.0
    fuzzy = out[(out.right_doc == "2") | (out.left_doc == "2")]
    assert len(fuzzy) >= 1 and (fuzzy.est_jaccard < 1.0).all()
    # no pair involves doc 3, and ids parse back cleanly
    assert not any("3" in p for p in pair_docs)
    assert (out.left_chunk >= 0).all() and (out.right_chunk >= 0).all()


def test_curate_chunk_boiler_stage(spark):
    """Funnel with chunk_tokens set: boilerplate-dominated docs (half their
    windows shared cross-doc) drop at 'chunk_boiler'; clean docs keep."""
    from ditto_spark.operators.curate import (
        CHUNK_STAGES,
        CurationConfig,
        curate_documents,
        curation_funnel,
    )

    rows = [
        (0, _BOILER20 + " " + _uniq20("a")),
        (1, _BOILER20 + " " + _uniq20("b")),
        (2, _BOILER20 + " " + _uniq20("c")),
        (3, "the " + _uniq20("d") + " " + _uniq20("dd")),
        (4, "the " + _uniq20("e") + " " + _uniq20("ee")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(
        min_words=20, min_stop_hits=1, chunk_tokens=20, chunk_dup_max_frac=0.4
    )
    out = curate_documents(docs, bench=None, cfg=cfg)
    got = {r["doc_id"]: r["dropped_at"] for r in out.collect()}
    assert got == {
        0: "chunk_boiler", 1: "chunk_boiler", 2: "chunk_boiler",
        3: "kept", 4: "kept",
    }
    fun = curation_funnel(out, stages=CHUNK_STAGES).collect()
    by_stage = {r["stage"]: (r["dropped"], r["remaining"]) for r in fun}
    assert by_stage["chunk_boiler"] == (3, 2)
    assert by_stage["near_dup"] == (0, 2)
    # the default spine has no chunk_boiler stage: refuse rather than
    # silently drop its rows from the funnel
    with pytest.raises(ValueError, match="chunk_boiler"):
        curation_funnel(out)
