#!/usr/bin/env python
"""Benchmark harness — times the headline pipelines at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and
prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Robustness (round-2 fix — the round-1 driver run landed 4.2x above the
committed number because this VM shows sporadic ~10x stalls — root-caused
in round 3 to lazy heap commit against a host that zeroes pages at
~130-300 MB/s): one untimed full-size warm-up pass per JVM pays the heap
commit + JIT (wall time reported in `warmup_run_sec`), then EVERY timed
query — flagship and per-query alike — runs $SPARK_GRAFT_BENCH_REPEAT
(default 3) timed passes with the cache cleared between runs (cold data,
warm JIT — steady-state cost); the MINIMUM is the recorded number and
every pass is reported (`flagship_runs`, `query_runs`).
Per-stage wall times for the flagship (serialize / blocking / score /
connected components) ride along in `stages`, and the host's 1-minute load
average is sampled before and after so a contended run is visible in the
JSON itself.

Round-4 hardening: every timed pass is probe-gated at
SPARK_GRAFT_PROBE_FLOOR effective cores (default 12 of 16, ~0.75× the
probe's process count) with a shared bounded retry budget
(SPARK_GRAFT_BENCH_MAX_EXTRA, default 8, 20 s waits), and every pass also
records a probe-normalized time (wall × min(probe/16, 1)) in
`query_runs_normalized` / `flagship_runs_normalized` — so a window that
exhausts the retry budget still produces a self-describing sample the
reader can discount.

Each timed query is forced end-to-end with a cache+count (materializes
every column).

Extra keys (pairs/sec throughput, core count) feed the scaling analysis in
BENCH/BASELINE.md: running this script at two parallelism levels on
identical input evidences the north rule's N→4N scaling-efficiency
criterion in a single-box sandbox (see bench_scaling.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    """Fully materialize a DataFrame; return row count."""
    df = df.cache()
    n = df.count()
    df.unpersist()
    return n


def _loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def _burn(_):
    x = 0
    for i in range(10_000_000):
        x += i
    return x


def _hw_probe(n: int = 16) -> float:
    """Effective cores right now (n-proc pure-CPU burn vs serial): a window-
    quality stamp for this JVM's samples — the VM shows multi-minute
    degraded periods, and a sample taken inside one is not a throughput
    statement about the code."""
    import multiprocessing as mp

    t0 = time.monotonic()
    _burn(0)
    serial = time.monotonic() - t0
    with mp.Pool(n) as p:
        t0 = time.monotonic()
        p.map(_burn, range(n))
        wall = time.monotonic() - t0
    return round(n * serial / wall, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Default 3 timed flagship passes: measured 2026-08-19, the host's lazy
    # heap-commit decay can span the warmup AND the first timed pass
    # ([78.5, 42.4, 13.5] s after an 87 s warmup, same commit) — with only
    # 2 passes the min can land 3-6x above steady state.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from ditto_spark.session import get_spark
    from ditto_spark.synth import generate_transcripts
    from ditto_spark.pipeline import dedup_transcripts, PipelineConfig
    import __spark_entry__ as E

    load_start = _loadavg()
    spark = get_spark("ditto_spark_bench", cores=cores)
    # Warm-up: a miniature end-to-end pipeline compiles the (large) codegen
    # for the 64-permutation MinHash projection, spawns the Python UDF
    # workers, and JITs the hot paths — so the timed region measures
    # steady-state throughput, not one-time driver costs.
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    _warm = dedup_transcripts(
        generate_transcripts(spark, n_base=60, seed=7), PipelineConfig()
    )
    _warm.clusters.count()
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    query_runs: dict[str, list[float]] = {}
    query_runs_normalized: dict[str, list[float]] = {}
    query_probes: dict[str, list[float]] = {}
    discarded_windows: list[dict] = []

    # Round-4 hardening (round-3 verdict: driver flagship 54 s vs 11.5 s
    # committed under loadavg 17-28 with probes 8.7-12.4 accepted by an
    # 8.0 floor): the floor rises to 12 (~0.75× the probe's 16 procs),
    # EVERY timed pass — not just the flagship — is probe-gated with a
    # shared bounded retry budget, and every pass also records a
    # probe-NORMALIZED time (wall × min(probe/16, 1)) so a contended
    # window that survives the gate is self-describing in the JSON: the
    # normalized figure is the linear-scaling estimate of what the same
    # pass costs on an idle box, never below the wall time's share.
    probe_floor_conf = float(os.environ.get("SPARK_GRAFT_PROBE_FLOOR", "12"))
    max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "8"))
    retry_budget = {"left": max_extra}
    PROBE_REF = 16.0
    # Self-calibrating floor (measured 2026-08-21: this VM's probe reads
    # ~9-11 effective cores even at loadavg 1-3 — host steal — so a fixed
    # floor of 12 exhausts the whole retry budget on windows that are as
    # good as the box ever gets, then has nothing left for a real stall).
    # Three probes at JVM-idle stamp the box's currently-achievable
    # ceiling; the working floor is min(configured, 0.8 × best-of-3),
    # both recorded in the JSON.
    probe_baseline = max(_hw_probe() for _ in range(3))
    probe_floor = min(probe_floor_conf, round(0.8 * probe_baseline, 1))

    def clean_window(name: str) -> float:
        """Probe until the window clears the floor or the shared retry
        budget runs dry; log every discarded window machine-readably.
        Always returns a probe so the bench terminates with a number.
        The baseline RATCHETS UP: a bench launched inside a contended
        window calibrates a low floor, and without the ratchet that low
        floor would silently disable the gate for the whole run — any
        later probe above the startup baseline raises baseline and floor
        back toward the configured value."""
        nonlocal probe_baseline, probe_floor
        while True:
            p = _hw_probe()
            if p > probe_baseline:
                probe_baseline = p
                probe_floor = min(probe_floor_conf, round(0.8 * p, 1))
            if p >= probe_floor or retry_budget["left"] <= 0:
                return p
            retry_budget["left"] -= 1
            discarded_windows.append(
                {
                    "query": name,
                    "probe_effective_cores": p,
                    "probe_floor": probe_floor,
                    "loadavg": _loadavg(),
                    "action": "window skipped before run, retrying",
                    "retries_left": retry_budget["left"],
                }
            )
            time.sleep(20)

    def _norm(wall: float, probe: float) -> float:
        return round(wall * min(probe / PROBE_REF, 1.0), 3)

    def timed(name: str, build) -> None:
        # min-of-`repeat` passes (round-3 hardening): a single pass taken
        # inside a degraded host window lands the stall in the recorded
        # number (measured: minhash_lsh_candidates 33.1 s single-pass under
        # heap-commit decay vs 6.8 s steady state on the same commit). The
        # cache is cleared before every pass so query-internal persists
        # don't turn pass 2 into a cache read; _force's own cache is
        # unpersisted per pass, so each pass recomputes end-to-end.
        #
        # `build` is a THUNK re-invoked inside every timed region: queries
        # whose construction executes eagerly (the connected-components
        # loop runs its rounds + localCheckpoints at build time) must pay
        # that cost inside the timer — a prebuilt DataFrame would time a
        # re-scan of the checkpointed CC output (measured: 0.34 s
        # doc_dedup_clusters vs ~3 s honest). It also drops the previous
        # pass's plan from the SQL cache manager, so two queries sharing a
        # subplan (doc_dedup / ngram_jaccard both build the rare-shingle
        # pair table) can't silently time each other's persisted work —
        # the pre-hardening record's ngram_jaccard 2.1 s was exactly that
        # cache read (honest cold cost ~14 s under the same window).
        runs: list[float] = []
        norms: list[float] = []
        probes: list[float] = []
        for _ in range(repeat):
            probe = clean_window(name)
            spark.catalog.clearCache()
            t0 = time.monotonic()
            counts[name] = _force(build())
            wall = round(time.monotonic() - t0, 3)
            runs.append(wall)
            probes.append(probe)
            norms.append(_norm(wall, probe))
        query_runs[name] = runs
        query_runs_normalized[name] = norms
        query_probes[name] = probes
        timings[name] = min(runs)

    # --- flagship: full transcript linkage (serialize → LSH → Arrow-UDF
    # scorer → threshold → connected components) on the deterministic
    # synthetic corpus, sized by sf (sf0.1 → 20k base conversations,
    # ~57k entities after planted duplicates, ~330k turns).
    n_base = int(os.environ.get("SPARK_GRAFT_BENCH_NBASE", "0")) or max(
        int(200_000 * sf), 200
    )
    transcripts = generate_transcripts(
        spark, n_base=n_base, seed=42, hot_template_frac=0.02
    ).cache()
    n_turns = transcripts.count()  # materialize synth outside the timed region

    # flagship timed as a whole (the connected-components loop executes
    # eagerly during construction), `repeat` times, min kept. The cache is
    # cleared between runs (the pipeline's internal persists would
    # otherwise make run 2 a cache read); transcripts are re-cached
    # OUTSIDE the timed region.
    # Probe-gated sampling: the gate itself (floor, shared retry budget,
    # machine-readable discards) is defined above and applies to EVERY
    # timed pass; the flagship additionally records a POST-run probe, so
    # each sample carries the window quality on both sides of the run.
    # One untimed FULL-SIZE warm-up pass per JVM (round-3 fix): the host
    # zeroes fresh pages at only ~130-300 MB/s, so the first full-size job
    # in a JVM pays tens of GB of lazy heap commit (measured: 181-265 s
    # first run vs 38 s identical second run). Pre-touching at startup
    # costs ~8.5 min for 64 GB on this host, so instead
    # the harness pays the commit once here, overlapped with real work,
    # and the timed samples below measure steady state — the quantity that
    # scales with cores and the standard JVM-benchmark discipline. The
    # warm-up wall time is reported (not counted) so the one-time cost
    # stays visible.
    warmup_sec = -1.0
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        transcripts.cache()
        transcripts.count()
        t0 = time.monotonic()
        _force(dedup_transcripts(transcripts, PipelineConfig()).clusters)
        warmup_sec = round(time.monotonic() - t0, 3)
        spark.catalog.clearCache()
    flagship_runs: list[float] = []
    flagship_runs_normalized: list[float] = []
    flagship_probes: list[float] = []
    flagship_probes_post: list[float] = []
    flagship_loadavg: list[float] = []
    while len(flagship_runs) < repeat:
        probe = clean_window("transcript_full_dedup")
        spark.catalog.clearCache()
        transcripts.cache()
        transcripts.count()
        flagship_probes.append(probe)
        flagship_loadavg.append(_loadavg())
        t0 = time.monotonic()
        res = dedup_transcripts(transcripts, PipelineConfig())
        counts["transcript_full_dedup"] = _force(res.clusters)
        wall = round(time.monotonic() - t0, 3)
        probe_post = _hw_probe()
        flagship_probes_post.append(probe_post)
        flagship_runs.append(wall)
        flagship_runs_normalized.append(
            _norm(wall, (probe + probe_post) / 2.0)
        )
    timings["transcript_full_dedup"] = min(flagship_runs)

    # per-stage breakdown (one staged pass, cold data / warm JIT): stage
    # boundaries materialized so each wall time is attributable. The staged
    # total ≈ the flagship (the same pipeline.stage_* functions; extra
    # persists at boundaries).
    from ditto_spark.operators.serialize import serialize_conversations
    from ditto_spark.pipeline import (
        stage_candidates,
        stage_clusters,
        stage_matches,
        stage_pair_text,
        stage_scored,
    )

    spark.catalog.clearCache()
    transcripts.cache()
    transcripts.count()
    stages: dict[str, float] = {}
    cfg = PipelineConfig()

    t0 = time.monotonic()
    ser = serialize_conversations(transcripts).persist()
    ser.count()
    stages["serialize"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    cand = stage_candidates(ser, cfg).persist()
    n_cand_full = cand.count()
    stages["blocking"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    scored = stage_scored(stage_pair_text(cand, ser, cfg), cfg).persist()
    scored.count()
    stages["score"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    stage_clusters(ser, stage_matches(scored, cfg)).count()
    stages["threshold_cc"] = round(time.monotonic() - t0, 3)
    counts["transcript_blocking"] = n_cand_full

    # transcript_blocking timed min-of-`repeat` like every other query
    # (the single staged pass above remains the per-stage ATTRIBUTION
    # record, but a single sample under a degraded window lands the stall
    # in the recorded number — measured 87.4 s staged vs 6.5 s steady on
    # the same commit). The serialize input is re-persisted OUTSIDE each
    # timed region so the sample measures blocking alone.
    blocking_runs: list[float] = []
    blocking_norms: list[float] = []
    blocking_probes: list[float] = []
    for _ in range(repeat):
        probe = clean_window("transcript_blocking")
        spark.catalog.clearCache()
        transcripts.cache()
        transcripts.count()
        ser_b = serialize_conversations(transcripts).persist()
        ser_b.count()
        t0 = time.monotonic()
        cand_b = stage_candidates(ser_b, cfg)
        cand_b.persist()
        cand_b.count()
        wall = round(time.monotonic() - t0, 3)
        blocking_runs.append(wall)
        blocking_probes.append(probe)
        blocking_norms.append(_norm(wall, probe))
        cand_b.unpersist()
        ser_b.unpersist()
    query_runs["transcript_blocking"] = blocking_runs
    query_runs_normalized["transcript_blocking"] = blocking_norms
    query_probes["transcript_blocking"] = blocking_probes
    timings["transcript_blocking"] = min(blocking_runs)

    # --- document near-dup pipeline + LSH candidates on driver testdata
    # (skipped for scaling runs, which only need the flagship)
    if not os.environ.get("SPARK_GRAFT_BENCH_FLAGSHIP_ONLY"):
        timed("doc_dedup_clusters", lambda: E.q_doc_dedup_clusters(spark, sf_dir))
        timed("minhash_lsh_candidates", lambda: E.q_minhash_lsh_candidates(spark, sf_dir))
        timed("serialize_events", lambda: E.q_serialize_events(spark, sf_dir))
        timed("embedding_cosine_topk", lambda: E.q_embedding_cosine_topk(spark, sf_dir))
        timed("ngram_jaccard_pairs", lambda: E.q_ngram_jaccard_pairs(spark, sf_dir))
        timed("allpairs_jaccard", lambda: E.q_allpairs_jaccard(spark, sf_dir))
        timed("fs_match_scores", lambda: E.q_fs_match_scores(spark, sf_dir))
        # round-5: the promoted chunk-level operators, PRODUCTION paths
        # (xxhash + salted cells), timed over the raw documents table
        from ditto_spark.operators.textprep import (
            chunk_exact_dedup,
            chunk_near_dup_pairs,
        )

        docs_b = spark.read.parquet(f"{sf_dir}/documents.parquet")
        timed(
            "chunk_exact_dedup",
            lambda: chunk_exact_dedup(docs_b, chunk_tokens=20),
        )
        timed(
            "chunk_near_dup_pairs",
            lambda: chunk_near_dup_pairs(docs_b, chunk_tokens=20),
        )

    transcripts.unpersist()
    total = round(sum(timings.values()), 3)
    # headline throughput: candidate pairs pushed through the full
    # serialize→block→score→cluster job
    full_t = timings["transcript_full_dedup"]
    pairs_per_sec = round(n_cand_full / full_t, 1) if full_t > 0 else 0.0

    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cores": cores,
                "rows": counts,
                "query_runs": query_runs,
                "query_runs_normalized": query_runs_normalized,
                "query_probes": query_probes,
                "stages": stages,
                "flagship_runs": flagship_runs,
                "flagship_runs_normalized": flagship_runs_normalized,
                "warmup_run_sec": warmup_sec,
                "flagship_probes": flagship_probes,
                "flagship_probes_post": flagship_probes_post,
                "flagship_loadavg": flagship_loadavg,
                "discarded_windows": discarded_windows,
                "probe_floor": probe_floor,
                "probe_floor_configured": probe_floor_conf,
                "probe_baseline": probe_baseline,
                "probe_ref_cores": PROBE_REF,
                "flagship_min_normalized": (
                    min(flagship_runs_normalized)
                    if flagship_runs_normalized else -1.0
                ),
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "hw_probe_effective_cores_16": _hw_probe(),
                "n_turns": n_turns,
                "n_base_conversations": n_base,
                "candidate_pairs": n_cand_full,
                "candidate_pairs_per_sec": pairs_per_sec,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
