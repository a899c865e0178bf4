#!/usr/bin/env python3
"""Benchmark of the ditto_spark linkage pipeline.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 8 --trace 0

Run it from the repository root: it imports `ditto_spark` from the current
directory, and all its scratch files (corpus, stage tables, Spark shuffle
and temp dirs, event log) live under `.perfbench_work/` there and are
removed on exit.

One closed-loop client on `local[nproc]`: the next pipeline run starts only
after the previous one finished. Each workload's corpus is generated from
`--seed` with `synth.generate_transcripts`, written to parquet once outside
the timed region, and every timed run starts with `spark.read.parquet` of
it. `--trace 0` prints the end-to-end metrics; `--trace 1` runs the traced
re-composition in `traced.py` and prints the per-layer metrics. The last
line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}`.
See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import measure
from harness import (
    DRIVER_MEMORY,
    WORKLOADS,
    CheckFailed,
    check_clusters,
    collect_clusters,
    corpus_truth,
    jvm_pid,
    run_plain,
    same_clusters,
    spark_env,
    stop_spark,
    write_corpus,
)


def cpu_now() -> float:
    """CPU seconds used so far by this process and everything it started:
    the driver JVM and its Python workers."""
    return measure.tree_cpu_seconds(os.getpid())


def timed(spark, setup_wall: float, setup_cpu: float, args, work: str) -> dict:
    """The untraced measurement: one warm-up pass finishes set-up, then a
    fixed number of closed-loop flagship passes, each checked.

    Times are CPU seconds of the whole process tree. On a VM whose host is
    shared, the hypervisor takes CPU time from it at changing rates (steal,
    up to 21% on a shared 4-core VM); the kernel leaves stolen time out of
    CPU time. Over ten runs there the pass's wall time spread by 26% of its
    median and its CPU time by 13%. The pass count is fixed per workload
    (not a time window) so every run measures the same passes of the JVM's
    warm-up curve, which is still falling after five passes."""
    corpus = os.path.join(work, "corpus")
    t0 = time.perf_counter()
    n_turns = write_corpus(spark, args.workload, args.seed, corpus)
    print(f"corpus: {n_turns} turns, {time.perf_counter() - t0:.1f} s")

    # Warm-up pass (part of set-up): it pays JIT, code generation and
    # Python worker start; a fresh JVM's first pass takes about twice a
    # steady one. Its clusters are the reference every timed pass must
    # reproduce.
    c0 = cpu_now()
    warm_s, clusters = run_plain(spark, corpus)
    setup_cpu += cpu_now() - c0
    setup_wall += warm_s
    print(f"setup: {setup_wall:.2f} s wall, {setup_cpu:.2f} s CPU "
          f"(warm-up pass {warm_s:.2f} s wall)")
    truth = corpus_truth(spark, corpus)  # after the warm-up: a warm JVM
    print(f"truth: {len(truth)} conversations")
    attempted, failed, reference = 1, 0, None
    try:
        reference = collect_clusters(clusters)
        check_clusters(reference, truth)
    except CheckFailed:
        failed += 1
        traceback.print_exc()
    spark.catalog.clearCache()

    walls, cpus, f1s = [], [], []
    passes = max(1, round(args.seconds / WORKLOADS[args.workload]["pass_s"]))
    with measure.PeakRSS(jvm_pid()) as rss:
        for _ in range(passes):
            attempted += 1
            try:
                c0 = cpu_now()
                secs, clusters = run_plain(spark, corpus)
                cpu = cpu_now() - c0
                pred = collect_clusters(clusters)
                f1s.append(check_clusters(pred, truth))
                same_clusters(pred, reference, "timed pass vs warm-up pass")
                walls.append(secs)
                cpus.append(cpu)
            except Exception:  # a failed pass is counted, the loop goes on
                failed += 1
                traceback.print_exc()
            spark.catalog.clearCache()

    if not walls:
        raise CheckFailed("no successful timed pass")
    wall, cpu = measure.summarize(walls), measure.summarize(cpus)
    for name, s, unit in (("wall_s", wall, "s"), ("cpu_s", cpu, "s CPU")):
        print(f"{name}: median {s['median']:.3f} {unit}  q1 {s['q1']:.3f}  "
              f"q3 {s['q3']:.3f}  n={s['n']}")
    print(f"turns_per_s: {n_turns / wall['median']:.1f} 1/s")
    print(f"failed_frac: {failed}/{attempted} = {failed / attempted:.3f}")
    metrics = {
        "cpu_s": (cpu["median"], "s"),
        "setup_s": (setup_cpu, "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        "pairwise_f1": (measure.summarize(f1s)["median"], "ratio"),
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


# ---------------------------------------------------------------- main


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ditto_spark", "pipeline.py")):
        print(f"no ditto_spark package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    local_dir, conf = spark_env(work)
    cores = os.cpu_count() or 4
    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"driver_memory={DRIVER_MEMORY} local_dir={local_dir} "
          f"loadavg={os.getloadavg()[0]:.2f}")

    from ditto_spark.session import get_spark

    spark = None
    try:
        if args.trace:
            import traced

            evdir = os.path.join(work, "eventlog")
            os.makedirs(evdir)
            conf.update(traced.eventlog_conf(evdir))
            spark = get_spark("perfbench", cores=cores, extra_conf=conf)
            result = traced.run(spark, args, work, evdir)
            spark = None  # traced.run stops the session to flush the log
        else:
            t0, c0 = time.perf_counter(), cpu_now()
            spark = get_spark("perfbench", cores=cores, extra_conf=conf)
            result = timed(spark, time.perf_counter() - t0, cpu_now() - c0,
                           args, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"loadavg_end={os.getloadavg()[0]:.2f}")
    result["metrics"] = {
        k: {"value": float(v), "unit": u} for k, (v, u) in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
