"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same builder flags apply
via spark-submit --conf. AQE + skew-join splitting are on because LSH blocking
produces skewed band buckets by construction (hot templates → hot bands), and
the adaptive planner re-splits the two-sided band joins over them at runtime
(SURVEY.md §4.3); the one-sided band pairing bounds its cells by salting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir(min_free_bytes: int = 8 << 30) -> str:
    """Shuffle/scratch dir (`spark.local.dir`). `DITTO_SPARK_LOCAL_DIR`
    overrides; the default prefers tmpfs (/dev/shm) when it has headroom —
    RAM-disk shuffle avoids this host's slow disk for bench-sized jobs —
    BUT tmpfs pages count against the same physical RAM as the JVM heap
    and survive a killed JVM. A single-box run whose shuffle volume
    approaches system memory MUST point this at real disk (measured: a
    100x stress run accumulated 74 GB of shuffle blocks in /dev/shm,
    leaving the kernel no reclaimable memory and drawing the global OOM
    killer on the JVM — twice, because the orphaned tmpfs blocks of the
    first kill starved the retry). The 8 GB static headroom check below
    cannot predict a job's shuffle volume; it only rules out an
    already-full tmpfs. On a real cluster this knob maps to
    SPARK_LOCAL_DIRS, which is always container-local disk."""
    override = os.environ.get("DITTO_SPARK_LOCAL_DIR")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= min_free_bytes:
                return "/dev/shm/spark-local"
        except OSError:
            pass
    return "/tmp"


def default_driver_memory() -> str:
    """`spark.driver.memory` default: half of physical memory, capped at
    64g (on a 128 GiB host a 16g heap left 32 concurrent local tasks
    GC-bound, blocking stage 2x slower). Half, because local mode's Python
    workers and tmpfs shuffle share the same RAM; a fixed 64g default
    overcommitted small hosts until the kernel killed the JVM."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(64 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "ditto_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the linkage pipeline.

    cores: local parallelism (default: $SPARK_GRAFT_CPUS or all cores).
    shuffle_partitions: default 2x cores locally; a real 1000-executor run
    would set this to ~2-3x total cores (AQE coalesces the excess).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    # Make the package importable in executor Python workers regardless of the
    # driver's cwd. Local mode: workers inherit the JVM env, so prepend to
    # PYTHONPATH before the session starts. On a real cluster the same is done
    # with `spark-submit --py-files ditto_spark.zip` (north_rule).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin wall-clock interpretation: NTZ->instant casts (sessionize's
        # microsecond arithmetic) must not depend on host tz or DST.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pair-scorer UDF memory (reference batches
        # 1024 pairs/batch, matcher.py:120); 2048 keeps batches model-sized.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode runs everything in the driver JVM, so the driver heap
        # is the whole engine's memory (see default_driver_memory); on a
        # real cluster this maps to executor memory. Heap commit is lazy:
        # a caller wanting -Xms=-Xmx pre-touch passes it in extra_conf.
        .config(
            "spark.driver.memory",
            os.environ.get("DITTO_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # Spark's default 10MB: a larger threshold made the planner broadcast
        # the ~1M-row LSH band table in a band self-join, serializing
        # blocking through the driver (measured: local[32] slower than
        # local[8]). Small dims that SHOULD broadcast carry explicit
        # broadcast() hints; every pair-side id lookup
        # (`blocking.pair_sides`, `blocking.entity_lookup`) broadcasts
        # below this threshold and builds a shuffled hash join above it.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Generated-code cache (static: read once, at session start). The
        # default 100 entries is smaller than one dedup pass's working set
        # (a fresh JVM compiles ~112 classes in its first benchmark pass),
        # so the LRU evicted what the next pass needed: every steady pass
        # recompiled 97 classes on the batch_dedup benchmark and 77 on
        # hot_skew. At 1000 both compile 0.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # shuffle/spill files on tmpfs when available: the sandbox's /tmp is
        # disk-backed and shuffle-file IO showed up as ~90% system time,
        # flattening core-count scaling. A real cluster would use local NVMe.
        # Falls back to /tmp when tmpfs has <8 GiB free — correctness must
        # not depend on /dev/shm being free (shuffle spill would ENOSPC).
        .config("spark.local.dir", _local_dir())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
