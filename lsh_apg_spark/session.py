"""SparkSession factory tuned for the dedup pipeline.

Local-mode defaults: local[SPARK_GRAFT_CPUS] (32 if unset) in a single
JVM whose heap is sized from physical RAM; on a real cluster the same
settings apply except master/memory come from spark-submit. AQE is on
so hot LSH buckets that survive our explicit caps are further split at
runtime (skew-join splitting)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# RAM a /dev/shm spill dir may come to hold: tmpfs pages are RAM too
SHM_SPILL_GIB = 16
_UNIT_GIB = {"k": 1 << 20, "m": 1 << 10, "g": 1, "t": 1 / (1 << 10)}


def _mem_total_gib() -> float:
    """Physical RAM (what /proc/meminfo reports as MemTotal)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)


def driver_memory(mem_total_gib: float) -> str:
    """SPARK_GRAFT_DRIVER_MEM, else 40% of RAM clamped to [1, 16] GiB:
    the JVM shares the host with the Python workers and the page cache,
    and a fixed 16g heap is OOM-killed on a 16 GB host."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or \
        f"{max(1, min(16, int(mem_total_gib * 0.4)))}g"


def _gib(size: str) -> float:
    """A JVM size string ("6g", "6144m", "512mb") in GiB; no unit = MiB."""
    s = size.strip().lower().removesuffix("b")
    if s[-1:] in _UNIT_GIB:
        return float(s[:-1]) / _UNIT_GIB[s[-1]]
    return float(s) / _UNIT_GIB["m"]


def get_spark(
    app_name: str = "lsh_apg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions; a real cluster sets this to
        # 2-3x total cores via spark-submit --conf.
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    mem_gib = _mem_total_gib()
    heap = driver_memory(mem_gib)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # capped at 16g: an oversized local-mode heap makes G1 young
        # collections dominate (measured 1.6x end-to-end slowdown at
        # 48g vs 16g on the 400k-doc job — cache-hostile giant young
        # gen). Cluster executors size their own heaps via spark-submit.
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the banding stage hash-aggregates collect_list over millions
        # of mostly-singleton bucket keys; the default fallback
        # threshold (128 in-memory groups) would silently turn that
        # into a sort-based aggregation — the exact sort the hash-agg
        # design avoids
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "4000000")
        # the verify stage joins candidate pairs against wide
        # array-carrying signature rows: sort-merge pays a sort of the
        # wide rows on both sides, shuffled-hash builds a map on the
        # (slim) pair side instead — measurably faster for every join
        # in this pipeline, and AQE still falls back/split-handles skew
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    # shuffle/spill scratch on tmpfs when available: local-mode stand-in
    # for cluster NVMe shuffle volumes, and it keeps benchmark numbers
    # from being dominated by virtualized-disk variance. Gated on RAM
    # (tmpfs spill consumes it): a /dev/shm with <16 GiB free, or a
    # host whose RAM cannot hold the heap plus those 16 GiB, falls back
    # to Spark's default disk scratch instead of risking memory
    # exhaustion through the page cache.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    parent = os.path.dirname(shm) or "/"
    if os.path.isdir(parent):
        try:
            st = os.statvfs(parent)
            free_gib = st.f_bavail * st.f_frsize / (1 << 30)
        except OSError:
            free_gib = 0.0
        if not shm.startswith("/dev/shm") or (
                free_gib >= SHM_SPILL_GIB
                and _gib(heap) + SHM_SPILL_GIB <= mem_gib):
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
