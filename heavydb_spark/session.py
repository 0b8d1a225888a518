"""SparkSession construction with scale-aware defaults.

The reference sizes execution by fragments (32M rows/fragment,
Fragmenter/FragmentDefaultValues.h:19) and reduces per-device partial
results (Execute.cpp:1696). In Spark the same roles are played by input
splits (`spark.sql.files.maxPartitionBytes`), shuffle partitions, and
partial/final aggregation — all configured here once.

Design rule: these settings must make sense on a 1000-executor cluster
reading 100 TB, not just local[32]. AQE handles runtime re-planning
(partition coalescing, skew-join splitting, dynamic broadcast), so we
set a generous static shuffle partition count and let AQE shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# cgroup v2, then v1: the memory limit of the container we run in
_CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",
                         "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _default_driver_memory() -> str:
    """16g, or half of the memory we may use on a smaller host: a full
    heap next to the Python workers must not exhaust the machine. That
    memory is physical RAM, capped by a container's cgroup limit."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                usable = min(usable, int(f.read()))  # "max" raises
            break
        except (OSError, ValueError):
            continue
    return f"{min(16 * 1024, usable // 2**21)}m"


# Applied at build time (before JVM start) when we own the session.
_BUILD_CONF = {
    # AQE: runtime re-planning — coalesce small shuffle partitions, convert
    # sort-merge→broadcast when runtime stats allow, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic, tz-independent semantics (oracle = DuckDB, tz-naive).
    "spark.sql.session.timeZone": "UTC",
    # Wraparound integer arithmetic (hash pipelines rely on it); the
    # reference likewise runs non-ANSI int64 compute (SURVEY.md §7.3).
    "spark.sql.ansi.enabled": "false",
    # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS) which
    # Spark has no native type for; read as long, convert in catalog.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas-UDF path (the slow-path escape hatch).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                            or _default_driver_memory()),
}

# Runtime-settable conf (safe to apply to a session we did not build,
# e.g. the driver's session handed to __spark_entry__.queries()).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.ansi.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def spread_partition_count(spark: SparkSession) -> int:
    """Partition count for CPU-spreading repartitions (dedup._spread,
    text._doc_spread, queries.util.range_spread): the larger of core
    count and the configured shuffle partitions.

    Why an EXPLICIT count at all (r14, measured): these exchanges feed
    narrow stages whose per-byte CPU is enormous relative to their
    input bytes (delete-1 variant explodes, shingle grams, regex
    feature maps).  A count-less repartition lets AQE coalesce by
    BYTES — on the sf0.1 fixture it collapsed join_fuzzy_names'
    153 KB variant-explode exchange to ONE partition (stage metrics:
    1 task, 4.6-6.5 s serial vs 32 tasks at ~1.3 s wall), tripling
    the head (2 -> 10 s).  Byte-size heuristics cannot see downstream
    CPU, so these exchanges must stay opted out of coalescing.

    Why max(cores, shuffle.partitions) and not cores alone: pinning to
    defaultParallelism makes partition SIZE scale with data/cores — a
    spill hazard at 100 TB.  Production sizes shuffle.partitions for
    the data (guide §2.2), and this count follows it; locally both are
    the core count, so the plan is unchanged from the pinned form.
    """
    cores = spark.sparkContext.defaultParallelism
    try:
        return max(
            cores, int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    except ValueError:  # a non-numeric value, e.g. some vendors' "auto"
        return cores


def get_spark(
    app_name: str = "heavydb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_BUILD_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Used when the session is owned by someone else (the verify driver);
    keeps query semantics deterministic without rebuilding the JVM.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some deployments; queries still run
    return spark
