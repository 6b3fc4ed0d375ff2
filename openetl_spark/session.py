"""SparkSession factory with scale-oriented defaults.

Local mode runs ``local[n]`` with ``n`` the CPUs this process may run
on, and a driver heap of half the host's memory capped at 16g;
``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM`` override them.
The rest of the config block is what we would ship to a 1000-executor
cluster: AQE on (runtime shuffle coalescing + skew-join splitting), UTC
session timezone (oracle comparability), Arrow for any Pandas-UDF
exchange, and a generated-code cache (``spark.sql.codegen.cache.maxEntries``)
that holds every class two passes over the whole catalog compile. At
Spark's default of 100 entries a long-lived session evicts compiled plan
classes and recompiles them with Janino on every pass over the same
queries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_size() -> tuple[str, str]:
    """Task threads and driver heap for local mode.

    The env overrides win; otherwise one thread per CPU in this
    process's affinity mask (more threads than CPUs only contend) and
    ``min(16g, physical memory / 2)`` (a heap cap above the host's
    memory caps nothing).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        mem = f"{min(16 * 1024, phys_mb // 2)}m"
    return cpus, mem


def get_spark(app_name: str = "openetl_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults.

    Every config here is cluster-safe: AQE re-plans shuffle partition
    counts at runtime so the static ``spark.sql.shuffle.partitions``
    is only an upper hint; skew-join splitting handles hot keys in
    large joins without manual salting in the common case.
    """
    # Make this package importable on executor Python workers regardless
    # of the caller's cwd (workers resolve by-reference pickles through
    # their own sys.path, which is built from PYTHONPATH at JVM launch).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Static conf: set before the JVM starts. Two passes of all 243 queries
        # at sf0.001 compile ~3800 classes and evict none here; at 500 or 2000
        # entries the second pass recompiles 3468-4056 of them.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # local mode: shuffle partitions = core count (the 200 default
        # over-parallelizes small data). On a cluster this knob is left
        # to spark-submit/site config — pinning it to the LOCAL cpu
        # count would cap reduce parallelism (AQE only coalesces DOWN
        # from spark.sql.shuffle.partitions, never up).
        cpus, mem = _local_size()
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.driver.memory", mem)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
