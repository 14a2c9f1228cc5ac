"""SparkSession factory tuned for the wbx workload.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime join re-planning + skew-join splitting for hot domains),
Arrow transfer on (the WARC scans are mapInArrow kernels, the other
byte-level kernels pandas UDFs), shuffle
partitions sized to cores rather than the 200 default, UTC session TZ so
results compare bit-for-bit against the DuckDB oracle.
Generated-code cache sized to 1000 classes (Spark's 100 is below one
archive-query pass), so a warm session reuses its compiled plans.
Driver JVM C2 thresholds raised tenfold, so lukewarm planner code is not
recompiled by C2 for many ops into a session.
Driver heap defaults to half of the host's memory ($WBX_DRIVER_MEMORY
overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot tier-4 (C2) thresholds at ten times their defaults (5000 / 600 /
# 15000); see get_spark
_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
)


def driver_memory() -> str:
    """$WBX_DRIVER_MEMORY, else half of the host's physical memory (MemTotal)
    in MiB as a JVM size: the default driver heap must fit the host and
    leave room for the Python workers."""
    mem = os.environ.get("WBX_DRIVER_MEMORY")
    if mem:
        return mem
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // (2 << 20)}m"


def get_spark(
    app_name: str = "wbx",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N for local[N], "*" for all, or None → $SPARK_GRAFT_CPUS or "*".
    shuffle_partitions: defaults to max(cores, 32) locally; on a real cluster
    this is set per-job to ~2-3x total executor cores.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 16)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # Constraint propagation infers IsNotNull(<full expression>) filters
        # and pushes them through projects, SUBSTITUTING aliases — for the
        # canonicalize_url pipeline that inlines a multi-thousand-node tree
        # into one Filter condition, blowing the JVM's 64 KB method limit so
        # the frontier's hottest stage silently dropped out of whole-stage
        # codegen (Janino "Code grows beyond 64 KB", BENCH_r02 tail). The
        # inferred filter is also semantically worthless here (canon_url is
        # NULL iff url is NULL). Off fleet-wide; guarded by
        # tests/test_plans.py::TestFrontierCodegen.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Static conf: must be set before the JVM's first session. Spark's
        # default of 100 generated classes is a Guava cache of 4 LRU
        # segments of 25, below wbx's per-op working sets (measured on
        # 4.1.2: 90 classes per archive-query pass — scan, summarize,
        # match_pairs, compare_headers, cdx_index — 72 per crawl_round,
        # >=85 per run_crawl round), so every warm repeat evicted and
        # Janino-recompiled 23-85 byte-identical classes and re-JITted
        # them. 1000 leaves headroom for the uneven segment split; guarded
        # by tests/test_plans.py::TestCodegenCacheReuse.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # JVM option, read when the driver JVM launches. Every wbx query
        # re-plans a large Catalyst tree through py4j, and at HotSpot's
        # default tier-4 thresholds the C2 compiles of that lukewarm
        # planner code went on for 10+ warm repeats: 0.5-2.5 s of compile
        # CPU per repeated crawl_round (JDK 17, 4 vCPU), so per-op cost
        # depended on how many ops the session had run. Ten times the
        # invocation thresholds leaves that code in C1; loops still reach
        # C2 through the unchanged back-edge threshold. A caller's own
        # spark.driver.defaultJavaOptions replaces this value.
        .config("spark.driver.defaultJavaOptions", _JIT_OPTIONS)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
