"""SparkSession factory with the engine's parity + scale defaults.

The reference hand-tunes concurrency (20 fetch / 20 write semaphores,
pool 20/10, channel cap 1000 — /root/reference/extractor.go:250-268).
On Spark those become declarative knobs: shuffle partitions, AQE,
maxRecordsPerFile. This module centralizes them so every entry point
(tests, bench, driver) runs the same tuned session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per output file — parity with the reference's 100k-row sink
# batches (/root/reference/extractor.go:119).
DEFAULT_MAX_RECORDS_PER_FILE = 100_000

# Default key stride for partitioned range scans
# (/root/reference/extractor.go:270).
DEFAULT_RANGE_STRIDE = 10_000

# Entries in Spark's JVM-wide generated-class cache (static conf, read
# once when the first session starts). The Spark default of 100 is far
# below this engine's working set. Measured on a 4-vCPU host, one
# session, sf0.01: a sweep of all 273 registry queries compiled 2,971
# distinct classes with this cache and 4,205 under the default; then
# re-running the first 40 queries compiled 8 classes here against 655
# under the default. The 14-query perfbench operator_mix alone needs
# ~320 classes, so under the default every warm pass recompiled 309
# of them; here it compiles none. Metaspace after the sweep: 240 MB
# here, 219 MB under the default.
CODEGEN_CACHE_MAX_ENTRIES = 4096

# Driver heap ceiling on large hosts; smaller hosts get half their RAM.
DRIVER_MEMORY_CAP_MB = 32 * 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else ``min(32g, physical RAM / 2)``.

    A fixed 32g heap on a 15 GiB host lets the driver JVM grow past
    the machine's memory before it collects, and the kernel OOM-kills
    it mid-suite."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(DRIVER_MEMORY_CAP_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "golang_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode for CI; the same config block is what we'd ship to a
    real cluster (AQE + skew-join handle runtime re-planning there).
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces at runtime
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-first coalescing (r17, guide §2.2/§9): with the default
        # parallelismFirst=true AQE ignores the advisory size and
        # merely pads partitions out to the parallelism, so every
        # reduce stage schedules ~cores tasks no matter how little
        # data crossed the exchange. parallelismFirst=false makes the
        # runtime derive the post-shuffle partition count from the
        # actual shuffle bytes (advisory 256 MB per partition — the
        # guide's batch-ETL baseline), which is the scale-adaptive
        # behavior: kilobyte exchanges at test SFs collapse to one
        # task, and at 100 TB the same setting yields the 100 MB-1 GB
        # partitions §2.2 targets. Map-side parallelism (scans, heavy
        # per-row compute) is untouched — only post-exchange merge
        # granularity changes. A/B at sf0.1 (interleaved in one
        # session): 12-query mix 7.07s -> 6.51s, no per-query
        # regression beyond noise.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ -> shuffled-hash conversion: left at the Spark
        # default (0 = off). r17 set 64 MB claiming a runtime
        # conversion win, but DynamicJoinSelection.preferShuffledHash-
        # Join requires advisoryPartitionSizeInBytes <= this threshold
        # — with the 256 MB advisory above, 64 MB could NEVER fire
        # (verified against the Spark 4.1.2 bytecode; ADVICE r17).
        # r18 then A/B-ed the only value that CAN fire (256 MB = the
        # advisory) interleaved in one session and it was a consistent
        # ~10% LOSS on the join-heavy dedup paths (dedup_keep_longest
        # 2.61/2.14s vs 2.44/1.92s; dedup_fuzzy_keep_one 1.94/1.77s vs
        # 1.94/1.55s) with no measured winner elsewhere — the sorts it
        # skips are tiny at these key cardinalities while the hint
        # suppresses later broadcast re-planning. Measured and
        # rejected; see OPTIMIZATION_r18.md.
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas-UDF / toPandas boundary
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # fixture events.ts is parquet TIMESTAMP(NANOS); Spark lacks a
        # nanos type — read as long, normalized in sources.catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.maxRecordsPerFile", str(DEFAULT_MAX_RECORDS_PER_FILE))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
