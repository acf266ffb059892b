"""SparkSession factory.

Without ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` the session sizes
itself to the host: ``local[os.cpu_count()]`` and a driver heap of half
the physical memory, capped at 16g.  Every other knob is the one you
would set on a 1000-executor cluster too: AQE on (runtime
re-planning + skew-join handling), broadcast threshold high enough that
dimension tables (region/nation/loci/schemes) always broadcast, UTC
session timezone so timestamp semantics are engine-independent, and
Arrow enabled for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "bigsdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 32)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splits.
        # At 100 TB this is what keeps one hot key from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE coalesces partitions DOWN but never splits them UP: with a
        # fixed 32-partition floor, a 1.6e7-row gram explode spills (the
        # round-6 ladder measured 4.9-7.7x per 4x growth there).  On a
        # cluster you size the PRE-coalesce count for the biggest stage
        # and let AQE shrink the small ones; SPARK_GRAFT_INITIAL_PARTITIONS
        # exposes exactly that knob (absent = Spark default = the floor).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS", str(shuffle_partitions)
            ),
        )
        # Dimension tables (region, nation, loci, schemes, user lists) are
        # tiny; always broadcast them rather than shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp semantics regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # sample-∝-k codebook training collects ~0.5 GB of sample rows
        # (r8); the 1g default aborted the 1.6e7 train mid-ladder
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
