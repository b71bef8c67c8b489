"""SparkSession factory.

Defaults follow the 100TB-scale posture scaled to the sandbox:
AQE on (runtime re-planning + skew-join), shuffle partitions ~ cores,
Arrow enabled for the pandas-UDF slow path, UTC session timezone so
results compare exactly against the DuckDB oracle.

File listing stays on the driver. A table read passes the manifest's
file paths to `spark.read.parquet(*paths)`; above
`spark.sql.sources.parallelPartitionDiscovery.threshold` paths (32 by
default) Spark lists them with a distributed job of one task per path.
The paths come from the manifest, so there is nothing to discover, and
the master is always `local[N]`: that job's tasks stat the same local
files on the same cores, plus about 1 s of scheduling for a 192-file
compaction. `LISTING_THRESHOLD` keeps every listing a driver-side stat.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# paths listed on the driver before Spark lists with a job (module docstring)
LISTING_THRESHOLD = 1 << 20


def default_driver_mem() -> str:
    """A quarter of physical memory, at least 1g: a local session's JVM
    shares the host with its Python workers and the OS page cache."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(ram // 4 >> 30, 1)}g"


def get_spark(
    app_name: str = "silk-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this container.

    On a real cluster the same confs apply, minus `master`; AQE +
    skew-join + adaptive coalescing are exactly the knobs that keep the
    MERGE pipeline scaling at 1000 executors (BASELINE.json north_rule).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SILK_SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_THRESHOLD),
        )
        # floor for widening narrow scans ahead of CPU-heavy per-row
        # expression work (dedup shingles, stringmap coordinates);
        # operators check inputFiles() count against it — see
        # operators/dedup_suite._parallel. 0 disables.
        .config("spark.silk.scan.minParallelism", str(cpus))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
