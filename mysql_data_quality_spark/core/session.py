"""SparkSession factory with scale-oriented defaults.

Single place to configure AQE, Arrow, shuffle sizing.  Tests and bench use
this so runs at different core counts (``cores=`` or ``SPARK_GRAFT_CPUS``,
default: the CPUs this process may run on) share one config apart from the
core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql-data-quality-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults chosen for the 100 TB design point and scaled down for local:
    - AQE on (runtime coalescing + skew-join splitting),
    - Arrow on (all pandas-UDF traffic is Arrow-batched),
    - shuffle partitions = ``cores`` (overridable): one task wave per
      stage.  AQE coalesces batch shuffles, but not a stateful streaming
      exchange, which keeps the count its checkpoint was created with,
    - 128 MB target partition bytes at scan.
    """
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism floor (guide §6): several operators are now
        # pure maps with NO exchange (winnowing, token stats, the rule
        # plan), so their parallelism equals the scan split count.  A
        # small parquet input (< openCost x cores bytes) otherwise
        # becomes ONE split = one task pinning one core.  minPartitionNum
        # scales with the session's parallelism (not a local[32]
        # constant) and the lower openCost only affects sub-4MB files;
        # at production scale (files >= maxPartitionBytes) both are
        # no-ops because bytesPerCore dominates.
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.files.minPartitionNum", str(cores * 2))
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache.  The LRU (static, JVM-wide) must hold a
        # pass's working set: a dedup + rule-plan pass generates 120-160
        # classes, over the default 100, so every repeat pass recompiled
        # all of them (~2 s of Janino per pass on 4 cores).  The stage id
        # is kept out of the class name because AQE numbers stages in
        # completion order, which varies between runs of the same plan;
        # with the id in the name, identical stages missed the cache.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # NOTE: 8g measured faster than 24g/48g for the string-heavy filter
        # scan on this box (GC dynamics); see BENCH.md
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GC_OPTS", "-XX:+UseG1GC -XX:G1HeapRegionSize=32m"
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

