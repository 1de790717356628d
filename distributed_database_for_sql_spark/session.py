"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM);
every setting is chosen to also be the right default on a real cluster:
AQE handles runtime re-planning and skew, shuffle partitions are sized to
cores locally (on a cluster you'd size to total executor cores), Arrow is
on for the Pandas-UDF path, and the session timezone is pinned to UTC so
timestamps agree with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "distributed_database_for_sql_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-ready defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # off by default: a persist()-ed plan otherwise materializes at
        # full spark.sql.shuffle.partitions width (AQE coalescing is
        # disabled inside cached plans), so every read of a pinned
        # merge/fold batch pays shuffle-partition-count tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        # default, pinned: the optimization pins in tests/ count source
        # evaluations with accumulators, which over-count under
        # speculative re-execution (ADVICE r14)
        .config("spark.speculation", "false")
        # Spark's default of 100 entries is smaller than the generated-class
        # working set of repeated queries (~180 classes for eleven TPC-H
        # reads, ~4,000 for the whole registry), so each repeat evicted and
        # recompiled it. Of 500/1000/5000, only 5000 holds the registry's
        # set, without a rise in GC time. Static: fixed at session build.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Bucketed tables (operators/bucketing.py) live in the session
        # catalog; keep the warehouse out of the repo tree.
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark_graft_warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings the driver-supplied session may lack but the oracle needs.

    Safe to call on any session — all are runtime-settable confs:
    - UTC timezone so Spark timestamp values equal DuckDB's UTC-naive
      parquet timestamps (correctness).
    - AQE + coalescing and core-sized shuffle partitions so a default
      session (200 partitions, possibly no AQE) doesn't run the small-SF
      oracle suite with 200 near-empty tasks per shuffle (speed only;
      results are partitioning-independent).

    It cannot size the generated-code cache: ``spark.sql.codegen.cache.
    maxEntries`` is a static SQL conf (``spark.conf.set`` raises
    CANNOT_MODIFY_STATIC_CONFIG), so a session built elsewhere — the
    driver's, through ``__spark_entry__.py`` — keeps whatever it was
    launched with, by default Spark's 100 entries, and recompiles evicted
    classes on repeated queries. Launch such a session with
    ``--conf spark.sql.codegen.cache.maxEntries=<n>``, ``n`` as in
    ``get_spark``, to get the warm-query behaviour.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        # see get_spark: cached plans keep AQE partition coalescing
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true")
    except Exception:
        pass
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cores = spark.sparkContext.defaultParallelism
        if current > 4 * cores:
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 4)))
    except Exception:
        pass
    return spark
