"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM); production target is a large
multi-executor cluster, so every knob here is chosen to also make sense at
scale: AQE on (runtime coalesce + skew-join handling), shuffle partitions
sized to the parallelism at hand, Arrow enabled for the pandas-UDF paths,
and the session timezone pinned to UTC so timestamp semantics are
reproducible against external oracles (the reference keeps
``Asia/Ho_Chi_Minh`` only for date-string partition keys — see
``functions.scalars.date_partition_key``; cite reference utils/common.py:142-144).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "steam-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Parameters default from env: ``SPARK_GRAFT_CPUS`` controls local
    parallelism (default 32 in the test environment).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # these matter more than any static setting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Match shuffle parallelism to available cores locally; AQE coalesces
        # down when partitions are tiny, so erring high is safe on a cluster.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics vs external oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / mapInPandas / toPandas fast paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debugging decorates EVERY DataFrame API
        # call with call-site capture: an UNCACHED `conf.get` py4j round
        # trip + a JVM origin set/clear pair + a Python stack walk per
        # call — measured ~3 ms per wrapped call, ~half the py4j traffic
        # of plan construction (round 12, guide §7.3 driver-overhead
        # class: corpus_store_suite's build alone dropped 4.95 s → 2.34 s
        # with it off). The only loss is the call-site line in SQL error
        # messages; the cost is per API CALL, not per row, so the win is
        # scale-independent (a 100 TB driver program builds the same
        # plans).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local mode: the driver is the only JVM; give it headroom but leave
        # space for the OS and Python workers (container has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dims (region/nation/supplier-sized tables)
        # should always broadcast; 64 MB is safe with 48g driver.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner choose shuffled-hash join when its size
        # conditions fit (guide §3.1/§9): SHJ skips both sort passes of a
        # sort-merge join and was measured faster on EVERY query of an
        # interleaved same-session A/B (8 join-heavy queries, min over 2
        # passes per arm: 18.69 s → 17.06 s; e.g. dim_star_denorm
        # 1.35→1.08, dedup_cross_corpus 8.31→7.61). This is a PLANNER
        # preference, not a forced hint — it still requires one side to
        # build a per-partition hash map within the planner's size
        # conditions and falls back to sort-merge otherwise, so at 100 TB
        # the big fact⋈fact joins keep the spill-graceful SMJ path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
