"""SparkSession factory with scale-aware defaults.

The reference hand-tunes its engine (DuckDB ``SET threads=4;
memory_limit='8GB'; preserve_insertion_order=false`` at
``src/backtest.py:301-303``). Here the equivalent knobs are AQE,
shuffle-partition sizing, and Arrow; determinism is recovered in
tests by explicit sorts (cf. ``preserve_insertion_order=false``).

Generated code is compiled once per session. Whole-stage codegen keeps
its compiled classes in one JVM-wide LRU cache of 100 entries
(``spark.sql.codegen.cache.maxEntries``). One ``turn_features`` pass
(sessionize, lag/lead, next-event labels, weekly history and PSI, each
consumed once) compiles 105-119 distinct classes, in the same order each
pass, so at 100 every later pass missed the cache and compiled 96-108
classes again (seed-1 and seed-2 benchmark inputs, ``local[4]``). A
``checkpointed_backtest`` pass compiles 57-70, and the two families run
in turn in one session about 165. The cache is therefore sized at 1000:
several times the largest measured working set, with room for a
long-lived session that runs more plans. The class name also embeds the
stage id that AQE assigns, which can differ between runs of the same
plan, so the same code gets a new cache key (21 of a backtest pass's
classes compiled again on its second pass for that reason alone);
``spark.sql.codegen.useIdInClassName=false`` drops the id from the key.
With both, a second pass of the same plans compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kkbox_churn_prediction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32).
    ``shuffle_partitions`` defaults to the local core count: the 200
    default over-parallelizes small data and under-parallelizes big.
    On a real cluster these come from spark-submit, not here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        inside = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inside == "*" else int(inside)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # measured working sets: 105-119 generated classes per
        # turn_features pass, 57-70 per checkpointed_backtest pass, about
        # 165 for both in one session; the default 100 made every
        # turn_features pass recompile (see module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
