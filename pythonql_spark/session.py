"""SparkSession factory tuned for the engine.

Defaults target local[$SPARK_GRAFT_CPUS] for tests/bench but every
setting is chosen to also be the right default on a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold large enough for TPC-H-style dims,
Arrow enabled for the Pandas-UDF operators, shuffle partitions sized
for the local core count (override on a real cluster), and a generated-
code cache large enough that a warm session recompiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pythonql_spark", **extra_conf: str) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # runtime bloom filters: a filtered dim side injects a bloom
        # filter into the fact scan of a shuffle join — at 100 TB this
        # prunes fact rows BEFORE the shuffle, the same effect
        # dynamic partition pruning has for partitioned tables
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # min/max/count over parquet answer from footer stats — takes
        # effect on V2 reads (spark.sql.sources.useV1SourceList="");
        # the engine default stays V1 for bucketing/legacy-conf
        # compatibility, so profiling scans opt into V2 per-session
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata events.ts is TIMESTAMP(NANOS); Spark rejects it
        # unless read as long (catalog.load_table converts back)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generated-code cache: Spark's default of 100 classes is
        # smaller than one warm pass of a session's working set (208
        # classes over the 19 query-language keys, 234 over the four
        # corpus pipelines), so the cache evicted itself and every pass
        # recompiled every class in Janino and then again in the JIT.
        # One pass of all 202 registry keys at sf0.001 compiles
        # 2,290-2,310 distinct classes, hence 2,500.  Classes measure
        # 1.3-1.8 KB of bytecode at the median and 12-16 KB at p99, so
        # the cache costs a few MB of metaspace per JVM.  The working
        # set depends on the query mix, not on cores or data size, so
        # a fixed count is right at local[4] and at 100 TB alike.
        # Static conf: it takes effect when the JVM's session starts.
        .config("spark.sql.codegen.cache.maxEntries", "2500")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
