"""Small-input execution hygiene (r11-cont): the fan-out guards and
the stats-adaptive range-exchange sizing must be NO-OPS on inputs
that already carry enough parallelism — that is the whole scale
contract — and must engage exactly on the small single-split inputs
they were measured on.  Values are pinned elsewhere (the oracle suite
re-runs every key); these tests pin the PLAN-SHAPE decisions."""

import pytest

from pythonql_spark.sources.catalog import (fan_out_small, load_table,
                                            parallelize_small_scan)


def test_noop_when_enough_partitions(spark):
    df = spark.range(1000).repartition(64)
    out = parallelize_small_scan(df, 32)
    # returns the INPUT unchanged — no exchange inserted
    assert out is df


def test_fans_out_single_split_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1      # testdata premise
    out = parallelize_small_scan(docs, 32)
    assert out.rdd.getNumPartitions() == 32
    # row set unchanged (round-robin moves rows, loses none)
    assert out.count() == docs.count()


def test_width_policy(spark):
    one = spark.range(10).coalesce(1)
    cores = spark.sparkContext.defaultParallelism
    assert fan_out_small(one).rdd.getNumPartitions() == max(2, cores // 4)
    assert fan_out_small(one, full=True).rdd.getNumPartitions() == cores


def test_range_partition_is_aqe_coalescible(spark):
    """The forced range exchange must use the no-``n`` form
    (shuffle origin REPARTITION_BY_COL): AQE then sizes the partition
    count from MEASURED map output — a tiny input coalesces to ~1
    partition instead of occupying the full session parallelism —
    while an RDD-backed frame with unknown plan statistics (the case
    that defeated the earlier estimate-based sizing) coalesces just
    the same."""
    from pythonql_spark.operators.sampling import _range_partition
    small = spark.range(100).selectExpr("id", "cast(id as double) as v")
    assert _range_partition(small, ["v", "id"],
                            None).rdd.getNumPartitions() <= 2
    unknown = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2.0), (3, 4.0)]),
        "id long, v double")
    assert _range_partition(unknown, ["v", "id"],
                            None).rdd.getNumPartitions() <= 2


def test_range_partition_explicit_n_is_exact(spark):
    from pythonql_spark.operators.sampling import _range_partition
    small = spark.range(100).selectExpr("id", "cast(id as double) as v")
    assert _range_partition(small, ["v", "id"],
                            8).rdd.getNumPartitions() == 8


def test_global_index_small_input_plans_few_range_partitions(spark):
    """The forced range exchange must not cut a tiny input into the
    full session shuffle parallelism (AQE cannot coalesce a
    user-specified repartitionByRange)."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators.sampling import global_index
    df = spark.range(200).selectExpr("id as doc_id",
                                     "cast(id * 7 % 13 as double) as s")
    out = global_index(df, [F.col("s"), F.col("doc_id")], out_col="pos")
    # dense index contract unchanged
    rows = {r.pos for r in out.collect()}
    assert rows == set(range(200))
    # and the checkpointed layout is 1 partition, not shuffle.partitions
    assert out.rdd.getNumPartitions() <= 2


def test_explicit_n_partitions_still_wins(spark):
    from pyspark.sql import functions as F

    from pythonql_spark.operators.sampling import global_index
    df = spark.range(64).selectExpr("id as doc_id",
                                    "cast(id as double) as s")
    out = global_index(df, [F.col("s"), F.col("doc_id")],
                       out_col="pos", n_partitions=4)
    assert out.rdd.getNumPartitions() == 4


def test_shuffled_input_decided_from_plan(spark, sf_dir):
    """An input that already shuffles is returned unchanged WITHOUT a
    job: asking its RDD for a partition count would make AQE run the
    shuffle stages at build time, and the action would run them
    again."""
    from pyspark.sql import functions as F
    docs = load_table(spark, sf_dir, "documents")
    by_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    longest = docs.groupBy("lang").agg(F.max("n_chars").alias("m"))
    frame = docs.join(by_lang, "lang").join(longest, "lang")
    sc = spark.sparkContext
    sc.setJobGroup("fan_out_shuffled", "fan_out_small on a shuffled input")
    try:
        out = fan_out_small(frame)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("fan_out_shuffled")
    finally:
        sc.setJobGroup("", "")
    assert out is frame
    assert len(jobs) == 0
