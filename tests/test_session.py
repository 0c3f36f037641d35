"""Session defaults that a warm session depends on.

The engine compiles each query to one Catalyst plan, so a session that
re-runs its queries should reuse their generated code.  The gate below
catches both ways that reuse breaks: a codegen cache smaller than the
working set (it evicts itself and recompiles every pass), and an
operator whose generated code varies from call to call (for example
one that embeds a per-call literal).  Only the query-language keys are
gated: on the corpus pipelines AQE can pick a different physical plan
for the same input, which compiles a few new classes on some re-runs.
"""

import random

from pythonql_spark.benchqueries import QUERIES

# the pql_session benchmark workload's keys (perfbench/workloads.py)
PQL_KEYS = (
    "pql_semi", "pql_outer", "pql_path", "pql_nested", "pql_match",
    "pql_window", "pql_burnrate", "journey_default_rate",
    "window_predicate", "match_partial", "try_except", "count_clause",
    "group_agg", "join_multi", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9",
    "tpch_q18")


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one per cache miss)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_sized_for_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2500"


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    def one_pass() -> dict[str, int]:
        compiled = {}
        for key in PQL_KEYS:
            before = _compiles(spark)
            QUERIES[key](spark, sf_dir).toPandas()
            compiled[key] = _compiles(spark) - before
        return compiled

    # the counter is live: a per-call literal is inlined into the
    # generated code, so a fresh one compiles a fresh class
    before = _compiles(spark)
    spark.range(4).selectExpr(
        f"id * {random.randrange(1 << 40)} AS x").collect()
    assert _compiles(spark) > before

    one_pass()
    warm = one_pass()
    assert not any(warm.values()), {k: n for k, n in warm.items() if n}
