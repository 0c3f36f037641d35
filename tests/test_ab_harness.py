"""The A/B harness (scripts/ab_interleave.py) must run each side's
worker code, not only each side's driver code: a UDF body that calls
a package function imports it in the Python worker, from the worker's
PYTHONPATH.  This session's JVM runs in the directory pytest started
in, usually the repository root, so the test also checks that the
working directory does not shadow the baseline."""

import importlib.util
import sys
from pathlib import Path

import pandas as pd

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "ab_interleave.py"


def _harness():
    spec = importlib.util.spec_from_file_location("ab_interleave", SCRIPT)
    ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)
    return ab


def test_worker_imports_the_sides_checkout(spark, tmp_path):
    pkg = tmp_path / "baseline" / "pythonql_spark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "benchqueries.py").write_text("QUERIES = {}\n")
    ab = _harness()

    env = spark.sparkContext.environment
    saved_env = dict(env)
    saved = {m: mod for m, mod in sys.modules.items()
             if m.startswith("pythonql_spark")}
    try:
        assert ab.load_queries(spark, str(pkg.parent)) == {}

        def report(batches):
            import pythonql_spark
            for _ in batches:
                yield pd.DataFrame({"f": [pythonql_spark.__file__]})

        got = {r.f for r in spark.range(1).mapInPandas(
            report, "f string").collect()}
    finally:
        for m in [m for m in sys.modules if m.startswith("pythonql_spark")]:
            del sys.modules[m]
        sys.modules.update(saved)
        env.clear()
        env.update(saved_env)
    assert got == {str(pkg / "__init__.py")}


def test_timed_action_runs_pruned_projections(spark):
    """The harness times a full materialization: a Python UDF in a
    projection that ``count()`` prunes still runs once per row."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def touch(x):
        calls.add(1)
        return x

    df = spark.range(50).select("id", touch("id").alias("t"))
    df.count()
    assert calls.value == 0, "count() ran the UDF: the test shows nothing"
    _harness().materialize(df)
    assert calls.value == 50
