"""Interleaved same-session A/B of registry keys across two checkouts.

Cross-session walls on this box drift 2-3x with host load, so
sequential before/after timing is untrustworthy (it mis-attributed a
load-drift artifact as a 1.5x win once).  This harness cancels drift:
ONE SparkSession, the two variants' modules imported alternately from
two checkouts (sys.modules purged between), and within every rep the
execution order flips (A,B then B,A) so a monotone load trend biases
neither side.

Usage:
    mkdir ../pre_repo && git archive <baseline-commit> | tar -x -C ../pre_repo
    python scripts/ab_interleave.py ../pre_repo key1 key2 ... [--sf=DIR]

Interpretation: identical code measures ratio 1.0 +/- ~0.1; treat
anything inside [0.85, 1.15] as noise.  Medians over 2*reps runs.

The timed action is a full materialization, a write of every row to
Spark's ``noop`` sink (:func:`materialize`), as ``perfbench/run.py``
times its items.  ``count()`` is not: Catalyst prunes from a count
plan every column the count does not need, and with them projections,
Python UDFs and joins that only add columns, so a change to those
would not show.

Python workers import the package from ``PYTHONPATH``, not from the
driver's ``sys.path``.  Before each side builds its plan, the harness
points ``sparkContext.environment["PYTHONPATH"]`` at that side's
checkout, with ``PYTHONSAFEPATH=1`` so that the working directory
does not shadow it (Python 3.11+).  Spark captures the environment
into every Python function when the plan is built and keeps a
separate worker pool per environment, so each side's UDF bodies run
that side's code.  The path-step UDFs that ``pql()`` calls from SQL
text (``pql_child`` and its siblings) are registered once per session
per imported copy of the package; since every build re-imports the
package, each build re-registers them under its own side's
environment.

Limit: both variants share one SparkSession and one JVM, so this
harness cannot measure JVM-wide or static settings (session confs such
as ``spark.sql.codegen.cache.maxEntries``, JVM flags): both sides run
under whichever value the session started with.  Measure such changes
with separate-process pairs, one fresh JVM per run
(``perfbench/run.py`` from each checkout, alternating).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def load_queries(spark, path: str):
    """Import ``path``'s registry, and make the Python functions of the
    plans built next run in workers that import from ``path`` too."""
    path = os.path.abspath(path)
    for m in [m for m in list(sys.modules)
              if m.startswith("pythonql_spark")]:
        del sys.modules[m]
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = path
    # workers start as ``python -m pyspark.daemon``, which puts the
    # working directory first on sys.path: run from a checkout, that
    # checkout would shadow PYTHONPATH on both sides (Python >= 3.11)
    env["PYTHONSAFEPATH"] = "1"
    sys.path.insert(0, path)
    try:
        import pythonql_spark.benchqueries as bq
        return bq.QUERIES
    finally:
        sys.path.pop(0)


def materialize(df) -> None:
    """Runs ``df`` to the end: every row, every column, nothing
    collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    pre_path, keys = args[0], args[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 4
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    paths = {"A": pre_path, "B": REPO}

    sys.path.insert(0, REPO)
    from pythonql_spark import get_spark
    sys.path.pop(0)
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the worker pool the way bench.py does
    materialize(load_queries(spark, paths["A"])["group_agg"](spark, sf_dir))
    from pyspark.sql import functions as F
    materialize(spark.range(64).select(
        F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))))

    res = {k: {"A": [], "B": []} for k in keys}
    for k in keys:
        for v in ("A", "B"):                      # warm both variants
            materialize(load_queries(spark, paths[v])[k](spark, sf_dir))
        for rep in range(reps):
            order = ("A", "B") if rep % 2 == 0 else ("B", "A")
            for v in order:
                q = load_queries(spark, paths[v])[k]
                t0 = time.perf_counter()
                materialize(q(spark, sf_dir))
                res[k][v].append(time.perf_counter() - t0)
        a = statistics.median(res[k]["A"])
        b = statistics.median(res[k]["B"])
        print(f"{k:24s} pre={a:6.2f} post={b:6.2f} ratio={b/a:4.2f}",
              flush=True)
    print("JSON:" + json.dumps(
        {k: {v: round(statistics.median(res[k][v]), 3) for v in ("A", "B")}
         for k in keys}))


if __name__ == "__main__":
    main()
