"""Interleaved same-session A/B of registry keys across two checkouts.

Cross-session walls on this box drift 2-3x with host load, so
sequential before/after timing is untrustworthy (it mis-attributed a
load-drift artifact as a 1.5x win once).  This harness cancels drift:
ONE SparkSession, the two variants' modules imported alternately from
two checkouts (sys.modules purged between), and within every rep the
execution order flips (A,B then B,A) so a monotone load trend biases
neither side.

Usage:
    git worktree add /tmp/pre_repo <baseline-commit>
    python scripts/ab_interleave.py /tmp/pre_repo key1 key2 ... [--sf=DIR]

Interpretation: identical code measures ratio 1.0 +/- ~0.1; treat
anything inside [0.85, 1.15] as noise.  Medians over 2*reps runs.

Limit: both variants share one SparkSession and one JVM, so this
harness cannot measure JVM-wide or static settings (session confs such
as ``spark.sql.codegen.cache.maxEntries``, JVM flags): both sides run
under whichever value the session started with.  Measure such changes
with separate-process pairs, one fresh JVM per run
(``perfbench/run.py`` from each checkout, alternating).
"""

from __future__ import annotations

import json
import statistics
import sys
import time


def load_queries(path: str):
    for m in [m for m in list(sys.modules)
              if m.startswith("pythonql_spark")]:
        del sys.modules[m]
    sys.path.insert(0, path)
    try:
        import pythonql_spark.benchqueries as bq
        return bq.QUERIES
    finally:
        sys.path.pop(0)


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
    paths = {"A": pre_path, "B": "/root/repo"}

    sys.path.insert(0, "/root/repo")
    from pythonql_spark import get_spark
    sys.path.pop(0)
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the worker pool the way bench.py does
    load_queries(paths["A"])["group_agg"](spark, sf_dir).count()
    from pyspark.sql import functions as F
    spark.range(64).select(
        F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))).count()

    res = {k: {"A": [], "B": []} for k in keys}
    for k in keys:
        for v in ("A", "B"):                      # warm both variants
            load_queries(paths[v])[k](spark, sf_dir).count()
        for rep in range(reps):
            order = ("A", "B") if rep % 2 == 0 else ("B", "A")
            for v in order:
                q = load_queries(paths[v])[k]
                t0 = time.perf_counter()
                q(spark, sf_dir).count()
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
