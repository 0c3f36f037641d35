"""Capture .explain("formatted") for registry keys into plans/<round>/.

Usage:
    python scripts/capture_plans.py --checkout=/tmp/pre_repo --suffix=before \
        --out=plans/r11 key1 key2 ...
    python scripts/capture_plans.py --suffix=after --out=plans/r11 key1 ...

The --checkout path's pythonql_spark package is imported (sys.modules
purged first), so "before" plans come from a baseline git worktree and
"after" plans from the live repo — the same two-checkout pattern as
scripts/ab_interleave.py.  One Spark session serves both.

--executed runs each key's plan first, so the formatted plan is the
AQE-final one, and prepends the optimized logical plan.  A key listed
twice is captured twice; the second capture overwrites the first, so
it shows the plan a warm session builds.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


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
    keys = [a for a in sys.argv[1:] if not a.startswith("--")]
    checkout, suffix, out_dir = REPO, "after", "plans/r11"
    executed = "--executed" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for a in sys.argv[1:]:
        if a.startswith("--checkout="):
            checkout = a.split("=", 1)[1]
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_dir = a.split("=", 1)[1]
        elif a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    out = Path(REPO) / out_dir
    out.mkdir(parents=True, exist_ok=True)

    sys.path.insert(0, REPO)
    from pythonql_spark import get_spark
    sys.path.pop(0)
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    queries = load_queries(checkout)
    for k in keys:
        if k not in queries:
            print(f"# unknown key {k}", file=sys.stderr)
            continue
        t0 = time.perf_counter()
        try:
            df = queries[k](spark, sf_dir)
            qe = df._jdf.queryExecution()
            if executed:
                # run the frame's own adaptive plan to its final form,
                # counting rows on the JVM side
                qe.executedPlan().execute().count()
                text = ("== Optimized Logical Plan ==\n"
                        f"{qe.optimizedPlan()}\n{qe.explainString(mode)}")
            else:
                text = qe.explainString(mode)
        except Exception as e:
            text = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        p = out / f"{k}_{suffix}.txt"
        p.write_text(
            f"-- {k} ({suffix}) checkout={checkout} sf={sf_dir}\n{text}")
        print(f"{k}_{suffix}: {time.perf_counter() - t0:.1f}s "
              f"{len(text)} chars", flush=True)


if __name__ == "__main__":
    main()
