"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q

The generator and loop tests need no Spark; the plan and bucket tests
start local sessions (the plan test with an event log in a temporary
directory).
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

JOIN = re.compile(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
                  r"BroadcastNestedLoopJoin|CartesianProduct)\b")


# ------------------------------------------------------------- generator

def _dupheavy(seed):
    return gen.make_corpus(2000, seed, exact_share=0.2, near_share=0.25,
                           hot_cluster=600)


def test_same_seed_same_corpus():
    a, b = _dupheavy(7), _dupheavy(7)
    assert a.digest() == b.digest()
    assert a.stats() == b.stats()
    assert a.exact_groups == b.exact_groups
    assert a.stats()["docs"] == 2000
    assert a.stats()["hot_cluster"] == 600


def test_other_seed_other_corpus():
    assert _dupheavy(7).digest() != _dupheavy(8).digest()
    clean = gen.make_corpus(500, 1, exact_share=0.02, near_share=0.03)
    assert clean.digest() != gen.make_corpus(
        500, 2, exact_share=0.02, near_share=0.03).digest()


def test_planted_duplicates():
    c = _dupheavy(3)
    for g in c.exact_groups:
        assert len({c.text[d] for d in g}) == 1
    fps = [gen.fingerprint(t) for t in c.text]
    # distinct fingerprints = originals + near variants
    n_exact = sum(len(g) - 1 for g in c.exact_groups)
    assert len(set(fps)) == len(fps) - n_exact
    assert max(len(g) for g in c.exact_groups) == 600


def test_tables_deterministic(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 0.001, 5)
    b = gen.write_tables(str(tmp_path / "b"), 0.001, 5)
    assert a == b
    for t in a:
        pa = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert pa == (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_shards(tmp_path):
    c = gen.make_corpus(300, 1, exact_share=0.0, near_share=0.0)
    gen.write_corpus(c, str(tmp_path), shards=8)
    import pyarrow.parquet as pq
    parts = sorted(glob.glob(str(tmp_path / "documents.parquet" / "*")))
    assert len(parts) == 8
    assert sum(pq.read_metadata(p).num_rows for p in parts) == 300


# ------------------------------------------------------------ timed loop

class _FakeWorkload(workloads.Workload):
    """Items are plain names: from the second pass on, 'bad' raises in
    its build and 'drift' returns a different result."""

    items = ("ok", "bad", "drift")
    docs_per_pass = 300

    def __init__(self):
        super().__init__(0, "", "", 1)
        self.k = 0

    def pass_order(self, k):
        self.k = k
        return list(self.items)

    def build(self, spark, key):
        if key == "bad" and self.k >= 1:
            raise RuntimeError("planted failure")
        return key

    def materialize(self, key, df, k):
        import pandas as pd
        return pd.DataFrame({"x": [k if key == "drift" else 0]})


def test_failure_is_counted_not_dropped():
    lp = run.timed_loop(_FakeWorkload(), None, passes=1)
    assert (lp.passes, lp.attempted, lp.failed, lp.errors) == (1, 3, 0, [])
    lp = run.timed_loop(_FakeWorkload(), None, passes=3)
    assert (lp.passes, lp.attempted) == (3, 9)
    assert lp.failed == 2                      # 'bad' in every later pass
    assert sum(math.isinf(x) for x in lp.latency_s) == lp.failed
    assert any("planted failure" in e for e in lp.errors)
    assert any(e.startswith("drift: pass 1 output digest")
               for e in lp.errors)
    # one failure misses every latency bound, and a failed item's
    # records count neither as throughput nor as CPU spent per record
    m = {k: v["value"] for k, v in run.end_to_end(lp, _FakeWorkload(),
                                                    1.0).items()}
    assert m["query_p50_s"] == m["query_p90_s"] == run.FAILED_VALUE
    ok = lp.attempted - lp.failed
    assert m["queries_per_s"] == pytest.approx(ok / lp.timed_s)
    assert m["docs_per_s"] == pytest.approx(100 * ok / lp.timed_s)


def test_percentile():
    assert run.percentile([1.0, 2.0, 3.0], 0.5) == 2.0
    assert run.percentile([1.0, 2.0], 0.5) == 1.5


# ---------------------------------------------------------- with Spark

@pytest.fixture(scope="module")
def session(tmp_path_factory):
    log_dir = tmp_path_factory.mktemp("eventlog")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pythonql_spark import get_spark
    spark = get_spark("perfbench-tests", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, str(log_dir)
    spark.stop()


def _tree_joins(plan: str) -> int:
    tree = re.split(r"^\(\d+\) ", plan, maxsplit=1, flags=re.MULTILINE)[0]
    return len(JOIN.findall(tree))


def _executed_joins(log_dir: str) -> dict[str, int]:
    """Join count of each SQL execution's physical plan, by job
    description, read back from the event log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event", "").endswith("SQLExecutionStart"):
                    d = ev.get("description", "")
                    out[d] = max(out.get(d, 0),
                                 _tree_joins(ev["physicalPlanDescription"]))
    return out


def test_timed_actions_keep_every_join(session, tmp_path):
    """The benchmark's materialization executes the plan the user
    built: every join that ``plans.formatted_plan(df)`` shows is in the
    executed plan, unlike ``count()``, which Catalyst may prune."""
    from pythonql_spark.plans import formatted_plan
    spark, log_dir = session
    sc = spark.sparkContext
    pql = workloads.PqlSession(1, str(tmp_path / "t"), str(tmp_path / "o"), 2)
    gen.write_tables(pql.data_dir, 0.001, 1)
    pql.rows = {}
    corpus = workloads.CorpusClean(1, str(tmp_path / "c"),
                                   str(tmp_path / "o"), 2)
    corpus.n_docs = 400
    corpus.make_inputs()
    cases = [(pql, k) for k in ("tpch_q3", "tpch_q5", "tpch_q9", "join_multi",
                                "pql_semi", "pql_outer")]
    cases += [(corpus, k) for k in corpus.items]
    expected = {}
    for wl, key in cases:
        df = wl.build(spark, key)
        expected[key] = _tree_joins(formatted_plan(df))
        sc.setJobDescription(f"bench:{key}")
        wl.materialize(key, df, 0)
        sc.setJobDescription(f"count:{key}")
        df.count()
        sc.setJobDescription(None)
    spark.stop()                     # flush the event log
    got = _executed_joins(log_dir)
    assert sum(expected.values()) > 0
    for key, n in expected.items():
        assert got.get(f"bench:{key}", -1) >= n, key
    # the check can see pruning: count() drops joins on some key
    assert any(got[f"count:{k}"] < n for k, n in expected.items())


def test_hot_bucket_mechanism_and_bypass(tmp_path):
    """The dup-heavy corpus drives a bucket over the cap; the clean one
    does not."""
    from pythonql_spark import get_spark
    spark = get_spark("perfbench-tests-buckets",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        counts = {}
        for cls in (workloads.CorpusClean, workloads.CorpusDupHeavy):
            wl = cls(3, str(tmp_path / cls.name), str(tmp_path / "o"), 2)
            wl.n_docs = 1500
            wl.make_inputs()
            counts[cls.name] = wl.hot_buckets(spark)
    finally:
        spark.stop()
    assert counts["corpus_clean"] == 0
    assert counts["corpus_dupheavy"] >= 1
