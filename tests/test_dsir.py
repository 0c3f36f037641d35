"""DSIR importance weighting: separation, determinism, resampling."""

import pytest
from pyspark.sql import Row

from pythonql_spark.operators.dsir import dsir_logweights, dsir_resample


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(20):
        rows.append(Row(doc_id=i, kind="wiki",
                        text="alpha beta gamma delta alpha beta"))
    for i in range(20, 60):
        rows.append(Row(doc_id=i, kind="crawl",
                        text="omega sigma tau upsilon omega sigma"))
    for i in range(60, 70):
        # crawl docs that LOOK like wiki — these are what DSIR is for
        rows.append(Row(doc_id=i, kind="crawl",
                        text="alpha beta gamma delta beta gamma"))
    return spark.createDataFrame(rows)


def test_target_like_docs_score_higher(corpus):
    w = dsir_logweights(corpus, "kind = 'wiki'")
    scored = {r.doc_id: r.logweight for r in w.collect()}
    assert len(scored) == 70
    wiki_like = [scored[i] for i in range(60, 70)]
    crawl_noise = [scored[i] for i in range(20, 60)]
    # hard separation: every wiki-vocab doc beats every noise doc
    # (absolute values are shifted by the add-one smoothing over the
    # bucket vocabulary, so only the ordering is asserted)
    assert min(wiki_like) > max(crawl_noise)
    # and wiki-like crawl docs score close to true wiki docs, far from
    # the noise floor
    true_wiki = [scored[i] for i in range(20)]
    assert abs(min(wiki_like) - min(true_wiki)) < \
        abs(max(crawl_noise) - min(true_wiki)) / 4


def test_weights_deterministic_across_partitioning(corpus):
    a = sorted(dsir_logweights(corpus, "kind = 'wiki'").collect())
    b = sorted(dsir_logweights(corpus.repartition(7), "kind = 'wiki'")
               .collect())
    assert a == b


def test_resample_prefers_target_like(corpus):
    kept = dsir_resample(corpus, "kind = 'wiki'", rate=0.6)
    kinds = [(r.doc_id, r.kind) for r in kept.collect()]
    kept_wiki_like = sum(1 for d, _ in kinds if d >= 60 or d < 20)
    kept_noise = sum(1 for d, _ in kinds if 20 <= d < 60)
    # keep-probability is proportional to exp(per-token logweight):
    # target-like docs survive at a strictly higher rate
    assert kept_wiki_like / 30 > kept_noise / 40
    # deterministic: same call, same result
    again = [(r.doc_id, r.kind) for r in
             dsir_resample(corpus, "kind = 'wiki'", rate=0.6).collect()]
    assert sorted(kinds) == sorted(again)


def test_token_shuffle_free_plan(corpus):
    """The scoring join must be a broadcast of the bucket table —
    exploded tokens never hash-shuffle on token text."""
    explained = dsir_logweights(corpus, "kind = 'wiki'") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained
    import re
    # hashpartitioning keys of shuffle exchanges: only bucket id and
    # doc id are legal; 'tok' must never be one
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                           explained):
        assert "tok" not in keys, explained


def test_xxhash64_fast_path_preserves_separation(corpus):
    """Production hash path: same estimator quality, no md5 in the
    plan, identical shape."""
    import pytest as _pt
    from pythonql_spark.operators.dsir import dsir_logweights
    w = dsir_logweights(corpus, "kind = 'wiki'", hash_fn="xxhash64")
    scored = {r.doc_id: r.logweight for r in w.collect()}
    wiki_like = [scored[i] for i in range(60, 70)]
    crawl_noise = [scored[i] for i in range(20, 60)]
    assert min(wiki_like) > max(crawl_noise)
    # collision-free vocab => weights must MATCH the md5 path exactly
    # (bucket identity is irrelevant without collisions — only counts
    # matter), which proves the fast path computes the same estimator
    md5 = {r.doc_id: r.logweight for r in
           dsir_logweights(corpus, "kind = 'wiki'").collect()}
    assert scored == md5
    with _pt.raises(ValueError):
        dsir_logweights(corpus, "kind = 'wiki'", hash_fn="sha1")


def test_resample_tolerates_existing_weight_columns(corpus):
    """dsir_resample must compose with inputs that already carry
    n_tokens/logweight columns (e.g. scored by a prior LM pass) —
    regression for an ambiguous-reference failure."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators.dsir import dsir_resample
    pre = corpus.withColumn("n_tokens", F.lit(999)) \
                .withColumn("logweight", F.lit(-1.0))
    out = dsir_resample(pre, "kind = 'wiki'", rate=0.6)
    assert set(out.columns) == set(pre.columns)
    # the input's columns pass through untouched
    assert all(r.n_tokens == 999 for r in out.collect())
    # without collisions the weight columns are appended as before
    plain = dsir_resample(corpus, "kind = 'wiki'", rate=0.6)
    assert {"n_tokens", "logweight"} <= set(plain.columns)


def test_per_token_weight_rounds_alike_in_spark_and_duckdb(spark):
    """``curation_pipeline``'s ``round(logweight / n_tokens, 6)`` is
    exact integer arithmetic in both dialects: as a double division
    Spark and DuckDB round exact decimal ties differently (−0.6473/40
    gave −0.016183 and −0.016182)."""
    import duckdb
    from pyspark.sql import functions as F

    from pythonql_spark.benchqueries import _per_token_w
    rows = [(-0.6473, 40), (0.6473, 40), (-0.000005, 1), (0.000001, 2),
            (-0.000001, 2), (-12.345678, 7), (0.0, 3)]
    want = [-0.016183, 0.016183, -0.000005, 0.000001, -0.000001,
            -1.763668, 0.0]
    got = [r[0] for r in spark.createDataFrame(
        rows, "logweight double, n_tokens long").select(
            F.expr(_per_token_w())).collect()]
    values = ", ".join(f"({lw}, {n})" for lw, n in rows)
    duck = [r[0] for r in duckdb.sql(
        f"SELECT {_per_token_w('duck')} FROM (SELECT cast(lw AS double)"
        " AS logweight, cast(n AS bigint) AS n_tokens"
        f" FROM (VALUES {values}) t(lw, n))").fetchall()]
    assert got == want
    assert duck == want
