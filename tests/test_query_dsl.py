"""Clause-level DSL tests beyond the tutorial ports: window clause
integration, join lifting plan shape, helpers."""

import pytest
from pyspark.sql import functions as F

from pythonql_spark import Query, helpers


def test_window_clause_in_dsl(spark, tables):
    q = (Query(spark)
         .for_("e", tables["events"])
         .let_("user_id", "e.user_id")
         .window_("w", order_by=["e.ts", "e.event_id"], partition_by="user_id",
                  start_when=lambda c, a, p, n: True,
                  end_when=lambda c, a, p, n, sc, sa: a - sa == 2,
                  only_end=True)
         .group_by("user_id")
         .select("user_id", "count(w) as n_windows"))
    rows = q.df().collect()
    assert len(rows) > 0 and all(r.n_windows > 0 for r in rows)


def test_join_lifting_produces_equi_join(spark, tables):
    q = (Query(spark)
         .for_("c", tables["customer"])
         .for_("o", tables["orders"])
         .where("c.c_custkey == o.o_custkey")
         .select("c.c_custkey", "o.o_orderkey"))
    plan = q.df()._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Inner" in plan
    assert "Cross" not in plan


def test_filter_pushdown_through_struct_pack(spark, tables):
    q = (Query(spark)
         .for_("l", tables["lineitem"])
         .where("l.l_quantity > 49")
         .select("l.l_orderkey"))
    plan = q.df()._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49.0)]" in plan


def test_result_shapes(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "a")], "k int, v string")
    q = Query(spark).for_("r", df).select("r.k", "r.v")
    assert len(q.to_list()) == 3
    assert q.to_set() == {(1, "a"), (2, "b")}
    assert Query(spark).for_("r", df).select("r.k", "r.v").distinct().to_map() \
        == {1: "a", 2: "b"}


def test_helpers(spark):
    df = spark.createDataFrame([([[1, 2], [3]],), ([[4]],)], "a array<array<int>>")
    flat = helpers.flatten_deep(df, "a")
    assert sorted(flat.select(F.explode("a")).rdd.map(lambda r: r[0]).collect()) \
        == [1, 2, 3, 4]
    df2 = spark.createDataFrame([([],), ([1],)], "a array<int>")
    kept = df2.select(F.explode(helpers.outer("a")).alias("x"))
    assert kept.count() == 2  # empty array kept as NULL row
    assert df2.select(helpers.empty("a").alias("e")).rdd.map(lambda r: r[0]).collect() \
        == [True, False]


def test_local_rows_df_infer_fallback(spark, monkeypatch, caplog):
    """If pyspark's schema-inference internal moves, local_rows_df_infer
    falls back to createDataFrame(rows): same rows, same schema, and
    one logged warning however often the fallback runs."""
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}, {"a": 3, "b": "z"}]

    class Moved:
        # the session without _inferSchemaFromList; deleting the method
        # from SparkSession itself would also break createDataFrame,
        # which calls it
        def __getattr__(self, name):
            if name == "_inferSchemaFromList":
                raise AttributeError(name)
            return getattr(spark, name)

    monkeypatch.setattr(helpers, "_infer_fallback_logged", False)
    with caplog.at_level("WARNING", logger="pythonql_spark.helpers"):
        got = [helpers.local_rows_df_infer(Moved(), rows) for _ in range(2)]
    want = spark.createDataFrame(rows)
    for df in got:
        assert df.schema == want.schema
        assert df.collect() == want.collect()
    assert len([r for r in caplog.records
                if "local_rows_df_infer" in r.getMessage()]) == 1


def test_rollup_and_percentile(spark):
    df = spark.createDataFrame(
        [("en", "web", 10), ("en", "web", 20), ("en", "book", 30),
         ("fr", "web", 40)], "lang string, src string, n int")
    rows = (Query(spark).for_("d", df)
            .group_by("d.lang as lang", "d.src as src", rollup=True)
            .select("lang", "src", "count(d) as c", "sum(d.n) as s")
            .to_list())
    got = {(r.lang, r.src): (r.c, r.s) for r in rows}
    assert got[("en", "web")] == (2, 30)
    assert got[("en", None)] == (3, 60)       # per-lang subtotal
    assert got[(None, None)] == (4, 100)      # grand total
    p = (Query(spark).for_("d", df)
         .group_by("d.lang as lang")
         .select("lang", "percentile(d.n, 0.5) as p50")
         .to_list())
    assert {r.lang: r.p50 for r in p} == {"en": 20.0, "fr": 40.0}


def test_cube(spark):
    df = spark.createDataFrame(
        [("en", "web", 10), ("en", "book", 30), ("fr", "web", 40)],
        "lang string, src string, n int")
    rows = (Query(spark).for_("d", df)
            .group_by("d.lang as lang", "d.src as src", cube=True)
            .select("lang", "src", "sum(d.n) as s")
            .to_list())
    got = {(r.lang, r.src): r.s for r in rows}
    assert got[(None, "web")] == 50          # per-src slice: rollup lacks this
    assert got[("en", None)] == 40
    assert got[(None, None)] == 80
    with pytest.raises(ValueError):
        Query(spark).for_("d", df).group_by("d.lang", rollup=True, cube=True)


def test_percentile_approx_scale_path(spark, sf_dir):
    """At 100 TB exact percentile sorts every group; the same clause
    with percentile_approx streams in bounded memory (t-digest-style
    sketch with controllable accuracy) and must agree closely."""
    from pythonql_spark.operators import text as TX
    from pythonql_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    both = (Query(spark).for_("d", docs)
            .let_("n", TX.token_count("d.text"))
            .group_by("d.lang as lang")
            .select("lang", "percentile(n, 0.5) as exact_p50",
                    "percentile_approx(n, 0.5, 10000) as approx_p50")
            .to_list())
    assert both
    for r in both:
        assert abs(r.approx_p50 - r.exact_p50) <= max(2.0, 0.05 * r.exact_p50)


def test_set_operations(spark):
    from pythonql_spark.query import Query
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "x long")
    def qa():
        return Query(spark).for_("t", a).select("t.x as x")
    qb = Query(spark).for_("t", b).select("t.x as x")
    assert sorted(r.x for r in qa().intersect_(qb).to_list()) == [2, 3]
    assert sorted(r.x for r in qa().except_(qb).to_list()) == [1]
    assert sorted(r.x for r in qa().union_(qb).to_list()) == [1, 2, 3, 4]
    assert sorted(r.x for r in
                  qa().union_(qb, all=True).to_list()) == [1, 2, 2, 2, 3, 3, 4]
    # set ops compose with further clauses
    q = (Query(spark).for_("t", a).select("t.x as x")
         .intersect_(qb).distinct().order_by("x desc"))
    assert [r.x for r in q.to_list()] == [3, 2]


def test_where_not_lifted_past_count(spark):
    """A where AFTER a count clause must filter already-indexed rows
    (the count indexes the unfiltered binding sequence) — the join
    lifter must not consume it into the upstream join."""
    from pythonql_spark.query import Query
    xs = spark.createDataFrame([(1,), (2,), (3,)], "a int")
    ys = spark.createDataFrame([(2,), (3,)], "b int")
    rows = (Query(spark).for_("x", xs).for_("y", ys)
            .count_("i")
            .where("x.a == y.b")
            .select("x.a as a", "y.b as b", "i").df().collect())
    got = sorted((r.a, r.b, r.i) for r in rows)
    # i indexes the 3x2 = 6 unfiltered pairs; the two matches keep
    # their original indexes (NOT 0 and 1)
    assert [t[:2] for t in got] == [(2, 2), (3, 3)]
    assert {t[2] for t in got} != {0, 1}


def test_rollup_keys_only_no_crash(spark, tables):
    from pythonql_spark.query import Query
    rows = (Query(spark).for_("o", tables["orders"])
            .group_by("o.o_orderstatus as st", rollup=True)
            .select("st").df().collect())
    sts = [r.st for r in rows]
    assert None in sts and len(sts) >= 2      # grand-total level present


def test_struct_match_binds_null_field(spark):
    """Struct fast path parity with the JSON walker: a present-but-
    null field matches and binds null (the same logical data must not
    pass or fail by column type)."""
    from pythonql_spark.operators.match_clause import Bind, match_pattern
    js = spark.createDataFrame([('{"k": null, "v": 1}',),
                                ('{"v": 2}',)], "z string")
    st = spark.sql(
        "SELECT named_struct('k', cast(NULL as int), 'v', 1) AS z "
        "UNION ALL SELECT named_struct('k', 5, 'v', 2)")
    j = match_pattern(js, "z", {"k": Bind("x")}).count()
    s = match_pattern(st, "z", {"k": Bind("x")}).count()
    assert (j, s) == (1, 2)   # both null-k rows match (struct k always present)


def test_descendants_document_order(spark):
    from pythonql_spark.functions.path import _desc
    assert _desc({"a": 1, "b": 2, "c": {"a": 3}}, None) == \
        [1, 2, {"a": 3}, 3]
    assert _desc({"a": 1, "b": {"a": 2, "c": {"a": 3}}}, "a") == [1, 2, 3]
