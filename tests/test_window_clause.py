"""Predicate/fixed window clause tests (reference Executor.py:568-638).

The key property: fixed_windows (native JVM window frames) must agree
ROW-FOR-ROW with predicate_windows (the general Arrow walker)
whenever the predicates express a fixed count — they are two physical
strategies for one operator."""

import pytest
from pyspark.sql import functions as F

from pythonql_spark.operators import fixed_windows, predicate_windows


@pytest.fixture(scope="module")
def seq(spark):
    rows = [("u1", i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])] + \
           [("u2", i, float(v)) for i, v in enumerate([7, 8, 9])]
    return spark.createDataFrame(rows, "user_id string, pos int, value double")


def _normalize(df):
    return sorted(
        (r.user_id, r.s_at, r.e_at, r.closed,
         tuple((w.pos, w.value) for w in r.window))
        for r in df.collect())


@pytest.mark.parametrize("size,tumbling,only_full", [
    (3, False, True), (3, False, False),
    (2, True, True), (2, True, False),
])
def test_fixed_matches_predicate_path(seq, size, tumbling, only_full):
    fast = fixed_windows(seq, order_by="pos", size=size,
                         partition_by="user_id", tumbling=tumbling,
                         only_full=only_full)
    slow = predicate_windows(
        seq, order_by="pos",
        start_when=lambda c, a, p, n: True,
        end_when=lambda c, a, p, n, sc, sa: a - sa == size - 1,
        partition_by="user_id", tumbling=tumbling, only_end=only_full)
    assert _normalize(fast) == _normalize(slow)


def test_predicate_windows_value_conditions(seq):
    # open on value >= 20, close when value >= 40 — data-dependent,
    # only the general path expresses this
    w = predicate_windows(
        seq, order_by="pos",
        start_when=lambda c, a, p, n: c["value"] >= 20,
        end_when=lambda c, a, p, n, sc, sa: c["value"] >= 40,
        partition_by="user_id", only_end=True)
    rows = _normalize(w)
    # u1: windows open at 20,30,40,50; the first three close at 40,
    # the 50-window opens and closes on the same element
    assert [(r[1], r[2]) for r in rows if r[0] == "u1"] == \
        [(1, 3), (2, 3), (3, 3), (4, 4)]
    assert all(r[0] == "u1" for r in rows)  # u2 never reaches 20


def test_only_end_drops_unclosed(seq):
    closed_only = predicate_windows(
        seq, order_by="pos",
        start_when=lambda c, a, p, n: True,
        end_when=lambda c, a, p, n, sc, sa: a - sa == 2,
        partition_by="user_id", only_end=True)
    with_open = predicate_windows(
        seq, order_by="pos",
        start_when=lambda c, a, p, n: True,
        end_when=lambda c, a, p, n, sc, sa: a - sa == 2,
        partition_by="user_id", only_end=False)
    n_closed = closed_only.count()
    both = with_open.count()
    assert both > n_closed
    assert with_open.filter(~F.col("closed")).count() == both - n_closed


def test_global_sequence_no_partition(spark):
    df = spark.createDataFrame([(i, i * 10) for i in range(6)], "pos int, v int")
    w = fixed_windows(df, order_by="pos", size=2)
    rows = _normalize_global(w)
    assert rows[0] == (0, 1, True, ((0, 0), (1, 10)))


def _normalize_global(df):
    return sorted(
        (r.s_at, r.e_at, r.closed, tuple((w.pos, w.v) for w in r.window))
        for r in df.collect())


def test_null_partition_keys_group_together(spark):
    # NaN != NaN after Arrow conversion must NOT splinter null-keyed
    # rows into singleton groups: all null-keyed rows form one
    # sequence, matching groupBy semantics.
    rows = [(None, 0, 1.0), (None, 1, 2.0), (None, 2, 3.0),
            ("u1", 0, 4.0), ("u1", 1, 5.0)]
    df = spark.createDataFrame(rows, "user_id string, pos int, value double")
    w = predicate_windows(
        df, order_by="pos",
        start_when=lambda c, a, p, n: a == 0,
        end_when=lambda c, a, p, n, sc, sa: n is None,
        partition_by="user_id", only_end=True)
    got = sorted(((r.user_id, r.s_at, r.e_at, len(r.window))
                  for r in w.collect()),
                 key=lambda t: (t[0] is not None, t))
    # one window per key spanning the whole sequence — 3 rows for the
    # null key (splintering would yield three 1-row windows instead)
    assert got == [(None, 0, 2, 3), ("u1", 0, 1, 2)]


def test_dsl_size_window_uses_native_path(spark, tables):
    from pythonql_spark.query import Query
    q = (Query(spark).for_("e", tables["events"])
         .window_("w", order_by=["e.ts", "e.event_id"], size=3,
                  partition_by="e.user_id", only_end=True)
         .select("user_id", "s_at", "size(w) as n"))
    df = q.df()
    # no Python evaluation node in the plan
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "FlatMapGroupsInPandas" not in plan
    assert df.count() > 0
    assert df.filter(F.col("n") != 3).count() == 0


def _random_seq(spark, seed, *, null_values=False, null_keys=False,
                n_keys=6):
    import random
    rng = random.Random(seed)
    rows = []
    for k in range(n_keys):
        key = None if null_keys and k < 2 else f"u{k % 4}"
        for i in range(rng.randint(0, 40)):
            v = (None if null_values and rng.random() < 0.2
                 else float(rng.randint(0, 200)))
            # null keys share one sequence: keep their positions unique
            rows.append((key, k * 100 + i, v))
    return spark.createDataFrame(rows, "user_id string, pos int, value double")


def _rows(df, part):
    return sorted(
        ((r.user_id is None, r.user_id or "") if part else (), r.s_at,
         r.e_at, r.closed, tuple((w.pos, w.value) for w in r.window))
        for r in df.collect())


# (name, data options, operator options); thresholds 150/50 give a mix
# of starts closing soon, late, at once and never
_PARITY_CASES = [
    ("sliding_only_end", dict(seed=1), dict(only_end=True)),
    ("sliding_emit_open", dict(seed=2), dict(only_end=False)),
    ("no_end_emit_open", dict(seed=3), dict(end=False, only_end=False)),
    ("no_end_only_end", dict(seed=3), dict(end=False, only_end=True)),
    ("null_values", dict(seed=4, null_values=True), dict(only_end=False)),
    ("null_keys", dict(seed=5, null_keys=True), dict(only_end=False)),
    ("global_sequence", dict(seed=6, n_keys=1), dict(part=False,
                                                     only_end=False)),
    ("tumbling_only_end", dict(seed=7), dict(tumbling=True,
                                             only_end=True)),
    ("tumbling_emit_open", dict(seed=8, null_values=True),
     dict(tumbling=True, only_end=False)),
]


@pytest.mark.parametrize("data,opts", [c[1:] for c in _PARITY_CASES],
                         ids=[c[0] for c in _PARITY_CASES])
def test_column_predicates_match_arrow_path(spark, data, opts):
    """Column conditions (JVM window functions when sliding, hidden
    flag columns when tumbling) agree row for row, window contents
    included, with the same conditions as Python callables on the
    Arrow walker.  A null value fails both comparisons on both paths
    (NULL counts as false; the walker sees NaN, which compares
    false)."""
    from pythonql_spark.plans import plan_report
    df = _random_seq(spark, **data)
    part = "user_id" if opts.get("part", True) else None
    if part is None:
        df = df.select("pos", "value")
    has_end = opts.get("end", True)
    kw = dict(order_by="pos", partition_by=part,
              tumbling=opts.get("tumbling", False),
              only_end=opts["only_end"])
    native = predicate_windows(
        df, start_when=F.col("value") > 150,
        end_when=(F.col("value") < 50) if has_end else None, **kw)
    arrow = predicate_windows(
        df, start_when=lambda c, a, p, n: c["value"] > 150,
        end_when=((lambda c, a, p, n, sc, sa: c["value"] < 50)
                  if has_end else None), **kw)
    assert native.schema.simpleString() == arrow.schema.simpleString()
    got, want = _rows(native, part), _rows(arrow, part)
    assert got == want
    if not opts["only_end"]:
        assert want, "case emits no window: it checks nothing"
    rep = plan_report(native)
    python_nodes = rep["python_arrow_evals"] + rep["python_row_evals"]
    assert (python_nodes > 0) == kw["tumbling"]


@pytest.mark.parametrize("tumbling", [False, True],
                         ids=["sliding", "tumbling"])
def test_tied_order_windows_hold_their_rows(spark, tumbling):
    """``order_by`` with ties numbers the tied rows arbitrarily, but
    once: the walker's positions and the slice that builds ``window``
    index the same numbering, so every window holds ``e_at - s_at + 1``
    rows, opens on a row where the start condition holds and, closed,
    ends on one where the end condition holds."""
    import random
    rng = random.Random(10)
    rows = [(f"u{k}", i // 3, float(rng.randint(0, 200)))
            for k in range(4) for i in range(rng.randint(10, 40))]
    df = spark.createDataFrame(rows, "user_id string, pos int, value double")
    w = predicate_windows(
        df, order_by="pos", partition_by="user_id",
        start_when=lambda c, a, p, n: c["value"] > 150,
        end_when=lambda c, a, p, n, sc, sa: c["value"] < 50,
        tumbling=tumbling, only_end=False).collect()
    assert any(r.closed for r in w), "no window closes: the test shows nothing"
    for r in w:
        assert len(r.window) == r.e_at - r.s_at + 1, r
        assert r.window[0].value > 150, r
        assert not r.closed or r.window[-1].value < 50, r


def test_column_windows_prune_window_column(spark):
    """A caller that does not select ``window`` gets no per-key
    collect_list and no join: Catalyst drops both."""
    from pythonql_spark.plans import formatted_plan
    df = _random_seq(spark, 9)
    w = predicate_windows(df, order_by="pos",
                          start_when=F.col("value") > 150,
                          end_when=F.col("value") < 50,
                          partition_by="user_id", only_end=True)
    p = formatted_plan(w.select("user_id", "s_at", "e_at"))
    assert "collect_list" not in p and "Join" not in p, p
    assert "UNBOUNDED FOLLOWING" not in p.upper(), p
    assert "collect_list" in formatted_plan(w)


def test_column_windows_quote_value_names(spark):
    df = spark.createDataFrame(
        [("u", 0, 200.0), ("u", 1, 100.0), ("u", 2, 10.0)],
        "user_id string, pos int, value double"
    ).withColumnRenamed("value", "the `value`")
    w = predicate_windows(df, order_by="pos",
                          start_when=F.col("`the ``value```") > 150,
                          end_when=F.col("`the ``value```") < 50,
                          partition_by="user_id")
    (row,) = w.collect()
    assert (row.s_at, row.e_at, row.closed) == (0, 2, True)
    assert [tuple(x) for x in row.window] == [(0, 200.0), (1, 100.0),
                                              (2, 10.0)]
    assert row.window[0].asDict() == {"pos": 0, "the `value`": 200.0}
