"""Predicate-driven sliding / tumbling windows.

Reference semantics (Executor.py:568-638 processWindowClause +
Grammar.md `window`): scan an ordered sequence; open a window when
``start_when`` holds (tumbling: only if no window is open); every open
window absorbs each element; close it when ``end_when`` holds; with
``only_end`` unclosed windows are dropped, otherwise they are emitted
at end-of-sequence.  Start/end conditions see the current element, its
index, and its neighbours (the reference's s_curr/s_at/s_prev/s_next
and e_* variables).

Spark-first shape: the sequence is a DataFrame partitioned by
``partition_by`` (one logical sequence per key — e.g. one per user)
and ordered by ``order_by`` within the key; one ``row_number``
numbers it.  A window is the position range ``s_at..e_at`` of its
key, and a condition is either a Python callable or a pyspark
``Column``:

* Callables (DSL lambdas, pql ``when`` strings) run in an Arrow walker
  (``mapInPandas`` over the numbered rows, sorted by key and number)
  — distributed across executors by key, never collected to the
  driver.  :func:`key_runs` groups each key's rows and :func:`walk`,
  the reference's loop, turns them into positions; the walker ships
  back positions only, never rows.
* A ``Column`` is a boolean over the sequence row's own columns; NULL
  counts as false.  When every condition is a Column and the window
  is sliding, the operator compiles to plain JVM window functions —
  no Python in the plan.  A Column cannot see neighbours or the
  window's start, so the next end position is the same for every
  window open at a row: a running ``min(CASE WHEN end THEN rn END)``
  over the key in DESCENDING rn order (a running frame, linear per
  key) gives each start its closing position.
* Column conditions in a TUMBLING window (whose opens depend on the
  previous close), or mixed with a callable, are evaluated into hidden
  boolean columns that the walker reads.

Both paths then build ``window`` the same way, in the JVM
(:func:`_with_window`): each key's rows in one sorted ``collect_list``,
sliced at every window's positions — and pruned, with its join, when
the caller does not select ``window``.

For a single global sequence pass ``partition_by=None`` (all rows flow
to one task; fine for bounded sequences, document the skew).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the walker yields every ~_FLUSH_ROWS windows, so peak worker memory
# is the largest key plus one flush buffer, not the partition's output
_FLUSH_ROWS = 1 << 14


def walk(vals: list, start_when: Callable | None,
         end_when: Callable | None = None, *, tumbling: bool = False,
         only_end: bool = False, starts: list | None = None,
         ends: list | None = None) -> list[tuple[int, int, bool]]:
    """The reference's window loop over one key's sequence ``vals``:
    every window as ``(s_at, e_at, closed)`` positions.
    ``start_when(curr, at, prev, nxt)`` /
    ``end_when(curr, at, prev, nxt, s_curr, s_at)`` are called on the
    elements of ``vals``; a per-row flag list ``starts`` / ``ends``
    (a Column condition the JVM evaluated) replaces its callable."""
    n = len(vals)
    out: list[tuple[int, int, bool]] = []
    open_: list[int] = []
    for i, curr in enumerate(vals):
        prev = vals[i - 1] if i else None
        nxt = vals[i + 1] if i + 1 < n else None
        if (not tumbling or not open_) and (
                starts[i] if starts is not None
                else start_when(curr, i, prev, nxt)):
            open_.append(i)
        still = []
        for s in open_:
            if (ends[i] if ends is not None else end_when
                    and end_when(curr, i, prev, nxt, vals[s], s)):
                out.append((s, i, True))
            else:
                still.append(s)
        open_ = still
    if not only_end:
        out += [(s, n - 1, False) for s in open_]
    return out


def key_runs(batches: Iterable[pd.DataFrame], part: list[str],
             columns: Callable[[pd.DataFrame], dict[str, list]]
             ) -> Iterator[tuple[tuple, dict[str, list]]]:
    """Walks key-sorted pandas batches (a ``mapInPandas`` input) and
    yields one ``(key, cols)`` per run of equal ``part`` values: the
    key as a tuple, and each of ``columns(pdf)``'s lists cut to the
    run.  ``columns`` is called once per batch, so per-row Python
    values are made once, not per key.  A key's rows arrive
    contiguously but may span batches; its run is yielded once it is
    complete.  Null keys (NaN/NaT after Arrow) become None, so they
    group together as in ``groupBy`` — NaN != NaN would splinter them
    into one-row runs."""
    key = cols = None
    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        lists = columns(pdf)
        kcols = [pdf[k] for k in part]
        keys = (list(zip(*[c.astype(object).where(c.notna(), None).tolist()
                           if c.hasnans else c.tolist() for c in kcols]))
                if part else [()] * n)
        start = 0
        for i in range(1, n + 1):
            if i < n and keys[i] == keys[start]:
                continue
            if cols is not None and keys[start] == key:
                for name, acc in cols.items():
                    acc.extend(lists[name][start:i])
            else:
                if cols is not None:
                    yield key, cols
                key = keys[start]
                cols = {name: v[start:i] for name, v in lists.items()}
            start = i
    if cols is not None:
        yield key, cols


def _numbered(df: DataFrame, part: list[str], order: list[str]) -> DataFrame:
    """``df`` with ``__rn``: each row's 0-based position in its key's
    sequence.  The walker's positions and :func:`_with_window`'s slice
    both index this one numbering, so they agree even when
    ``order_by`` has ties (which number arbitrarily, as for any
    ``row_number``)."""
    from pyspark.sql.window import Window as W
    return df.withColumn("__rn", (F.row_number().over(
        W.partitionBy(*part).orderBy(*order)) - 1).cast("long"))


def _window_key(part: list[str]) -> Column:
    # struct equality matches null keys, as the walker groups them
    return F.struct(*part) if part else F.lit(0)


def _with_window(seq: DataFrame, wins: DataFrame, part: list[str],
                 value_names: list[str]) -> DataFrame:
    """Adds ``window`` to ``wins`` (partition keys, ``__k`` =
    :func:`_window_key`, ``s_at``, ``e_at``, ``closed``): the values of
    ``seq``'s rows ``s_at..e_at`` of the key, in ``__rn`` order.  The
    key's whole sequence is one sorted ``collect_list`` (the per-key
    memory contract of the reference's loop), joined back on ``__k``
    against a frame grouped by it, so when the caller does not select
    ``window`` Catalyst drops the join and the collect entirely."""
    # the higher-order functions as SQL text: Python lambdas cost
    # several JVM round trips each at build time
    values = ", ".join("`" + c.replace("`", "``") + "`" for c in value_names)
    whole = seq.groupBy(_window_key(part).alias("__k")).agg(F.expr(
        f"array_sort(collect_list(struct(__rn AS rn, struct({values}) AS v)),"
        " (a, b) -> CASE WHEN a.rn < b.rn THEN -1"
        " WHEN a.rn > b.rn THEN 1 ELSE 0 END)").alias("__seq"))
    window = F.expr("transform(slice(__seq, s_at + 1, e_at - s_at + 1), "
                    "x -> x.v)")
    return (wins.join(whole, "__k", "left")
            .select(*part, window.alias("window"), "s_at", "e_at", "closed"))


def predicate_windows(
    df: DataFrame,
    order_by: str | list[str],
    start_when: Callable | Column,
    end_when: Callable | Column | None = None,
    *,
    partition_by: str | list[str] | None = None,
    tumbling: bool = False,
    only_end: bool = False,
    exclude_from_window: list[str] | None = None,
) -> DataFrame:
    """Returns one row per window: partition keys, ``window`` (array of
    structs of the non-partition columns, in order), ``s_at``/``e_at``
    (0-based indexes into the key's sequence) and ``closed``.

    A callable ``start_when(curr, at, prev, nxt)`` /
    ``end_when(curr, at, prev, nxt, s_curr, s_at)`` receives dict rows
    (or the bare value if the sequence has a single value column).  A
    ``Column`` condition is a boolean over the current row's columns,
    NULL counting as false; all-Column sliding windows run as JVM
    window functions (:func:`_column_sliding_windows`), anything else
    through the Arrow walker, Column conditions as hidden flag
    columns.  ``end_when=None`` closes no window.  ``order_by``
    should be a total order: ties number arbitrarily.
    """
    part = [partition_by] if isinstance(partition_by, str) else (partition_by or [])
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    hidden = set(exclude_from_window or [])

    value_names = [f.name for f in df.schema.fields
                   if f.name not in part and f.name not in hidden]
    single = value_names[0] if len(value_names) == 1 else None

    conds = [c for c in (start_when, end_when) if c is not None]
    if not tumbling and all(isinstance(c, Column) for c in conds):
        return _column_sliding_windows(df, order, part, value_names,
                                       start_when, end_when, only_end)
    # Column conditions on the walker path: one hidden boolean per
    # row, read by the walker instead of a call (and kept out of the
    # walker's closure: a Column does not pickle); keyed by walk's
    # flag-list argument
    flags = {}
    if isinstance(start_when, Column):
        flags["starts"] = F.coalesce(start_when, F.lit(False))
        start_when = None
    if isinstance(end_when, Column):
        flags["ends"] = F.coalesce(end_when, F.lit(False))
        end_when = None
    # the rows go to the worker only when a callable reads them
    shipped = value_names if start_when or end_when else []
    flag_names = list(flags)

    def columns(pdf: pd.DataFrame) -> dict[str, list]:
        if not shipped:
            vals = [None] * len(pdf)
        elif single:
            vals = pdf[single].tolist()
        else:
            vals = pdf[shipped].to_dict("records")
        return {"vals": vals,
                **{f: pdf[f"__pw_{f}"].tolist() for f in flag_names}}

    names = [*part, "s_at", "e_at", "closed"]

    def gen(batches):
        out = []
        for key, cols in key_runs(batches, part, columns):
            out += [(*key, *w) for w in walk(
                cols["vals"], start_when, end_when, tumbling=tumbling,
                only_end=only_end, starts=cols.get("starts"),
                ends=cols.get("ends"))]
            if len(out) >= _FLUSH_ROWS:
                yield pd.DataFrame.from_records(out, columns=names)
                out = []
        if out:
            yield pd.DataFrame.from_records(out, columns=names)

    schema = T.StructType(
        [f for f in df.schema.fields if f.name in part]
        + [T.StructField("s_at", T.LongType()),
           T.StructField("e_at", T.LongType()),
           T.StructField("closed", T.BooleanType())])
    # the numbering window hash-partitions by key (one partition when
    # there is none), so each key's rows are in one partition; sorted
    # by key and number, they walk as contiguous runs.  One Arrow
    # transfer per partition, not one per key as a grouped
    # applyInPandas would (a no-op over 1500 keys costs ~4 s at sf0.1)
    seq = _numbered(df, part, order)
    wins = (seq.sortWithinPartitions(*part, "__rn")
            .select(*part, *shipped,
                    *[c.alias(f"__pw_{f}") for f, c in flags.items()])
            .mapInPandas(gen, schema)
            .withColumn("__k", _window_key(part)))
    return _with_window(seq, wins, part, value_names)


def _column_sliding_windows(df: DataFrame, order: list[str],
                            part: list[str], value_names: list[str],
                            start: Column, end: Column | None,
                            only_end: bool) -> DataFrame:
    """Sliding windows whose conditions are Columns, as JVM window
    functions.  ``s_at`` is the row's ``__rn``; a window opened at
    ``s_at`` closes at the first position >= ``s_at`` where ``end``
    holds: the running ``min(CASE WHEN end THEN rn END)`` over the key
    ordered by rn DESCENDING, ``ROWS BETWEEN UNBOUNDED PRECEDING AND
    CURRENT ROW``.  (The ascending ``CURRENT ROW AND UNBOUNDED
    FOLLOWING`` frame gives the same value but re-aggregates the rest
    of the key for every row: quadratic per key.)"""
    from pyspark.sql.window import Window as W

    rn = F.col("__rn")
    seq = _numbered(df, part, order)
    back = W.partitionBy(*part).orderBy(rn.desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    # a NULL condition fails both CASE WHEN and the filter
    next_end = (F.min(F.when(end, rn)).over(back) if end is not None
                else F.lit(None).cast("long"))
    closed = F.col("__end").isNotNull()
    # few DataFrame steps: each one is analyzed while the plan is built
    wins = (seq.select("*", next_end.alias("__end"),
                       F.max(rn).over(back).alias("__last"),
                       _window_key(part).alias("__k"))
            .filter(start & closed if only_end else start)
            .select(*part, "__k", rn.alias("s_at"),
                    F.coalesce("__end", "__last").alias("e_at"),
                    closed.alias("closed")))
    return _with_window(seq, wins, part, value_names)


def fixed_windows(
    df: DataFrame,
    order_by: str | list[str],
    size: int,
    *,
    partition_by: str | list[str] | None = None,
    tumbling: bool = False,
    only_full: bool = True,
    exclude_from_window: list[str] | None = None,
) -> DataFrame:
    """Count-based sliding/tumbling windows — the fixed-size special
    case of :func:`predicate_windows` (start_when=True, end at
    ``size`` rows), compiled to native JVM window frames instead of a
    per-row Python loop: collect_list over ROWS BETWEEN CURRENT AND
    size-1 FOLLOWING, whole plan stays codegen-side.  ~10× faster and
    the path the Query DSL picks when the window clause is
    count-based.  Same output schema as predicate_windows:
    (partition keys, window, s_at, e_at, closed)."""
    from pyspark.sql.window import Window as W

    part = [partition_by] if isinstance(partition_by, str) else (partition_by or [])
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    hidden = set(exclude_from_window or [])
    value_names = [f.name for f in df.schema.fields
                   if f.name not in part and f.name not in hidden]

    base = (W.partitionBy(*part) if part else W.partitionBy()) \
        .orderBy(*[F.col(c) for c in order])
    frame = base.rowsBetween(W.currentRow, size - 1)
    out = (df
           .withColumn("s_at", (F.row_number().over(base) - 1).cast("long"))
           .withColumn("window",
                       F.collect_list(F.struct(*value_names)).over(frame)))
    if tumbling:
        out = out.filter(F.col("s_at") % size == 0)
    out = (out
           .withColumn("closed", F.size("window") == size)
           .withColumn("e_at", (F.col("s_at") + F.size("window") - 1).cast("long")))
    if only_full:
        out = out.filter(F.col("closed"))
    return out.select(*part, "window", "s_at", "e_at", "closed")
