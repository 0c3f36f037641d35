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
and ordered by ``order_by`` within the key.  A condition is either a
Python callable or a pyspark ``Column``:

* Callables (DSL lambdas, pql ``when`` strings) run in an Arrow walker
  (``mapInPandas`` over key-sorted partitions) — distributed across
  executors by key, never collected to the driver.
* A ``Column`` is a boolean over the sequence row's own columns; NULL
  counts as false.  When every condition is a Column and the window
  is sliding, the operator compiles to plain JVM window functions —
  no Python in the plan.  A Column cannot see neighbours or the
  window's start, so the next end position is the same for every
  window open at a row: one ``row_number`` numbers the sequence, and
  a running ``min(CASE WHEN end THEN rn END)`` over the key in
  DESCENDING rn order (a running frame, linear per key) gives each
  start its closing position.
* Column conditions in a TUMBLING window (whose opens depend on the
  previous close), or mixed with a callable, are evaluated into hidden
  boolean columns that the Arrow walker reads; they never appear in
  the window structs.

For a single global sequence pass ``partition_by=None`` (all rows flow
to one task; fine for bounded sequences, document the skew).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norm_key(v):
    """NaN/NaT → None so null partition keys compare equal (NaN != NaN
    would splinter null-keyed rows into singleton groups).  Non-scalar
    key values (arrays) pass through untouched."""
    try:
        return None if pd.isna(v) else v
    except (TypeError, ValueError):
        return v


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
    columns.  ``end_when=None`` closes no window.
    """
    part = [partition_by] if isinstance(partition_by, str) else (partition_by or [])
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    hidden = set(exclude_from_window or [])

    value_fields = [f for f in df.schema.fields
                    if f.name not in part and f.name not in hidden]
    value_names = [f.name for f in value_fields]
    single = value_names[0] if len(value_names) == 1 else None

    conds = [c for c in (start_when, end_when) if c is not None]
    if not tumbling and all(isinstance(c, Column) for c in conds):
        return _column_sliding_windows(df, order, part, value_names,
                                       start_when, end_when, only_end)
    # Column conditions on the walker path: one hidden boolean per
    # row, read by the walker instead of a call (and kept out of the
    # walker's closure: a Column does not pickle)
    start_flag = end_flag = None
    if isinstance(start_when, Column):
        start_flag = "__pw_start"
        df = df.withColumn(start_flag, F.coalesce(start_when, F.lit(False)))
        start_when = None
    if isinstance(end_when, Column):
        end_flag = "__pw_end"
        df = df.withColumn(end_flag, F.coalesce(end_when, F.lit(False)))
        end_when = None

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name in part]
        + [
            T.StructField("window", T.ArrayType(T.StructType(value_fields))),
            T.StructField("s_at", T.LongType()),
            T.StructField("e_at", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )

    def run(pdf: pd.DataFrame, presorted: bool = False) -> pd.DataFrame:
        if not presorted:
            pdf = pdf.sort_values(order, kind="mergesort")
        keys = {k: pdf.iloc[0][k] for k in part} if part else {}
        rows = pdf[value_names].to_dict("records")
        vals = [r[single] if single else r for r in rows]
        starts = pdf[start_flag].tolist() if start_flag else None
        ends = pdf[end_flag].tolist() if end_flag else None
        n = len(vals)
        out = []
        open_ws: list[dict] = []
        for i in range(n):
            prev = vals[i - 1] if i > 0 else None
            nxt = vals[i + 1] if i + 1 < n else None
            if not tumbling or not open_ws:
                if (starts[i] if starts is not None
                        else start_when(vals[i], i, prev, nxt)):
                    open_ws.append({"rows": [], "s_at": i, "s_curr": vals[i]})
            still = []
            for w in open_ws:
                w["rows"].append(rows[i])
                if ends is not None:
                    closes = ends[i]
                else:
                    closes = end_when and end_when(vals[i], i, prev, nxt,
                                                   w["s_curr"], w["s_at"])
                if closes:
                    out.append({**keys, "window": w["rows"],
                                "s_at": w["s_at"], "e_at": i, "closed": True})
                else:
                    still.append(w)
            open_ws = still
        if not only_end:
            for w in open_ws:
                out.append({**keys, "window": w["rows"],
                            "s_at": w["s_at"], "e_at": n - 1, "closed": False})
        return pd.DataFrame(out, columns=[*part, "window", "s_at", "e_at", "closed"])

    if part:
        # Batch dispatch, not per-key applyInPandas: FlatMapGroupsInPandas
        # ships ONE Arrow batch per key — ruinous at high key cardinality
        # (a no-op over 1500 keys costs ~4 s at sf0.1; see
        # streaming/stateful.py where this was first measured).  Instead
        # repartition+sort by key and walk sorted runs inside mapInPandas:
        # one Arrow transfer per core, one output frame per partition.  A
        # key's rows arrive contiguously but may span Arrow batches, so
        # the current key buffers across the boundary.
        out_cols = [*part, "window", "s_at", "e_at", "closed"]
        # Yield incrementally (every ~_FLUSH_ROWS output rows) so peak
        # worker memory is bounded by the largest single key plus one
        # flush buffer, not the whole partition's output.
        _FLUSH_ROWS = 1 << 14

        def gen(batches):
            pending: list[pd.DataFrame] = []
            pending_rows = 0
            buf: list[pd.DataFrame] = []
            buf_key = None

            def flush():
                nonlocal pending_rows
                if buf:
                    pdf = (pd.concat(buf, ignore_index=True)
                           if len(buf) > 1 else buf[0])
                    res = run(pdf, presorted=True)
                    if len(res):
                        pending.append(res)
                        pending_rows += len(res)

            def drain():
                nonlocal pending_rows
                if pending:
                    out = (pd.concat(pending, ignore_index=True)
                           if len(pending) > 1 else pending[0])
                    pending.clear()
                    pending_rows = 0
                    yield out[out_cols]

            for pdf in batches:
                if not len(pdf):
                    continue
                # Null partition keys: NaN != NaN would splinter every
                # null-keyed row into its own group — normalise to None
                # so nulls group together (matching groupBy semantics).
                keys = [tuple(_norm_key(v) for v in row)
                        for row in
                        pdf[part].itertuples(index=False, name=None)]
                start = 0
                for i in range(1, len(keys) + 1):
                    if i == len(keys) or keys[i] != keys[start]:
                        chunk = pdf.iloc[start:i]
                        if buf_key is not None and keys[start] == buf_key:
                            buf.append(chunk)
                        else:
                            flush()
                            if pending_rows >= _FLUSH_ROWS:
                                yield from drain()
                            buf, buf_key = [chunk], keys[start]
                        start = i
            flush()
            yield from drain()

        return (df.repartition(*part)
                .sortWithinPartitions(*part, *order)
                .mapInPandas(gen, out_schema))
    # single global sequence: one group (bounded-size sequences only)
    return (df.withColumn("__g", F.lit(1)).groupBy("__g")
            .applyInPandas(lambda pdf: run(pdf.drop(columns="__g")), out_schema))


def _column_sliding_windows(df: DataFrame, order: list[str],
                            part: list[str], value_names: list[str],
                            start: Column, end: Column | None,
                            only_end: bool) -> DataFrame:
    """Sliding windows whose conditions are Columns, as JVM window
    functions.  ``s_at`` is the row's ``row_number() - 1``; a window
    opened at ``s_at`` closes at the first position >= ``s_at`` where
    ``end`` holds: the running ``min(CASE WHEN end THEN rn END)`` over
    the key ordered by rn DESCENDING, ``ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW``.  (The ascending ``CURRENT ROW AND
    UNBOUNDED FOLLOWING`` frame gives the same value but re-aggregates
    the rest of the key for every row: quadratic per key.)

    ``window`` slices the key's whole sequence — one sorted
    ``collect_list`` per key, the walker's per-key memory contract —
    joined back on the key.  The join is on a struct of the partition
    columns (struct equality matches null keys, as the walker groups
    them) against a frame grouped by that struct, so when the caller
    does not select ``window`` Catalyst drops the join and the
    collect entirely.  ``order_by`` should be a total order, as for
    any ``row_number``: ties number arbitrarily."""
    from pyspark.sql.window import Window as W

    by = W.partitionBy(*part)
    rn = F.col("__rn")
    seq = df.withColumn("__rn", (F.row_number().over(by.orderBy(*order))
                                 - 1).cast("long"))
    back = by.orderBy(rn.desc()).rowsBetween(W.unboundedPreceding,
                                              W.currentRow)
    # a NULL condition fails both CASE WHEN and the filter
    next_end = (F.min(F.when(end, rn)).over(back) if end is not None
                else F.lit(None).cast("long"))
    key = F.struct(*part) if part else F.lit(0)
    closed = F.col("__end").isNotNull()
    # few DataFrame steps: each one is analyzed while the plan is built
    wins = (seq.select("*", next_end.alias("__end"),
                       F.max(rn).over(back).alias("__last"), key.alias("__k"))
            .filter(start & closed if only_end else start))
    # the higher-order functions as SQL text: Python lambdas cost
    # several JVM round trips each at build time
    values = ", ".join("`" + c.replace("`", "``") + "`" for c in value_names)
    whole = seq.groupBy(key.alias("__k")).agg(F.expr(
        f"array_sort(collect_list(struct(__rn AS rn, struct({values}) AS v)),"
        " (a, b) -> CASE WHEN a.rn < b.rn THEN -1"
        " WHEN a.rn > b.rn THEN 1 ELSE 0 END)").alias("__seq"))
    e_at = F.coalesce("__end", "__last")
    window = F.expr("transform(slice(__seq, __rn + 1, "
                    "coalesce(__end, __last) - __rn + 1), x -> x.v)")
    return (wins.join(whole, "__k", "left")
            .select(*part, window.alias("window"), rn.alias("s_at"),
                    e_at.alias("e_at"), closed.alias("closed")))


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
