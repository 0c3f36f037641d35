"""Parity helpers (reference pythonql/helpers.py, pandas_lib.py).

The reference's helpers operate on in-memory tuple generators; here
they are DataFrame-shaped:

* ``flatten_deep``  — deep-flatten nested array columns (helpers.py:18
  ``flatten``); fixed-depth JVM expression, no Python.
* ``outer``         — reference helpers.py:11: empty sequence → [None]
  so the following ``for`` keeps the row.  In the DSL this is
  ``for_(var, expr, outer=True)`` (explode_outer); the helper exists
  for standalone use.
* ``empty``         — predicate for "sequence has no rows".
* ``to_df`` / ``print_table`` — pandas bridge / pretty print
  (pandas_lib.py:to_df, helpers.py:print_table).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_infer_fallback_logged = False


def ensure_event_time(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Normalize event-time columns to TimestampType.

    Parquet written with ``isAdjustedToUTC=0`` surfaces as
    TIMESTAMP_NTZ, which Spark's watermarks (EVENT_TIME_IS_NOT_ON_
    TIMESTAMP_TYPE) and several casts reject.  The engine pins the
    session time zone to UTC (session.py), so NTZ -> Timestamp is a
    pure relabeling of the same instant.  ``cols=None`` converts every
    NTZ column; otherwise only the named ones."""
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if (cols is None or f.name in cols) and \
                isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def flatten_deep(df: DataFrame, col: str) -> DataFrame:
    """Deep-flatten a nested array column to a single level, driven by
    the actual schema (arrays in Spark are finitely typed, so the loop
    terminates).  Each step is the JVM ``flatten``; no Python."""
    from pyspark.sql import types as T

    def nesting(dt) -> int:
        n = 0
        while isinstance(dt, T.ArrayType):
            n += 1
            dt = dt.elementType
        return n

    dt = df.schema[col].dataType
    for _ in range(nesting(dt) - 1):
        df = df.withColumn(col, F.flatten(F.col(col)))
    return df


def outer(col: str | Column) -> Column:
    """Empty/null array → array(null), so explode keeps the row.
    Equivalent to using explode_outer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | (F.size(c) == 0),
                  F.array(F.lit(None))).otherwise(c)


def empty(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (F.size(c) == 0)


def to_df(df: DataFrame, limit: int | None = None):
    """DataFrame → pandas (reference pandas_lib.to_df)."""
    return (df.limit(limit) if limit else df).toPandas()


def print_table(df: DataFrame, n: int = 20, max_len: int = 0) -> None:
    """Pretty-print (reference helpers.print_table)."""
    df.show(n, truncate=max_len if max_len else True)


def with_checksum(df: DataFrame, round_floats: int = 6) -> DataFrame:
    """Append a per-row ``checksum`` column: md5 over the canonical
    rendering of every other column (sorted by name, floats rounded to
    ``round_floats``, NULL → a sentinel, binary hex-encoded).

    Convention for rows-only bench keys (no SQL oracle): the external
    correctness driver records only the row count for these, so a
    wrong-but-right-cardinality regression would be invisible.  The
    checksum makes the VALUES part of the recorded surface — any
    hash-style comparison of the output now binds them — and the
    partition-stability unit test (tests/test_checksums.py) asserts
    the full checksummed output is identical across 2- vs 8-partition
    runs, i.e. the query is genuinely deterministic.  Pure per-row
    projection: no shuffle, no extra scan."""
    from pyspark.sql import types as T

    parts = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), round_floats)
        elif isinstance(f.dataType, T.BinaryType):
            c = F.hex(c)
        parts.append(F.coalesce(c.cast("string"), F.lit("∅")))
    return df.withColumn("checksum", F.md5(F.concat_ws("|", *parts)))


def local_rows_df(spark, rows, schema, rows_per_slice: int = 200_000):
    """DataFrame from a small driver-resident row list WITHOUT the
    default fan-out: ``createDataFrame(list)`` parallelizes into
    ``defaultParallelism`` slices, so even a ONE-row broadcast source
    (a Bloom bit array, a classifier weight vector) schedules a
    32-task stage of empty work — measured 32 tasks for one row, each
    paying per-task scheduling/dispatch overhead.  One slice per
    ``rows_per_slice`` rows keeps big bounded lists (the 1M-pair
    union-find output) reasonably parallel while tiny frames run one
    task.  Callers must pass an explicit ``schema`` (RDD input skips
    inference)."""
    rows = list(rows)
    n = max(1, -(-len(rows) // rows_per_slice))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema)


def local_rows_df_infer(spark, rows, rows_per_slice: int = 200_000):
    """:func:`local_rows_df` for callers without an explicit schema
    (dict / namedtuple / tuple rows from the pql() front-end's bounded
    env sequences): infer the schema exactly as ``createDataFrame``
    would — the same full-list merge, driver-side, no job — then
    parallelize in size-proportional slices.  Falls back to the plain
    default-sliced path (logged once) if the inference internals ever
    move."""
    global _infer_fallback_logged
    rows = list(rows)
    try:
        schema = spark._inferSchemaFromList(rows, names=None)
    except (AttributeError, TypeError) as e:
        if not _infer_fallback_logged:
            _infer_fallback_logged = True
            _log.warning("local_rows_df_infer: schema inference internals "
                         "unavailable (%s); using createDataFrame(rows)", e)
        return spark.createDataFrame(rows)
    return local_rows_df(spark, rows, schema, rows_per_slice)
