"""Custom stateful streaming operators via applyInPandasWithState —
the unbounded-stream form of the reference's predicate window clause
(Executor.py:568-638): state that opens on a condition, absorbs
events, and closes on a condition, per key, across micro-batches.

Design for scale: state is per-key and O(1) per open session (start,
last-seen, count, sum — never the raw events), keys are hash-
partitioned across executors by the groupBy, and event-time timeout +
watermark bound state size under late data.

Spark runs applyInPandasWithState on streams only.  On batch input
``stateful_predicate_windows`` walks each key with the batch window
walker (``operators.window_clause.key_runs`` / ``walk``) in one
``mapInPandas``, and ``stateful_sessionize`` runs JVM window
functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Spark SQL type -> pandas dtype for the key column of an EMPTY output
# chunk (a bare [] Series defaults to float64, which Arrow can't cast
# to string/long); non-numeric keys ride as object.
_KEY_PD_DTYPE = {"bigint": "int64", "int": "int32", "smallint": "int16",
                 "tinyint": "int8", "double": "float64", "float": "float32"}


def _key_sql_type(events: DataFrame, key_col: str) -> str:
    return events.schema[key_col].dataType.simpleString()


def _set_event_timeout(state: GroupState, want_ms: int) -> None:
    """Set an event-time timeout, clamped to AFTER the current
    watermark.  A file source delivers micro-batches in file order,
    not event-time order, so a batch can carry a key whose whole
    sequence is OLDER than the watermark another batch already
    advanced — its last-event+gap timestamp is then in the past and
    a raw ``setTimeoutTimestamp`` raises INVALID_TIMEOUT_TIMESTAMP,
    crashing the query (found by the x7 scale rehearsal: 700k events
    across 14 files, month-spread timestamps).  Clamping to
    watermark+1 fires the timeout at the next batch boundary — the
    earliest moment Spark processes timers anyway, so the observable
    flush is identical."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(want_ms, wm + 1))


def stateful_predicate_windows(
        events: DataFrame, *,
        start_when, end_when,
        key_col: str = "user_id", ts_col: str = "ts",
        value_col: str = "value",
        only_end: bool = True,
        sequence_gap_ms: int = 3600_000) -> DataFrame:
    """The reference's TUMBLING predicate window clause
    (window_clause.predicate_windows, Executor.py:568-638) on
    UNBOUNDED input: per key, in event-time order, a window opens when
    ``start_when`` holds (only if none is open), absorbs every element,
    and closes when ``end_when`` holds.  Emits one row per closed
    window: (key, s_at, e_at, s_ts, e_ts, n_events, sum_value), where
    s_at/e_at are 0-based positions in the key's sequence.

    Conditions receive the same arguments as the batch operator —
    ``start_when(curr, at, prev, nxt)`` /
    ``end_when(curr, at, prev, nxt, s_curr, s_at)`` — except that on a
    stream ``nxt`` is always None (no lookahead) and rows are dicts
    ``{"ts": int-microseconds, "value": float}``; conditions meant to
    run identically on both paths should use ``value``/indexes only.

    Scale shape: state per key is O(1) scalars (running aggregate,
    never absorbed rows), keys hash-partition across executors, and an
    event-time timeout ends a key's logical sequence once the
    watermark passes its last event + ``sequence_gap_ms`` — unclosed
    windows are then dropped (``only_end=True``, the reference's `only
    end`) or emitted, and the state is freed.  Tumbling-only: sliding
    predicate windows keep unbounded open-window sets per key, which is
    exactly what an unbounded stream cannot state-bound.

    BATCH input (Spark rejects applyInPandasWithState outside
    streaming) runs the batch walker's loop instead: the events are
    hash-partitioned by key and sorted by key and event time, and one
    ``mapInPandas`` walks each key with
    ``window_clause.key_runs`` / ``window_clause.walk``.  End-of-input
    plays the role of the timeout, so with ``only_end=False`` the
    trailing open window is emitted, same as the stream's timeout
    flush.  Batch conditions additionally see the real ``nxt`` row (a
    stream has no lookahead); conditions written against
    ``value``/indexes (per the contract above) behave identically on
    both paths."""
    from ..helpers import ensure_event_time

    events = ensure_event_time(events, [ts_col])
    out_cols = [key_col, "s_at", "e_at", "s_ts", "e_ts",
                "n_events", "sum_value"]
    out_schema = (f"{key_col} {_key_sql_type(events, key_col)}, "
                  f"s_at long, e_at long, "
                  f"s_ts timestamp, e_ts timestamp, "
                  f"n_events long, sum_value double")
    if not events.isStreaming:
        # one mapInPandas over key-sorted partitions: ~n_cores Arrow
        # transfers in all.  Measured at sf0.1 (100k events / 1500
        # keys) against windows built as arrays of structs and folded
        # with F.aggregate (7.5 s) and per-key applyInPandas (11.8 s:
        # one Arrow batch PER KEY costs ~4 s even for a no-op): 1.3 s
        from ..operators.window_clause import key_runs, walk

        key_pd = _KEY_PD_DTYPE.get(_key_sql_type(events, key_col),
                                   "object")

        def columns(pdf):
            # per-row Python values once per batch, not per key
            ts_us = (pdf[ts_col].astype("int64") // 1000).tolist()
            vals = pdf[value_col].astype("float64").tolist()
            return {"ts": ts_us, "vals": vals,
                    "rows": [{"ts": t, "value": v}
                             for t, v in zip(ts_us, vals)]}

        def gen(batches):
            # closed windows ship as ONE output frame per partition:
            # yielding per key costs one Arrow batch each (1500 keys
            # ≈ +4 s at sf0.1, measured)
            out = []
            for (k,), cols in key_runs(batches, [key_col], columns):
                ts, vals = cols["ts"], cols["vals"]
                out += [(k, s, e, ts[s], ts[e], e - s + 1,
                         sum(vals[s:e + 1]))
                        for s, e, _ in walk(cols["rows"], start_when,
                                            end_when, tumbling=True,
                                            only_end=only_end)]
            # explicit dtypes: an empty frame must still ship
            # Arrow-compatible columns (an empty object column cannot
            # cast to timestamp)
            frame = pd.DataFrame.from_records(out, columns=out_cols).astype(
                {key_col: key_pd, "s_at": "int64", "e_at": "int64",
                 "n_events": "int64", "sum_value": "float64"})
            for c in ("s_ts", "e_ts"):
                frame[c] = pd.to_datetime(frame[c], unit="us")
            yield frame

        return (events.select(key_col, ts_col, value_col)
                .repartition(key_col)
                .sortWithinPartitions(key_col, ts_col, value_col)
                .mapInPandas(gen, out_schema))
    state_schema = ("idx long, open boolean, s_at long, s_ts long, "
                    "s_val double, n long, s double, "
                    "prev_ts long, prev_val double, has_prev boolean")

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        if state.exists:
            (idx, open_, s_at, s_ts, s_val, n, s,
             prev_ts, prev_val, has_prev) = state.get
        else:
            idx, open_, s_at, s_ts, s_val, n, s = 0, False, 0, 0, 0.0, 0, 0.0
            prev_ts, prev_val, has_prev = 0, 0.0, False
        closed = []
        rows = [pdf[[ts_col, value_col]] for pdf in pdfs]
        if rows:
            batch = pd.concat(rows).sort_values([ts_col, value_col],
                                                kind="mergesort")
            for ts, val in zip(batch[ts_col], batch[value_col]):
                ts_us = int(ts.value // 1000)
                curr = {"ts": ts_us, "value": float(val)}
                prev = ({"ts": prev_ts, "value": prev_val}
                        if has_prev else None)
                if not open_ and start_when(curr, idx, prev, None):
                    open_, s_at, s_ts, s_val = True, idx, ts_us, float(val)
                    n, s = 0, 0.0
                if open_:
                    n += 1
                    s += float(val)
                    if end_when(curr, idx, prev, None,
                                {"ts": s_ts, "value": s_val}, s_at):
                        closed.append((s_at, idx, s_ts, ts_us, n, s))
                        open_ = False
                prev_ts, prev_val, has_prev = ts_us, float(val), True
                idx += 1
        if state.hasTimedOut:
            # watermark passed last event + gap: the logical sequence
            # ends — flush or drop the unclosed window, free the state
            if open_ and not only_end:
                closed.append((s_at, idx - 1, s_ts, prev_ts, n, s))
            state.remove()
        else:
            state.update((idx, open_, s_at, s_ts, s_val, n, s,
                          prev_ts, prev_val, has_prev))
            _set_event_timeout(state, prev_ts // 1000 + sequence_gap_ms)
        if not closed:
            yield pd.DataFrame(columns=[key_col, "s_at", "e_at", "s_ts",
                                        "e_ts", "n_events", "sum_value"])
            return
        yield pd.DataFrame({
            key_col: [k] * len(closed),
            "s_at": [c[0] for c in closed],
            "e_at": [c[1] for c in closed],
            "s_ts": [pd.Timestamp(c[2] * 1000) for c in closed],
            "e_ts": [pd.Timestamp(c[3] * 1000) for c in closed],
            "n_events": [c[4] for c in closed],
            "sum_value": [c[5] for c in closed],
        })

    return (events
            .groupBy(key_col)
            .applyInPandasWithState(
                fn, out_schema, state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout
                if events.isStreaming else GroupStateTimeout.NoTimeout))


def stateful_sessionize(events: DataFrame, *, gap_ms: int,
                        key_col: str = "user_id", ts_col: str = "ts",
                        value_col: str = "value",
                        emit_open_on_timeout: bool = True) -> DataFrame:
    """Gap-based sessions as explicit keyed state: a session closes
    when the next event of the same key arrives ``gap_ms`` or more
    after the previous one (strictly: gap >= gap_ms), or when the
    event-time timeout fires after the watermark passes the last event
    + gap.  Emits one row per CLOSED session:
    (key, session_start, n_events, sum_value).

    Works on a streaming DataFrame (requires a watermark on
    ``ts_col`` for the timeout path).  BATCH input (Spark rejects
    applyInPandasWithState outside streaming) dispatches to the
    equivalent lag/cumsum plan — pure JVM window functions, no Python
    loop — where end-of-input plays the role of the timeout: with
    ``emit_open_on_timeout`` every key's final session is emitted,
    otherwise dropped, exactly mirroring the stream."""
    from ..helpers import ensure_event_time

    events = ensure_event_time(events, [ts_col])
    out_schema = (f"{key_col} {_key_sql_type(events, key_col)}, "
                  f"session_start timestamp, "
                  f"n_events long, sum_value double")
    state_schema = "start long, last long, n long, s double"
    gap_us = gap_ms * 1000

    if not events.isStreaming:
        from pyspark.sql.window import Window as W
        wk = W.partitionBy(key_col).orderBy(ts_col, value_col)
        us = F.unix_micros(F.col(ts_col))
        lag_us = F.unix_micros(F.lag(ts_col).over(wk))
        marked = events.withColumn(
            "__new_s",
            F.when(lag_us.isNull() | (us - lag_us >= gap_us), 1).otherwise(0))
        sid = marked.withColumn(
            "__sid", F.sum("__new_s").over(
                wk.rowsBetween(W.unboundedPreceding, W.currentRow)))
        sess = (sid.groupBy(key_col, "__sid")
                .agg(F.min(ts_col).alias("session_start"),
                     F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col(value_col).cast("double"))
                      .alias("sum_value")))
        if not emit_open_on_timeout:
            # the stream never closes a key's final session without a
            # timeout; mirror that by dropping the max-sid session
            last = W.partitionBy(key_col)
            sess = (sess.withColumn("__last", F.max("__sid").over(last))
                    .filter(F.col("__sid") != F.col("__last")))
        return sess.select(key_col, "session_start", "n_events", "sum_value")

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        closed = []

        def load():
            if state.exists:
                return list(state.get)
            return None

        cur = load()
        rows = []
        for pdf in pdfs:
            rows.append(pdf[[ts_col, value_col]])
        if rows:
            batch = pd.concat(rows).sort_values(ts_col, kind="mergesort")
            for ts, val in zip(batch[ts_col], batch[value_col]):
                ts_us = int(ts.value // 1000)  # pandas ns -> µs epoch
                if cur is None:
                    cur = [ts_us, ts_us, 0, 0.0]
                elif ts_us - cur[1] >= gap_us:
                    closed.append(cur)
                    cur = [ts_us, ts_us, 0, 0.0]
                cur[1] = ts_us
                cur[2] += 1
                cur[3] += float(val)
        if state.hasTimedOut:
            if cur is not None and emit_open_on_timeout:
                closed.append(cur)
            cur = None
            state.remove()
        elif cur is not None:
            state.update(tuple(cur))
            # flush the open session once the watermark passes last+gap
            _set_event_timeout(state, (cur[1] + gap_us) // 1000)
        if not closed:
            yield pd.DataFrame(columns=[key_col, "session_start",
                                        "n_events", "sum_value"])
            return
        yield pd.DataFrame({
            key_col: [k] * len(closed),
            "session_start": [pd.Timestamp(c[0] * 1000) for c in closed],
            "n_events": [c[2] for c in closed],
            "sum_value": [c[3] for c in closed],
        })

    return (events
            .groupBy(key_col)
            .applyInPandasWithState(
                fn, out_schema, state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout
                if events.isStreaming else GroupStateTimeout.NoTimeout))
