"""Event-stream operators over the ``events`` table
(event_id, ts, user_id, event_type, value, props-json).

The reference engine has no event semantics — these are the
training-data-pipeline operators a 100 TB ingestion needs around the
HTML corpus (activity sessionization for crawl scheduling, windowed
rollups, JSON prop extraction), built Spark-first:

  * ``sessionize``      — batch sessions via window functions (one
    shuffle on user_id; lag + running sum, no Python);
  * ``windowed_counts`` — tumbling event-time windows (partial-agg
    groupBy; in streaming form the same expression runs under a
    watermark);
  * ``json_props``      — JSON scalar extraction (get_json_object,
    JVM-side);
  * ``sessionize_stream`` — the custom STATEFUL streaming operator
    (applyInPandasWithState): per-user open-session state, closed
    sessions emitted as the gap rule fires.  Its parity oracle is the
    batch ``sessionize`` minus each user's final (still-open) session —
    see tests/test_events.py.

Timestamps are exposed as epoch microseconds (bigint) so DuckDB oracles
hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

#: session inactivity gap (seconds)
SESSION_GAP_S = 30 * 60

#: tumbling-window width of ``windowed_counts`` (a Spark interval string
#: that DuckDB also reads after ``interval``)
ROLLUP_WINDOW = "1 hour"

#: tz-independent epoch microseconds for a TIMESTAMP_NTZ column (the
#: parquet type here); matches DuckDB epoch_us exactly
def _us(col: str) -> str:
    return f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {col})"


def sessionize(events: DataFrame) -> DataFrame:
    """(user_id, session_idx, n_events, t_start_us, t_end_us, total_value)

    A new session starts when the gap to the user's previous event
    exceeds ``SESSION_GAP_S``.  Deterministic tie-break: (ts, event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microsecond arithmetic — hashes identically in DuckDB
    us = F.expr(_us("ts"))
    flagged = events.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w) > SESSION_GAP_S * 1_000_000, 1)
        .otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(_us("min(ts)")).alias("t_start_us"),
            F.expr(_us("max(ts)")).alias("t_end_us"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def sessionize_duck(events_rel: str = "events",
                    gap_s: int = SESSION_GAP_S) -> str:
    """DuckDB twin of :func:`sessionize`."""
    return (
        "select user_id, session_idx, cast(count(*) as bigint) as n_events, "
        "epoch_us(min(ts)) as t_start_us, epoch_us(max(ts)) as t_end_us, "
        "round(sum(value), 6) as total_value from ("
        " select *, cast(sum(new_session) over ("
        "  partition by user_id order by ts, event_id "
        "  rows between unbounded preceding and current row) as bigint) "
        "  as session_idx from ("
        "  select *, case when epoch_us(ts) - lag(epoch_us(ts)) over ("
        f"   partition by user_id order by ts, event_id) > {gap_s} * 1000000 "
        "   then 1 else 0 end as new_session "
        f"  from {events_rel})"
        ") group by user_id, session_idx"
    )


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling ``ROLLUP_WINDOW`` event-time rollup per event_type:
    (window_start_us, event_type, n, sum_value).  In streaming form the
    identical expression runs after ``withWatermark('ts', ...)``."""
    return (
        events.groupBy(F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.expr(_us("w.start")).alias("window_start_us"),
                "event_type", "n", "sum_value")
    )


def windowed_counts_duck(events_rel: str = "events") -> str:
    return (
        f"select epoch_us(time_bucket(interval {ROLLUP_WINDOW}, ts)) "
        "as window_start_us, "
        "event_type, cast(count(*) as bigint) as n, "
        "round(sum(value), 6) as sum_value "
        f"from {events_rel} group by 1, 2"
    )


def json_props(events: DataFrame) -> DataFrame:
    """JSON scalar extraction: per-user sum of the ``k`` prop —
    get_json_object stays JVM-side (no UDF)."""
    return (
        events.selectExpr(
            "user_id", "cast(get_json_object(props, '$.k') as bigint) as k")
        .groupBy("user_id")
        .agg(F.sum("k").cast("bigint").alias("k_total"),
             F.count("*").cast("bigint").alias("n"))
    )


def json_props_duck(events_rel: str = "events") -> str:
    return (
        "select user_id, cast(sum(cast(json_extract_string(props, '$.k') "
        "as bigint)) as bigint) as k_total, cast(count(*) as bigint) as n "
        f"from {events_rel} group by user_id"
    )


# ---------------------------------------------------------------------------
# custom stateful streaming operator
# ---------------------------------------------------------------------------

SESSION_STATE_SCHEMA = (
    "start_us bigint, last_us bigint, n bigint, total double, idx bigint"
)
SESSION_OUT_SCHEMA = (
    "user_id bigint, session_idx bigint, n_events bigint, "
    "t_start_us bigint, t_end_us bigint, total_value double"
)


def _session_fn(key, pdfs, state):
    """applyInPandasWithState body: merge the batch's events into the
    per-user open session; emit every session CLOSED by the gap rule.
    The still-open session stays in state (emitted never — the batch
    oracle drops each user's final session to match).

    Vectorized: NumPy gap-diff segments the whole batch; Python touches
    only the state seam (merge-or-close the carried open session)."""
    import numpy as np
    import pandas as pd

    gap_us = SESSION_GAP_S * 1_000_000
    (user_id,) = key
    ts_l, v_l, id_l = [], [], []
    for pdf in pdfs:
        ts_l.append(pdf["ts"].to_numpy(
            dtype="datetime64[ns]").astype("int64") // 1000)
        v_l.append(pdf["value"].to_numpy(dtype="float64"))
        id_l.append(pdf["event_id"].to_numpy(dtype="int64"))
    ts = np.concatenate(ts_l) if ts_l else np.empty(0, dtype="int64")
    if len(ts) == 0:
        if state.exists:
            state.update(state.get)   # keep the open session untouched
        return
    v = np.concatenate(v_l)
    order = np.lexsort((np.concatenate(id_l), ts))
    ts, v = ts[order], v[order]

    if state.exists:
        start_us, last_us, n0, total0, idx = state.get
    else:
        start_us = None

    # new[i] = event i opens a new session (gap vs the previous event,
    # or vs the carried session's last event for i = 0)
    new = np.empty(len(ts), dtype=bool)
    new[0] = start_us is None or ts[0] - last_us > gap_us
    if len(ts) > 1:
        np.greater(ts[1:] - ts[:-1], gap_us, out=new[1:])
    starts = np.flatnonzero(new)
    cont = not new[0]                 # segment 0 continues the open session
    if cont:
        starts = np.concatenate(([0], starts))
    ends = np.append(starts[1:], len(ts))
    counts = (ends - starts).tolist()
    totals = np.add.reduceat(v, starts).tolist()
    seg_start = ts[starts].tolist()
    seg_end = ts[ends - 1].tolist()

    closed = []
    if start_us is None:
        idx = 0
    elif cont:
        counts[0] += n0
        totals[0] += total0
        seg_start[0] = start_us
    else:                             # the carried session closes first
        closed.append((user_id, idx, n0, start_us, last_us,
                       round(total0, 6)))
        idx += 1
    for k in range(len(counts) - 1):
        closed.append((user_id, idx + k, counts[k], seg_start[k],
                       seg_end[k], round(totals[k], 6)))
    state.update((seg_start[-1], seg_end[-1], counts[-1], totals[-1],
                  idx + len(counts) - 1))
    if closed:
        yield pd.DataFrame(closed, columns=[
            "user_id", "session_idx", "n_events", "t_start_us", "t_end_us",
            "total_value"])


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization over a streaming events DataFrame.

    NOTE: correctness of the gap rule requires each user's events to
    arrive in event-time order ACROSS micro-batches (within a batch the
    function sorts).  The pytest feeds time-split files in order; a
    production job puts a watermark + sort upstream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
