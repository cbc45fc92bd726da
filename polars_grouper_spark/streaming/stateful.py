"""Custom stateful streaming operators via Arrow-batched state kernels.

The reference has no streaming surface; these demonstrate the
``applyInPandasWithState`` path for semantics the built-in windowed
aggregations can't express (running totals that must be emitted per
micro-batch, custom eviction policies).

Scale notes: state lives in the state store keyed by the group key —
bounded by distinct keys, not events.  Use timeouts to evict idle keys on
unbounded key spaces.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.timeutil import epoch_us_ntz

RUNNING_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, s double"


def _update_running(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].fillna(0.0).sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def running_user_totals(df: DataFrame) -> DataFrame:
    """Running per-user event count/value-sum, emitted every micro-batch.

    On a streaming frame: ``applyInPandasWithState`` (update mode).  On a
    batch frame: degenerates to the equivalent groupBy aggregation (same
    schema), so callers can reuse one code path in tests and backfills.
    """
    if df.isStreaming:
        return (
            df.groupBy("user_id")
            .applyInPandasWithState(
                _update_running,
                outputStructType=RUNNING_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    from pyspark.sql import functions as F

    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
    )


FUNNEL_OUT_SCHEMA = "user_id long, depth int"
FUNNEL_STATE_SCHEMA = "depth int, last_us long"


def _step_events_in_order(raw_ns, event_types, mask):
    """``(µs, event_type)`` of the masked events in event-time order.

    A stable argsort on the RAW nanoseconds — identical visit order to
    ``sort_values`` on the timestamps, original order only for exact ns
    ties — and the truncation to µs happens after the sort, so two events
    in the same microsecond keep their nanosecond order.
    """
    import numpy as np

    raw = raw_ns[mask]
    order = np.argsort(raw, kind="stable")
    return zip((raw[order] // 1000).tolist(), event_types[mask][order].tolist())


def streaming_funnel(
    df: DataFrame,
    steps: "list[str]",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel depth as a stateful streaming operator: state =
    (current depth, timestamp of the last credited step), advanced by a
    greedy time-ordered scan of each micro-batch's step events.

    Matches the batch ``operators.funnel.funnel_depths`` semantics when
    per-user events arrive in non-decreasing event-time order across
    micro-batches (the standard streaming-funnel contract — a step
    arriving in a later batch with an EARLIER timestamp than an already
    credited step cannot retroactively rewrite the path).  On a batch
    frame it simply delegates to ``funnel_depths``.

    Scale: state is two fixed-width values per user — bounded by the
    user population, not the event volume.
    """
    if not steps:
        raise ValueError("streaming_funnel requires at least one step")
    if not df.isStreaming:
        from pyspark.sql import functions as F

        from ..operators.funnel import funnel_depths

        return funnel_depths(df, steps, user_col, ts_col, type_col).select(
            F.col("u").alias("user_id"), "depth"
        )

    step_list = list(steps)
    n_steps = len(step_list)

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # Per-GROUP hot path (r10, same rationale as streaming_debounce):
        # numpy timestamp decode replaces a pd.Timestamp construction per
        # ROW (datetime64[ns].astype(int64) // 1000 is exactly
        # pd.Timestamp(ts).value // 1000), and a stable argsort on the
        # event time replaces sort_values (see ``_step_events_in_order``).
        depth, last_us = state.get if state.exists else (0, None)
        if last_us is not None and last_us < 0:
            last_us = None  # -1 sentinel: no step credited yet
        first = next(pdfs, None)
        rest = list(pdfs)
        batch = first if not rest else pd.concat([first, *rest], ignore_index=True)
        mask = batch[type_col].isin(step_list).to_numpy()
        tsv = batch[ts_col]
        raw = tsv.to_numpy()
        if raw.dtype == object:
            # tz-aware series materialize as object arrays of Timestamps;
            # Series.astype(int64) yields the same UTC ns as .value did.
            raw = tsv.astype("int64").to_numpy()
        else:
            raw = raw.astype("datetime64[ns]").astype("int64")
        for us, et in _step_events_in_order(raw, batch[type_col].to_numpy(), mask):
            if depth >= n_steps:
                break
            if et == step_list[depth] and (last_us is None or us > last_us):
                depth += 1
                last_us = us
        state.update((depth, last_us if last_us is not None else -1))
        yield pd.DataFrame({"user_id": [key[0]], "depth": [depth]})

    return (
        df.groupBy(user_col)
        .applyInPandasWithState(
            _update,
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STATS_OUT_SCHEMA = "user_id long, n_events long, mean double, std double"
STATS_STATE_SCHEMA = "n long, mean double, m2 double"


def running_user_stats(df: DataFrame) -> DataFrame:
    """Per-user running mean/std, emitted every micro-batch ->
    ``(user_id, n_events, mean, std)`` (population std; both rounded to
    6 by the caller if oracle parity is needed).

    Streaming path: Welford's online algorithm (numerically stable
    single-pass mean/M2) inside ``applyInPandasWithState`` — the
    canonical streaming-anomaly building block: downstream a z-score
    gate is one join of incoming events against this state.  State is
    three fixed-width values per user, bounded by the user population.

    Batch path: delegates to the equivalent groupBy aggregation
    (``avg``/``var_pop``), which is what the DuckDB oracle replays —
    Welford and the two-pass formula agree to float rounding, and the
    contract rounds to 6 decimals.
    """
    from pyspark.sql import functions as F

    if df.isStreaming:

        def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
            n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
            for pdf in pdfs:
                # .tolist() iteration: identical values in identical
                # order (Welford is sequence-sensitive — the arithmetic
                # must NOT be vectorized), just cheaper per element.
                for v in pdf["value"].dropna().tolist():
                    n += 1
                    delta = float(v) - mean
                    mean += delta / n
                    m2 += delta * (float(v) - mean)
            state.update((n, mean, m2))
            std = (m2 / n) ** 0.5 if n > 0 else 0.0
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "mean": [mean],
                    "std": [std],
                }
            )

        return df.groupBy("user_id").applyInPandasWithState(
            _update,
            outputStructType=STATS_OUT_SCHEMA,
            stateStructType=STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    vals = df.where(F.col("value").isNotNull())
    return vals.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg("value").alias("mean"),
        F.sqrt(F.var_pop("value")).alias("std"),
    )


def streaming_debounce(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    *,
    gap_seconds: int,
) -> DataFrame:
    """Per-key greedy rate limit as a CUSTOM stateful streaming operator
    -> append-mode ``(key, id, ts_us)`` of KEPT events: keep an event
    only if >= ``gap_seconds`` passed since the last kept event of its
    key.  The streaming twin of ``operators.debounce``.

    State is ONE long per key (the last kept event-time) — the minimal
    stateful-operator footprint, bounded by key population regardless of
    history.  Each micro-batch sorts its own rows by (ts, id) and
    continues the key's greedy chain from the stored timestamp.

    Exactness contract: equals the batch operator when arrival order is
    event-time-ordered ACROSS micro-batches (the ``streaming/replay``
    time-ordered chunk contract) — a row arriving after the watermark of
    its gap window would be compared against a later kept timestamp.
    Batch inputs delegate to ``operators.debounce`` directly.
    """
    from ..operators.debounce import debounce as batch_debounce

    if not df.isStreaming:
        return batch_debounce(
            df, key_col, ts_col, id_col, gap_seconds=gap_seconds
        )
    gap_us = int(gap_seconds) * 1_000_000

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # Per-GROUP hot path (r10): this body runs once per key per
        # micro-batch — 1500x per batch at sf0.1 — and the pandas
        # concat/sort_values/iloc chain cost ~1.3 ms per call (2.0 s of
        # the measured ~2.4 s per micro-batch).  The numpy form below is
        # ~6x cheaper and semantically identical: lexsort(ids, ts) is
        # the same total order as sort_values(["ts_us", "id"]), and the
        # greedy chain walks the same values.
        import numpy as np

        last = state.get[0] if state.exists else None
        first = next(pdfs, None)
        rest = list(pdfs)
        batch = first if not rest else pd.concat([first, *rest], ignore_index=True)
        ts = batch["ts_us"].to_numpy()
        ids = batch["id"].to_numpy()
        order = np.lexsort((ids, ts))
        ts, ids = ts[order], ids[order]
        keep = []
        for i, t in enumerate(ts.tolist()):
            if last is None or t >= last + gap_us:
                keep.append(i)
                last = int(t)
        state.update((int(last),))
        yield pd.DataFrame({"key": key[0], "id": ids[keep], "ts_us": ts[keep]})

    from pyspark.sql import functions as F

    slim = df.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("id"),
        # session-TZ-independent epoch: ts_us reaches the output
        # (functions.timeutil; round-6 hostile-session sweep finding)
        epoch_us_ntz(F.col(ts_col)).alias("ts_us"),
    )
    return slim.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType="key string, id long, ts_us long",
        stateStructType="last long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
