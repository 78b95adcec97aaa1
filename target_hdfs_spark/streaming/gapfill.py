"""Streaming time-series densification (S-surface twin of
q135_hourly_gapfill): emit one row per (user, hour) — including
zero-filled silent hours — as hours CLOSE, with per-key state carrying
the open hour's running aggregates across micro-batches.

Semantics (the watermark-closure analog, stated precisely):
- an hour bucket is emitted when the FIRST event of a LATER hour
  arrives for that key (the hour "closes");
- silent hours between the closed hour and the newly opened one are
  emitted as zero rows at the same moment — so the emitted stream is
  gap-free and hour-ordered per key;
- the currently-open hour sits in state, not yet emitted (exactly a
  windowed aggregation's unclosed-window behavior).

Parity contract (pinned in tests/test_streaming_gapfill.py): over an
event-time-ordered per-key stream, the emitted rows equal the batch
q135 result minus each user's final (still-open) hour.

Exactness across batch boundaries: the open hour's value sum is held
as an int64 of 1e4-scaled units (events.value has 4 decimal digits in
the engine's DECIMAL(12,4) convention), so an hour split across
micro-batches accumulates exactly; the emitted double equals the
batch side's decimal→string→double value because both are the
correctly-rounded double of the same rational.

Scale: state is three int64s per key; each trigger's work is O(batch)
plus the emitted gap rows — the same output cardinality the batch
scaffold produces. A key silent for a year emits its gap rows only
when it next speaks. The densifier runs on the keyed-state scaffold
of streaming/stateful.py (``keyed_state_stream``) without a TTL:
evicting an idle key would drop its open hour before it closes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from target_hdfs_spark.streaming.stateful import keyed_state_stream

HOUR_US = 3_600_000_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("hour_start_us", T.LongType()),  # epoch µs, hour-truncated
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("open_hour_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_scaled", T.LongType()),  # value * 1e4, exact
    ]
)


def _scaled(value: float) -> int:
    # events.value carries 4 decimal digits (DECIMAL(12,4) convention);
    # round-half-up like the engine's decimal cast
    return int(round(value * 10_000))


def _fill_step(
    key: tuple, rows: pd.DataFrame, prior: tuple | None
) -> tuple[list[tuple], tuple]:
    open_hour, n_ev, sum_sc = prior if prior is not None else (None, 0, 0)
    out: list[tuple] = []
    for ts, value in zip(rows["ts"], rows["value"]):
        hour = (int(ts.value) // 1000 // HOUR_US) * HOUR_US  # ns -> µs
        if open_hour is None:
            open_hour, n_ev, sum_sc = hour, 0, 0
        elif hour > open_hour:
            # close the open hour, zero-fill the silence, reopen
            out.append((key[0], open_hour, n_ev, sum_sc / 10_000.0))
            gap = open_hour + HOUR_US
            while gap < hour:
                out.append((key[0], gap, 0, 0.0))
                gap += HOUR_US
            open_hour, n_ev, sum_sc = hour, 0, 0
        # hour < open_hour would be out-of-order input (contract:
        # event-time ordered per key); fold into the open hour
        n_ev += 1
        sum_sc += _scaled(float(value))
    return out, (open_hour, n_ev, sum_sc)


def stream_hourly_gapfill(events: DataFrame) -> DataFrame:
    """Start the densifier on a streaming frame with
    (user_id, event_id, ts, value)."""
    return keyed_state_stream(
        events, "user_id", _fill_step, OUTPUT_SCHEMA, STATE_SCHEMA
    )
