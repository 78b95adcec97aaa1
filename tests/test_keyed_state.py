"""The keyed-state scaffold behind every applyInPandasWithState twin
(streaming/stateful.py ``keyed_state_stream``).

The first tests drive the scaffold's per-group function with a stub
GroupState, so the TTL policy is checked without a Spark query. The
last one pins the state layout each operator hands to
applyInPandasWithState: a checkpoint written before a change must
restore after it, so these schemas may only change on purpose.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import types as T
from pyspark.sql.group import GroupedData

from target_hdfs_spark.streaming import gapfill, stateful
from target_hdfs_spark.streaming.stateful import _keyed_group

TTL = 60_000

OUT = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("span", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("hit", T.BooleanType()),
    ]
)


class StubState:
    """The GroupState surface the scaffold uses, recording each call."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeouts: list[int] = []

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.removed = True
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeouts.append(ms)


def _batch(*ts_ms_and_ids):
    return pd.DataFrame(
        {
            "ts": [pd.Timestamp(ms, unit="ms") for ms, _ in ts_ms_and_ids],
            "event_id": [eid for _, eid in ts_ms_and_ids],
        }
    )


def _counting_step(seen):
    """Counts events per key; records what the scaffold hands it."""

    def step(key, rows, prior):
        seen.append((prior, list(rows["event_id"])))
        n = (prior[0] if prior is not None else 0) + len(rows)
        return [(key[0], n, 1, 0.5, True)], (n,)

    return step


def _run(step, state, chunks, ttl_ms=TTL, order=("ts", "event_id")):
    group = _keyed_group(step, OUT, ttl_ms, order)
    (frame,) = list(group(("a",), iter(chunks), state))
    return frame


def test_timed_out_key_is_removed_and_emits_typed_empty_frame():
    seen: list = []
    state = StubState(value=(3, 5_000), timed_out=True)
    frame = _run(_counting_step(seen), state, [])
    assert state.removed and not state.exists
    assert seen == [] and state.timeouts == []
    assert frame.empty
    assert list(frame.columns) == OUT.fieldNames()
    assert [str(d) for d in frame.dtypes] == [
        "object", "int64", "int32", "float64", "bool"
    ]


def test_step_sees_prior_without_last_ms_and_rows_concatenated_in_order():
    seen: list = []
    state = StubState(value=(3, 5_000))
    # two Arrow chunks of one group, out of order across and within
    chunks = [_batch((7_000, 9), (6_000, 8)), _batch((6_000, 2))]
    frame = _run(_counting_step(seen), state, chunks)
    assert seen == [((3,), [2, 8, 9])]
    assert state.value == (6, 7_000)
    assert state.timeouts == [7_000 + TTL]
    assert list(frame.itertuples(index=False, name=None)) == [("a", 6, 1, 0.5, True)]


def test_out_of_order_batch_does_not_rewind_the_timer():
    seen: list = []
    state = StubState(value=(1, 50_000))
    # every event of this batch is older than the key's latest-ever one
    _run(_counting_step(seen), state, [_batch((20_000, 4), (10_000, 3))])
    assert state.timeouts == [50_000 + TTL]
    assert state.value == (3, 50_000)
    # a batch past the stored clock moves it forward again
    _run(_counting_step(seen), state, [_batch((80_000, 5))])
    assert state.timeouts == [50_000 + TTL, 80_000 + TTL]
    assert state.value == (4, 80_000)


def test_new_key_arms_from_its_batch_max():
    state = StubState()
    _run(_counting_step([]), state, [_batch((30_000, 1))])
    assert state.value == (1, 30_000)
    assert state.timeouts == [30_000 + TTL]


def test_no_ttl_mode_stores_no_last_ms_and_sets_no_timeout():
    seen: list = []
    state = StubState(value=(2,))
    frame = _run(_counting_step(seen), state, [_batch((1_000, 1))], ttl_ms=None)
    assert seen == [((2,), [1])]
    assert state.value == (3,)
    assert state.timeouts == []
    assert len(frame) == 1


def test_empty_step_output_emits_typed_empty_frame_and_order_off_keeps_arrival():
    seen: list = []

    def step(key, rows, prior):
        seen.append(list(rows["event_id"]))
        return [], ()

    chunks = [_batch((2_000, 2), (1_000, 1))]
    frame = _run(step, StubState(), chunks, ttl_ms=None, order=())
    assert seen == [[2, 1]]
    assert frame.empty and list(frame.columns) == OUT.fieldNames()


# Layouts recorded at the commit before the scaffold existed, per
# operator: (output schema, state schema without TTL, state schema
# with TTL — None where the operator has no TTL option).
PINNED = {
    "running_zscore_anomalies": (
        "struct<user_id:bigint,event_id:bigint,value:double,zscore:double,n_prior:bigint>",
        "struct<n:bigint,total:double,total_sq:double>",
        "struct<n:bigint,total:double,total_sq:double,last_ms:bigint>",
    ),
    "consecutive_pattern_stream": (
        "struct<user_id:bigint,event_id:bigint>",
        "struct<suffix:string>",
        None,
    ),
    "multi_pattern_stream": (
        "struct<user_id:bigint,pattern:string,last_event_id:bigint>",
        "struct<suffix:string>",
        "struct<suffix:string,last_ms:bigint>",
    ),
    "funnel_stage_stream": (
        "struct<user_id:bigint,stage:string,stage_ts_us:bigint,since_view_us:bigint>",
        "struct<c0_us:array<bigint>,c1_us:array<bigint>,c2_us:array<bigint>>",
        "struct<c0_us:array<bigint>,c1_us:array<bigint>,c2_us:array<bigint>,last_ms:bigint>",
    ),
    "scd2_interval_stream": (
        "struct<user_id:bigint,event_type:string,value:double,valid_from_us:bigint,valid_to_us:bigint>",
        "struct<open_type:string,open_value:double,open_from_us:bigint>",
        None,
    ),
    "gapped_pattern_stream": (
        "struct<user_id:bigint,pattern:string,first_event_id:bigint,last_event_id:bigint,span:int>",
        "struct<suffix_types:string,suffix_ids:string>",
        "struct<suffix_types:string,suffix_ids:string,last_ms:bigint>",
    ),
    "time_weighted_stream": (
        "struct<user_id:bigint,n_intervals:bigint,total_us:bigint,twap_cents:bigint>",
        "struct<last_t_us:bigint,last_v_cents:bigint,sum_w_us:bigint,sum_vw:bigint,n_intervals:bigint>",
        "struct<last_t_us:bigint,last_v_cents:bigint,sum_w_us:bigint,sum_vw:bigint,n_intervals:bigint,last_ms:bigint>",
    ),
    "transition_stream": (
        "struct<user_id:bigint,src:string,dst:string,dst_ts_us:bigint>",
        "struct<last_type:string>",
        "struct<last_type:string,last_ms:bigint>",
    ),
    "ema_stream": (
        "struct<user_id:bigint,n_events:bigint,ema_micro:bigint>",
        "struct<ema_micro:bigint,n_events:bigint>",
        "struct<ema_micro:bigint,n_events:bigint,last_ms:bigint>",
    ),
    "clamped_balance_stream": (
        "struct<user_id:bigint,n_events:bigint,final_balance_cents:bigint,n_resets:bigint>",
        "struct<bal:bigint,resets:bigint,n_events:bigint>",
        "struct<bal:bigint,resets:bigint,n_events:bigint,last_ms:bigint>",
    ),
    "kmv_distinct_stream": (
        "struct<event_type:string,n_in_sketch:bigint,kth_hash:bigint,est_distinct:bigint>",
        "struct<mins:array<bigint>>",
        "struct<mins:array<bigint>,last_ms:bigint>",
    ),
    "countmin_stream": (
        "struct<event_type:string,probe_user:bigint,est_c:bigint>",
        "struct<cells:array<bigint>,n_events:bigint>",
        "struct<cells:array<bigint>,n_events:bigint,last_ms:bigint>",
    ),
    "bloom_filter_stream": (
        "struct<event_type:string,probe_user:bigint,is_positive:boolean>",
        "struct<pos:array<bigint>>",
        "struct<pos:array<bigint>,last_ms:bigint>",
    ),
    "quantile_stream": (
        "struct<event_type:string,q_pct:bigint,est:bigint,n_obs:bigint>",
        "struct<cells:array<bigint>,n:bigint>",
        "struct<cells:array<bigint>,n:bigint,last_ms:bigint>",
    ),
    "reservoir_stream": (
        "struct<event_type:string,n_seen:bigint,sample_ids:string>",
        "struct<hv:array<bigint>,ids:array<bigint>,n:bigint>",
        "struct<hv:array<bigint>,ids:array<bigint>,n:bigint,last_ms:bigint>",
    ),
    "mg_heavy_hitters_stream": (
        "struct<event_type:string,user_id:bigint,mg_count:bigint,offset:bigint,n_events:bigint>",
        "struct<users:array<bigint>,cnts:array<bigint>,offset:bigint,n_events:bigint>",
        "struct<users:array<bigint>,cnts:array<bigint>,offset:bigint,n_events:bigint,last_ms:bigint>",
    ),
    "pack_offset_stream": (
        "struct<bkt:bigint,doc_id:bigint,n_toks:bigint,cum_in_before:bigint,n_docs:bigint>",
        "struct<toks:bigint,n_docs:bigint>",
        "struct<toks:bigint,n_docs:bigint,last_ms:bigint>",
    ),
    "bucket_batch_stream": (
        "struct<bucket_len:bigint,n_docs:bigint,real_tokens:bigint,padded_tokens:bigint,waste_ppm:bigint,truncated_tokens:bigint,n_batches:bigint>",
        "struct<n_docs:bigint,real_tokens:bigint,truncated_tokens:bigint>",
        "struct<n_docs:bigint,real_tokens:bigint,truncated_tokens:bigint,last_ms:bigint>",
    ),
    "pii_scan_stream": (
        "struct<pii_class:string,n_docs_hit:bigint,total_matches:bigint,matched_chars:bigint,hit_doc_ppm:bigint,residual_matches:bigint>",
        "struct<n_docs:bigint,n_hit:bigint,n_matches:bigint,match_chars:bigint,residual:bigint>",
        "struct<n_docs:bigint,n_hit:bigint,n_matches:bigint,match_chars:bigint,residual:bigint,last_ms:bigint>",
    ),
    "dsir_model_stream": (
        "struct<bucket:bigint,cnt_r:bigint,cnt_t:bigint>",
        "struct<cnt_r:bigint,cnt_t:bigint>",
        "struct<cnt_r:bigint,cnt_t:bigint,last_ms:bigint>",
    ),
    "filter_agreement_stream": (
        "struct<filter_a:string,filter_b:string,n_both:bigint,n_only_a:bigint,n_only_b:bigint,n_neither:bigint,agree_ppm:bigint,kappa_ppm:bigint>",
        "struct<n:bigint,ca:bigint,cb:bigint,nb:bigint>",
        None,
    ),
    "stream_hourly_gapfill": (
        "struct<user_id:bigint,hour_start_us:bigint,n_events:bigint,value_sum:double>",
        "struct<open_hour_us:bigint,n_events:bigint,sum_scaled:bigint>",
        None,
    ),
}

_PROBES = {
    "countmin_stream": {"probe_users": (1,)},
    "bloom_filter_stream": {"probe_users": (1,)},
}
_DOCS_OPS = {
    "pack_offset_stream",
    "bucket_batch_stream",
    "pii_scan_stream",
    "dsir_model_stream",
    "filter_agreement_stream",
}


@pytest.fixture(scope="module")
def frames(spark):
    ts = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(1, 1, ts, "view", 1.0)],
        "user_id bigint, event_id bigint, ts timestamp, event_type string, value double",
    )
    docs = spark.createDataFrame(
        [(1, "a b c", "en", ts)], "doc_id bigint, text string, lang string, ts timestamp"
    )
    return {"events": events, "docs": docs}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_state_layout_is_pinned(name, frames, monkeypatch):
    """Every operator hands applyInPandasWithState the pinned state,
    output and timeout layout, with and without a TTL. No streaming
    query starts: the call is only recorded."""
    calls: list[dict] = []
    monkeypatch.setattr(
        GroupedData,
        "applyInPandasWithState",
        lambda self, fn, **kw: calls.append(kw),
    )
    op = getattr(gapfill if name == "stream_hourly_gapfill" else stateful, name)
    frame = frames["docs" if name in _DOCS_OPS else "events"]
    out_schema, state_plain, state_ttl = PINNED[name]
    modes = [(None, state_plain, "NoTimeout")]
    if state_ttl is not None:
        modes.append((TTL, state_ttl, "EventTimeTimeout"))
    for ttl, state_schema, timeout in modes:
        calls.clear()
        kwargs = dict(_PROBES.get(name, {}))
        if ttl is not None:
            kwargs["state_ttl_ms"] = ttl
        op(frame, **kwargs)
        (call,) = calls
        assert call["stateStructType"].simpleString() == state_schema
        assert call["outputStructType"].simpleString() == out_schema
        assert call["timeoutConf"] == timeout
        assert call["outputMode"] == "append"
        for schema in (call["stateStructType"], call["outputStructType"]):
            assert all(f.nullable for f in schema.fields)
