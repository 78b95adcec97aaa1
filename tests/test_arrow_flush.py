"""The Singer pipe's Arrow flush: each flush reaches Spark as one Arrow
table and lands as one file.

The differential test keeps the row-wise conversion the pipe used
before — `_old_coerce` plus `createDataFrame(list[tuple])` — as its
oracle, and checks on generated records that the Arrow path collects
the same rows and raises the same RecordValidationError messages.
The other tests pin what the row-wise path got wrong or the Arrow
path must not lose: timestamp offsets, the naive-timestamp zone,
int64 range, zero-field streams, lone surrogates and the file count.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.sources.jsonschema import jsonschema_to_spark
from target_hdfs_spark.sources.singer import (
    RecordValidationError,
    SingerPipe,
    _arrow_frame,
    _coerce,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1


def _old_coerce(value, dtype: T.DataType, path: str):
    """The row-wise path's coercion, unchanged: the oracle."""
    if value is None:
        return None
    try:
        if isinstance(dtype, T.TimestampType):
            if isinstance(value, dt.datetime):
                return value
            return dt.datetime.fromisoformat(str(value).replace("Z", "+00:00"))
        if isinstance(dtype, T.DateType):
            if isinstance(value, dt.date) and not isinstance(value, dt.datetime):
                return value
            return dt.date.fromisoformat(str(value)[:10])
        if isinstance(dtype, T.LongType):
            if isinstance(value, bool) or not isinstance(value, (int, float)):
                raise ValueError(f"not an integer: {value!r}")
            if isinstance(value, float) and not value.is_integer():
                raise ValueError(f"non-integral value for integer field: {value!r}")
            return int(value)
        if isinstance(dtype, T.DoubleType):
            if isinstance(value, bool) or not isinstance(value, (int, float)):
                raise ValueError(f"not a number: {value!r}")
            return float(value)
        if isinstance(dtype, T.BooleanType):
            if not isinstance(value, bool):
                raise ValueError(f"not a boolean: {value!r}")
            return value
        if isinstance(dtype, T.StringType):
            if isinstance(value, (dict, list)):
                return json.dumps(value, separators=(",", ":"))
            return str(value)
        if isinstance(dtype, T.StructType):
            if not isinstance(value, dict):
                raise ValueError(f"not an object: {value!r}")
            return tuple(_old_coerce(value.get(f.name), f.dataType, f"{path}.{f.name}")
                         for f in dtype.fields)
        if isinstance(dtype, T.ArrayType):
            if not isinstance(value, list):
                raise ValueError(f"not an array: {value!r}")
            return [_old_coerce(v, dtype.elementType, f"{path}[]") for v in value]
        return value
    except RecordValidationError:
        raise
    except (ValueError, TypeError) as e:
        raise RecordValidationError(f"field {path}: {e}") from e


def _convert(coerce, schema: T.StructType, records: list[dict]):
    """(rows, errors): one coerced row per valid record, numbered by
    its position, and the validation message of each invalid one."""
    rows, errors = [], []
    for i, rec in enumerate(records):
        try:
            row = tuple(coerce(rec.get(f.name), f.dataType, f.name) for f in schema.fields)
        except RecordValidationError as e:
            errors.append((i, str(e)))
            continue
        rows.append((i, *row))
    return rows, errors


def _numbered(schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField("_i", T.LongType()), *schema.fields])


def _both_paths(spark, schema: T.StructType, records: list[dict]):
    """Collected rows and validation messages from the oracle and from
    the Arrow flush, in that order."""
    old_rows, old_errors = _convert(_old_coerce, schema, records)
    new_rows, new_errors = _convert(_coerce, schema, records)
    numbered = _numbered(schema)
    old = spark.createDataFrame(old_rows, schema=numbered).collect() if old_rows else []
    new = _arrow_frame(spark, new_rows, numbered).collect() if new_rows else []
    return (old, old_errors), (new, new_errors)


# -- generated schemas and records -----------------------------------------

FIELD_NAMES = st.sampled_from(["a", "b", "c", "d", "e"])

LEAVES = st.sampled_from(
    [
        {"type": ["null", "integer"]},
        {"type": ["null", "number"]},
        {"type": ["null", "boolean"]},
        {"type": ["null", "string"]},
        {"type": ["null", "string"], "format": "date-time"},
        {"type": ["null", "string"], "format": "date"},
    ]
)


def _props(depth: int):
    if depth == 0:
        return LEAVES
    inner = _props(depth - 1)
    return st.one_of(
        LEAVES,
        st.dictionaries(FIELD_NAMES, inner, min_size=1, max_size=3).map(
            lambda p: {"type": "object", "properties": p}
        ),
        inner.map(lambda p: {"type": ["null", "array"], "items": p}),
    )


OFFSETS = st.sampled_from(["Z", "+00:00", "+05:00", "-03:30", "+14:00", ""])

ODD_STRINGS = st.sampled_from(
    ["", "héllo — 中文 🚀", "a\ud800b", "\udfff", "x\ude00\ud83dy", "\x00nul"]
)

INVALID = {
    T.LongType: ["x", 1.5, True, [1]],
    T.DoubleType: ["x", False, {}],
    T.BooleanType: [1, "true"],
    T.TimestampType: ["not-a-time", 12, "2026-02-30T00:00:00Z"],
    T.DateType: ["2026-13-01", "someday"],
    T.StructType: ["not an object", [1]],
    T.ArrayType: [{"a": 1}, "x"],
}


def _value(draw, dtype: T.DataType):
    roll = draw(st.integers(0, 19))
    if roll == 0:
        return None
    if roll == 1 and type(dtype) in INVALID:
        return draw(st.sampled_from(INVALID[type(dtype)]))
    if isinstance(dtype, T.LongType):
        return draw(
            st.one_of(
                st.integers(INT64_MIN, INT64_MAX),
                st.sampled_from([INT64_MIN, INT64_MAX, 0, -1, 3.0, -(2.0**62)]),
            )
        )
    if isinstance(dtype, T.DoubleType):
        return draw(
            st.one_of(st.floats(allow_nan=False, allow_infinity=False), st.integers(-(2**53), 2**53))
        )
    if isinstance(dtype, T.BooleanType):
        return draw(st.booleans())
    if isinstance(dtype, T.StringType):
        return draw(
            st.one_of(
                st.text(max_size=12),
                ODD_STRINGS,
                st.integers(),
                st.dictionaries(st.text(max_size=3), st.integers(), max_size=2),
                st.lists(st.text(max_size=3), max_size=2),
            )
        )
    if isinstance(dtype, T.TimestampType):
        ts = draw(st.datetimes(dt.datetime(1901, 1, 1), dt.datetime(2199, 12, 31)))
        sep = draw(st.sampled_from(["T", " "]))
        return ts.isoformat(sep=sep) + draw(OFFSETS)
    if isinstance(dtype, T.DateType):
        day = draw(st.dates(dt.date(1901, 1, 1), dt.date(2199, 12, 31)))
        return draw(st.sampled_from([day.isoformat(), f"{day.isoformat()}T10:00:00Z"]))
    if isinstance(dtype, T.StructType):
        return {f.name: _value(draw, f.dataType) for f in dtype.fields if draw(st.integers(0, 5))}
    if isinstance(dtype, T.ArrayType):
        return [_value(draw, dtype.elementType) for _ in range(draw(st.integers(0, 3)))]
    raise AssertionError(f"no generator for {dtype}")


@st.composite
def schema_and_records(draw):
    props = draw(st.dictionaries(FIELD_NAMES, _props(2), min_size=1, max_size=4))
    schema = jsonschema_to_spark({"properties": props})
    n = draw(st.integers(1, 8))
    return schema, [{f.name: _value(draw, f.dataType) for f in schema.fields} for _ in range(n)]


@pytest.fixture
def utc_host_zone():
    """The oracle reads a naive timestamp in the host's local zone (its
    known defect, pinned separately below); with the host zone at UTC
    it agrees with the Arrow path, which reads it in UTC."""
    before = os.environ.get("TZ")
    os.environ["TZ"] = "UTC"
    time.tzset()
    yield
    if before is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = before
    time.tzset()


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=schema_and_records())
def test_arrow_flush_matches_row_wise_oracle(spark, utc_host_zone, data):
    schema, records = data
    (old, old_errors), (new, new_errors) = _both_paths(spark, schema, records)
    assert new_errors == old_errors
    assert new == old


# -- timestamps -------------------------------------------------------------

TS_SCHEMA = {
    "ts": {"type": "string", "format": "date-time"},
    "inner": {"type": "object", "properties": {"ts": {"type": "string", "format": "date-time"}}},
    "items": {
        "type": "array",
        "items": {"type": "object", "properties": {"ts": {"type": "string", "format": "date-time"}}},
    },
}
# (wire value, the UTC wall clock it must be stored as)
TS_CASES = [
    ("2026-03-01T12:00:00+05:00", "2026-03-01 07:00:00"),
    ("2026-03-01T12:00:00-03:30", "2026-03-01 15:30:00"),
    ("2026-03-01T12:00:00Z", "2026-03-01 12:00:00"),
    ("2026-03-01T12:00:00", "2026-03-01 12:00:00"),
    ("2026-07-01T23:30:00.250000+01:00", "2026-07-01 22:30:00.25"),
]


def _utc_strings(spark, out_dir: str) -> list[tuple[str, str, str]]:
    """Stored timestamps, rendered in the session zone (UTC)."""
    df = spark.read.parquet(os.path.join(out_dir, "s"))
    return [
        tuple(r)
        for r in df.orderBy("id").selectExpr(
            "cast(ts as string)", "cast(inner__ts as string)", "cast(items[0].ts as string)"
        ).collect()
    ]


def _write_ts_cases(spark, out_dir: str) -> None:
    config = TargetConfig(destination_path=out_dir)
    lines = [json.dumps({"type": "SCHEMA", "stream": "s",
                         "schema": {"properties": {"id": {"type": "integer"}, **TS_SCHEMA}}})]
    lines += [
        json.dumps({"type": "RECORD", "stream": "s",
                    "record": {"id": i, "ts": wire, "inner": {"ts": wire}, "items": [{"ts": wire}, None]}})
        for i, (wire, _) in enumerate(TS_CASES)
    ]
    list(SingerPipe(spark, config).process_lines(lines))


def test_timestamp_offsets_stored_in_utc(spark, tmp_path):
    """A non-Z offset is applied at top level, inside a struct and
    inside an array of structs; a naive timestamp is UTC."""
    _write_ts_cases(spark, str(tmp_path))
    assert _utc_strings(spark, str(tmp_path)) == [(want,) * 3 for _, want in TS_CASES]


def _new_york_case(out_dir: str) -> None:
    """Run in a child process whose host zone is America/New_York."""
    from target_hdfs_spark.session import get_spark

    spark = get_spark(app_name="arrow_flush_tz", master="local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    _write_ts_cases(spark, out_dir)
    assert _utc_strings(spark, out_dir) == [(want,) * 3 for _, want in TS_CASES]

    schema = jsonschema_to_spark({"properties": TS_SCHEMA})
    records = [{"ts": w, "inner": {"ts": w}, "items": [{"ts": w}, None]} for w, _ in TS_CASES]
    aware = [r for r in records if r["ts"][-6] in "+-" or r["ts"].endswith("Z")]
    (old, old_errors), (new, new_errors) = _both_paths(spark, schema, aware)
    assert new == old and new_errors == old_errors == []

    # The one intended difference: the oracle read a naive timestamp in
    # the host zone (EST, UTC-5, on 2026-03-01); the Arrow path reads it in UTC.
    naive = [r for r in records if r not in aware]
    (old, _), (new, _) = _both_paths(spark, schema, naive)
    assert [r.ts - o.ts for r, o in zip(new, old)] == [dt.timedelta(hours=-5)]
    spark.stop()


def test_timestamps_independent_of_host_zone(tmp_path):
    env = {**os.environ, "TZ": "America/New_York", "SPARK_GRAFT_CPUS": "1"}
    code = (
        "import sys; from tests.test_arrow_flush import _new_york_case; "
        "_new_york_case(sys.argv[1])"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


# -- integers, zero-field streams, strings, files --------------------------


def _schema_msg(stream, props):
    return json.dumps({"type": "SCHEMA", "stream": stream, "schema": {"properties": props}})


def _rec(stream, **record):
    return json.dumps({"type": "RECORD", "stream": stream, "record": record})


def test_int64_bounds_kept_and_out_of_range_skipped(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="skip")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=INT64_MAX),
        _rec("s", id=2**70),
        _rec("s", id=INT64_MIN),
        _rec("s", id=INT64_MAX + 1),
        _rec("s", id=INT64_MIN - 1),
        _rec("s", id=1e19),
        json.dumps({"type": "STATE", "value": {"n": 1}}),
    ]))
    got = sorted(r.id for r in spark.read.parquet(str(tmp_path / "s")).collect())
    assert got == [INT64_MIN, INT64_MAX]
    assert pipe.invalid_counts == {"s": 4}


@pytest.mark.parametrize(
    "prop,value,message",
    [
        ({"type": "integer"}, -(2**70), "integer out of int64 range"),
        ({"type": "string", "format": "date-time"}, "0001-01-01T00:00:00+05:00",
         "date value out of range"),
    ],
)
def test_out_of_range_value_is_a_validation_error(spark, tmp_path, prop, value, message):
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    lines = [_schema_msg("s", {"n": {"type": "object", "properties": {"v": prop}}}),
             _rec("s", n={"v": value})]
    with pytest.raises(RecordValidationError, match=rf"field n\.v: {message}"):
        list(pipe.process_lines(lines))


def test_int64_out_of_range_goes_to_dlq(spark, tmp_path):
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path), on_invalid="dlq"))
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("s", id=2**70),
    ]))
    dlq = spark.read.parquet(str(tmp_path / "_dlq")).collect()
    assert [json.loads(r.record) for r in dlq] == [{"id": 2**70}]
    assert "int64" in dlq[0].error
    assert [r.id for r in spark.read.parquet(str(tmp_path / "s")).collect()] == [1]


def test_zero_field_stream_keeps_its_rows(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path), add_record_metadata=True)
    states = list(SingerPipe(spark, config).process_lines([
        _schema_msg("empty", {}),
        _rec("empty", ignored=1),
        _rec("empty"),
        json.dumps({"type": "STATE", "value": {"n": 2}}),
    ]))
    assert states == ['{"n":2}']
    got = spark.read.parquet(str(tmp_path / "empty"))
    assert got.count() == 2
    assert "_sdc_received_at" in got.columns


def test_lone_surrogate_stored_as_replacement_char(spark, tmp_path):
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}, "t": {"type": "string"},
                          "tags": {"type": "array", "items": {"type": "string"}}}),
        '{"type":"RECORD","stream":"s","record":{"id":1,"t":"a\\ud800b","tags":["\\udfff"]}}',
    ]))
    row = spark.read.parquet(str(tmp_path / "s")).collect()[0]
    assert (row.t, row.tags) == ("a\ufffdb", ["\ufffd"])


def test_one_file_per_flush(spark, tmp_path):
    """A flush holds at most max_batch_size rows and lands as one file,
    whatever the session's parallelism; the DLQ flush likewise."""
    config = TargetConfig(destination_path=str(tmp_path), max_batch_size=5, on_invalid="dlq")
    list(SingerPipe(spark, config).process_lines(
        [_schema_msg("s", {"id": {"type": "integer"}})]
        + [_rec("s", id=i) for i in range(12)]
        + [_rec("s", id="bad")]
    ))
    assert len(glob.glob(str(tmp_path / "s" / "*.parquet"))) == 3
    assert len(glob.glob(str(tmp_path / "_dlq" / "stream=s" / "*.parquet"))) == 1
    assert spark.read.parquet(str(tmp_path / "s")).count() == 12
