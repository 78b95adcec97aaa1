"""End-to-end Singer pipeline tests: message lines in -> Parquet out,
mirroring the SDK-standard-suite scenarios the reference relies on
(reference: tests/test_core.py:26-29): multi-stream routing, state
passthrough ordering, schema drift failure, partitioned layout,
record validation, batching."""

from __future__ import annotations

import json
import sys
import threading

import pytest

from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.plans.writer import SchemaChangedError
from target_hdfs_spark.sources.singer import RecordValidationError, SingerPipe


def _schema_msg(stream, props):
    return json.dumps({"type": "SCHEMA", "stream": stream, "schema": {"properties": props}})


def _rec(stream, **record):
    return json.dumps({"type": "RECORD", "stream": stream, "record": record})


USERS_PROPS = {
    "id": {"type": "integer"},
    "name": {"type": "string"},
    "joined": {"type": "string", "format": "date-time"},
    "profile": {"type": "object", "properties": {"city": {"type": "string"}}},
}


def test_end_to_end_two_streams_with_state(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path), compression="snappy")
    pipe = SingerPipe(spark, config)
    lines = [
        _schema_msg("users", USERS_PROPS),
        _schema_msg("orders", {"id": {"type": "integer"}, "total": {"type": "number"}}),
        _rec("users", id=1, name="ann", joined="2024-01-01T10:00:00Z",
             profile={"city": "berlin"}),
        _rec("orders", id=10, total=99.5),
        _rec("users", id=2, name="bob", joined="2024-01-02T11:30:00Z", profile=None),
        json.dumps({"type": "STATE", "value": {"bookmark": 2}}),
        _rec("orders", id=11, total=1.25),
    ]
    states = list(pipe.process_lines(lines))
    assert states == ['{"bookmark":2}']

    users = spark.read.parquet(str(tmp_path / "users"))
    assert sorted(users.columns) == ["id", "joined", "name", "profile__city"]
    rows = {r.id: r for r in users.collect()}
    assert rows[1].profile__city == "berlin"
    assert rows[2].profile__city is None
    assert rows[1].joined.year == 2024

    orders = spark.read.parquet(str(tmp_path / "orders"))
    assert orders.count() == 2


def test_state_only_after_flush(spark, tmp_path):
    """STATE must not be emitted before preceding records are durable,
    in every stream the STATE covers (they flush concurrently)."""
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)

    lines = [
        _schema_msg("s", {"id": {"type": "integer"}}),
        _schema_msg("t", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("t", id=2),
        _rec("t", id=3),
        json.dumps({"type": "STATE", "value": {"n": 1}}),
    ]
    gen = pipe.process_lines(lines)
    state = next(gen)
    # at the moment the state line is yielded, the records are on disk
    assert spark.read.parquet(str(tmp_path / "s")).count() == 1
    assert spark.read.parquet(str(tmp_path / "t")).count() == 2
    assert state == '{"n":1}'


_STATE = json.dumps({"type": "STATE", "value": {"n": 1}})


def test_concurrent_flush_drift_in_one_stream_yields_no_state(spark, tmp_path):
    """One of two streams meets a different type on disk: the STATE
    raises SchemaChangedError and is never yielded, and the other
    stream's flush still runs to completion first."""
    spark.createDataFrame([("x",)], "id string").write.parquet(str(tmp_path / "bad"))
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    states = []
    with pytest.raises(SchemaChangedError):
        for state in pipe.process_lines([
            _schema_msg("good", {"id": {"type": "integer"}}),
            _schema_msg("bad", {"id": {"type": "integer"}}),
            _rec("good", id=1),
            _rec("bad", id=2),
            _STATE,
        ]):
            states.append(state)
    assert states == []
    assert spark.read.parquet(str(tmp_path / "good")).count() == 1
    assert spark.read.parquet(str(tmp_path / "bad")).count() == 1


def test_aliased_streams_share_a_path_and_flush_in_turn(spark, tmp_path):
    """Streams `__alias__`-routed to one sink flush at a STATE one
    after another: every row lands, one file per flush, and no
    committer `_temporary` is left behind."""
    names = ("a", "b", "c", "d")
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={n: {"__alias__": "all"} for n in names},
    )
    lines = [_schema_msg(n, {"id": {"type": "integer"}}) for n in names]
    for state in range(2):
        lines += [_rec(n, id=10 * state + i) for i, n in enumerate(names)]
        lines.append(_STATE)
    states = list(SingerPipe(spark, config).process_lines(lines))
    assert states == ['{"n":1}'] * 2
    out = tmp_path / "all"
    got = sorted(r.id for r in spark.read.parquet(str(out)).collect())
    assert got == [0, 1, 2, 3, 10, 11, 12, 13]
    assert len(list(out.glob("*.parquet"))) == 8
    assert not (out / "_temporary").exists()


def test_concurrent_flush_jobs_join_caller_job_group(spark, tmp_path):
    """Flush tasks inherit the caller's job group, and the pool's
    threads are gone once the run ends."""
    sc = spark.sparkContext
    group = f"flush-{tmp_path.name}"
    threads = threading.active_count()
    sc.setJobGroup(group, group)
    try:
        list(SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
             .process_lines([
                 _schema_msg("s", {"id": {"type": "integer"}}),
                 _schema_msg("t", {"id": {"type": "integer"}}),
                 _rec("s", id=1),
                 _rec("t", id=2),
                 _STATE,
             ]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # the main thread runs no job of its own here: every job in the
    # group is a write from a pool thread, one at least per stream
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    assert threading.active_count() == threads


def test_concurrent_flush_many_streams_under_fast_switching(spark, tmp_path, monkeypatch):
    """More streams than flush threads, with the interpreter switching
    threads as often as it can: every row of every stream lands, and
    each path's schema is read from disk once."""
    from target_hdfs_spark.plans import writer

    reads = []
    real = writer.existing_schema

    def counting(spark, path, fmt="parquet"):
        reads.append(path)
        return real(spark, path, fmt)

    monkeypatch.setattr(writer, "existing_schema", counting)
    names = [f"s{i}" for i in range(6)]
    lines = [_schema_msg(n, {"id": {"type": "integer"}}) for n in names]
    for state in range(2):
        lines += [_rec(n, id=i + 100 * state) for i, n in enumerate(names)]
        lines.append(_STATE)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        states = list(SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
                      .process_lines(lines))
    finally:
        sys.setswitchinterval(interval)
    assert len(states) == 2
    assert sorted(reads) == sorted(str(tmp_path / n) for n in names)
    got = spark.read.parquet(str(tmp_path / "*")).groupBy().sum("id").collect()[0][0]
    assert got == sum(2 * i + 100 for i in range(6))


def test_schema_change_within_one_run_fails(spark, tmp_path):
    """The once-per-run drift check still runs again after a SCHEMA
    change: drift inside one run raises, as across runs."""
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    with pytest.raises(SchemaChangedError):
        list(pipe.process_lines([
            _schema_msg("s", {"id": {"type": "integer"}}),
            _rec("s", id=1),
            _STATE,
            _schema_msg("s", {"id": {"type": "string"}}),
            _rec("s", id="x"),
            _STATE,
        ]))
    assert [r.id for r in spark.read.parquet(str(tmp_path / "s")).collect()] == [1]


def test_drift_guard_reads_disk_once_per_path(spark, tmp_path, monkeypatch):
    """Two streams over three STATEs read the on-disk schema twice,
    once per path, not once per flush."""
    from target_hdfs_spark.plans import writer

    reads = []
    real = writer.existing_schema

    def counting(spark, path, fmt="parquet"):
        reads.append(path)
        return real(spark, path, fmt)

    monkeypatch.setattr(writer, "existing_schema", counting)
    lines = [
        _schema_msg("s", {"id": {"type": "integer"}}),
        _schema_msg("t", {"id": {"type": "integer"}}),
    ]
    for n in range(3):
        lines += [_rec("s", id=n), _rec("t", id=n), _STATE]
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    assert len(list(pipe.process_lines(lines))) == 3
    assert sorted(reads) == [str(tmp_path / "s"), str(tmp_path / "t")]
    assert spark.read.parquet(str(tmp_path / "t")).count() == 3


def test_schema_drift_fails_loudly(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
    ]))
    pipe2 = SingerPipe(spark, config)
    with pytest.raises(SchemaChangedError):
        list(pipe2.process_lines([
            _schema_msg("s", {"id": {"type": "string"}}),
            _rec("s", id="x"),
        ]))


def test_skip_existing_files_bypasses_drift_guard(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([_schema_msg("s", {"id": {"type": "integer"}}), _rec("s", id=1)]))

    config2 = TargetConfig(destination_path=str(tmp_path), skip_existing_files=True)
    pipe2 = SingerPipe(spark, config2)
    list(pipe2.process_lines([
        _schema_msg("s2", {"id": {"type": "integer"}}),
        _rec("s2", id=2),
    ]))
    assert spark.read.parquet(str(tmp_path / "s2")).count() == 1


def test_partitioned_layout(spark, tmp_path):
    config = TargetConfig(
        destination_path=str(tmp_path), partition_cols=("country",), compression="snappy"
    )
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("u", {"id": {"type": "integer"}, "country": {"type": "string"}}),
        _rec("u", id=1, country="de"),
        _rec("u", id=2, country="fr"),
        _rec("u", id=3, country="de"),
    ]))
    base = tmp_path / "u"
    assert (base / "country=de").is_dir() and (base / "country=fr").is_dir()
    df = spark.read.parquet(str(base))
    assert df.count() == 3
    assert {r.country for r in df.collect()} == {"de", "fr"}


def test_record_validation_rejects_bad_types(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    with pytest.raises(RecordValidationError, match="not an integer"):
        list(pipe.process_lines([
            _schema_msg("s", {"id": {"type": "integer"}}),
            _rec("s", id="not-a-number"),
        ]))


def test_record_for_undeclared_stream_fails(spark, tmp_path):
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    with pytest.raises(RecordValidationError, match="undeclared stream"):
        list(pipe.process_lines([_rec("ghost", id=1)]))


def test_batching_flushes_at_max_batch_size(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path), max_batch_size=5)
    pipe = SingerPipe(spark, config)
    lines = [_schema_msg("s", {"id": {"type": "integer"}})]
    lines += [_rec("s", id=i) for i in range(12)]
    list(pipe.process_lines(lines))
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 12
    assert {r.id for r in df.collect()} == set(range(12))


def test_extra_fields_and_metadata(spark, tmp_path):
    config = TargetConfig(
        destination_path=str(tmp_path),
        extra_fields={"env": "prod"},
        extra_fields_types={"env": "string"},
        add_record_metadata=True,
    )
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
    ]))
    row = spark.read.parquet(str(tmp_path / "s")).collect()[0]
    assert row.env == "prod"
    assert row._sdc_received_at is not None


def test_stream_maps_applied(spark, tmp_path):
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={"s": {"__filter__": "id > 1", "id2": "id * 10"}},
    )
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("s", id=2),
    ]))
    rows = spark.read.parquet(str(tmp_path / "s")).collect()
    assert len(rows) == 1 and rows[0].id2 == 20


def test_activate_version_soft_deletes_older(spark, tmp_path):
    """Full-refresh semantics: after ACTIVATE_VERSION, rows written
    under older versions are soft-deleted at end of stream."""
    config = TargetConfig(destination_path=str(tmp_path), add_record_metadata=True)
    schema_line = _schema_msg("s", {"id": {"type": "integer"}})

    # run 1: version 1 rows
    pipe1 = SingerPipe(spark, config)
    list(pipe1.process_lines([
        schema_line,
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 1}),
        _rec("s", id=1),
        _rec("s", id=2),
    ]))
    # run 2: version 2 rows; finalization stamps the version-1 rows
    pipe2 = SingerPipe(spark, config)
    list(pipe2.process_lines([
        schema_line,
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 2}),
        _rec("s", id=3),
    ]))

    df = spark.read.parquet(str(tmp_path / "s"))
    rows = {r.id: r for r in df.collect()}
    assert rows[1]._sdc_deleted_at is not None
    assert rows[2]._sdc_deleted_at is not None
    assert rows[3]._sdc_deleted_at is None
    assert rows[3]._sdc_table_version == 2


def test_third_run_after_finalization_keeps_schema_stable(spark, tmp_path):
    """The soft-delete rewrite must not change the on-disk schema —
    a third ingest run has to pass the drift guard."""
    config = TargetConfig(destination_path=str(tmp_path), add_record_metadata=True)
    schema_line = _schema_msg("s", {"id": {"type": "integer"}})
    for version, ids in [(1, [1]), (2, [2]), (3, [3])]:
        pipe = SingerPipe(spark, config)
        list(pipe.process_lines([
            schema_line,
            json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": version}),
            *[_rec("s", id=i) for i in ids],
        ]))
    df = spark.read.parquet(str(tmp_path / "s"))
    rows = {r.id: r._sdc_deleted_at is not None for r in df.collect()}
    assert rows == {1: True, 2: True, 3: False}


def test_missing_fields_become_null(spark, tmp_path):
    """Records may omit schema fields (Singer taps do this routinely)."""
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}, "opt": {"type": "string"}}),
        _rec("s", id=1),           # opt missing
        _rec("s", id=2, opt="x"),
    ]))
    rows = {r.id: r.opt for r in spark.read.parquet(str(tmp_path / "s")).collect()}
    assert rows == {1: None, 2: "x"}


def test_extra_record_fields_ignored(spark, tmp_path):
    """Fields not in the declared schema are dropped, not errors."""
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1, surprise="zzz", nested={"a": 1}),
    ]))
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.columns == ["id"]
    assert df.collect()[0].id == 1


def test_unicode_content_roundtrips(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    text = "héllo wörld — 中文 🚀 \"quotes\" \\backslash"
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}, "t": {"type": "string"}}),
        _rec("s", id=1, t=text),
    ]))
    assert spark.read.parquet(str(tmp_path / "s")).collect()[0].t == text


def test_stream_name_with_special_chars(spark, tmp_path):
    """Stream names with dots/dashes map to filesystem paths safely."""
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("my-stream.v2", {"id": {"type": "integer"}}),
        _rec("my-stream.v2", id=7),
    ]))
    df = spark.read.parquet(str(tmp_path / "my-stream.v2"))
    assert df.collect()[0].id == 7


def test_state_without_pending_records_passes_through(spark, tmp_path):
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    states = list(pipe.process_lines([
        json.dumps({"type": "STATE", "value": {"initial": True}}),
    ]))
    assert states == ['{"initial":true}']


def test_resent_identical_schema_keeps_buffer(spark, tmp_path):
    """Regression: taps re-send SCHEMA per batch; an identical schema
    must not discard buffered records (data loss confirmed by STATE)."""
    config = TargetConfig(destination_path=str(tmp_path))
    pipe = SingerPipe(spark, config)
    schema_line = _schema_msg("s", {"id": {"type": "integer"}})
    states = list(pipe.process_lines([
        schema_line,
        _rec("s", id=1),
        _rec("s", id=2),
        schema_line,  # re-sent, identical
        _rec("s", id=3),
        json.dumps({"type": "STATE", "value": {"n": 3}}),
    ]))
    assert states == ['{"n":3}']
    df = spark.read.parquet(str(tmp_path / "s"))
    assert {r.id for r in df.collect()} == {1, 2, 3}


def test_non_integral_float_rejected_for_integer_field(spark, tmp_path):
    """Regression: int coercion must not silently truncate 1.9 -> 1."""
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    with pytest.raises(RecordValidationError, match="non-integral"):
        list(pipe.process_lines([
            _schema_msg("s", {"id": {"type": "integer"}}),
            _rec("s", id=1.9),
        ]))
    # integral floats are accepted (JSON number 2.0 for an int field)
    pipe2 = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    list(pipe2.process_lines([
        _schema_msg("s2", {"id": {"type": "integer"}}),
        _rec("s2", id=2.0),
    ]))
    assert spark.read.parquet(str(tmp_path / "s2")).collect()[0].id == 2


def test_activate_version_with_zero_records(spark, tmp_path):
    """A full-truncate refresh (SCHEMA + ACTIVATE_VERSION, no RECORDs)
    must not crash finalization when the stream never wrote files."""
    config = TargetConfig(destination_path=str(tmp_path), add_record_metadata=True)
    pipe = SingerPipe(spark, config)
    states = list(pipe.process_lines([
        _schema_msg("empty_stream", {"id": {"type": "integer"}}),
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "empty_stream", "version": 3}),
        json.dumps({"type": "STATE", "value": {"done": True}}),
    ]))
    assert states == ['{"done":true}']


def test_activate_version_survives_schema_change(spark, tmp_path):
    """ADVICE r1: a genuine schema change must carry the previously
    received ACTIVATE_VERSION into the replacement buffer so version
    stamping and end-of-stream soft-delete finalization still run."""
    config = TargetConfig(
        destination_path=str(tmp_path),
        add_record_metadata=True,
        skip_existing_files=True,  # allow the post-drift write
    )
    pipe = SingerPipe(spark, config)
    lines = [
        _schema_msg("s", {"id": {"type": "integer"}}),
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 7}),
        # genuine schema change BEFORE any record: old buffer replaced
        _schema_msg("s", {"id": {"type": "integer"}, "extra": {"type": "string"}}),
        _rec("s", id=1, extra="x"),
    ]
    list(pipe.process_lines(lines))
    df = spark.read.parquet(str(tmp_path / "s"))
    rows = df.collect()
    assert len(rows) == 1
    # version 7 was stamped despite the schema swap in between
    assert rows[0]["_sdc_table_version"] == 7


def test_activate_version_flushes_buffer_and_retires_old_rows(spark, tmp_path):
    """Records buffered BEFORE an ACTIVATE_VERSION must flush under
    the OLD version (so finalization soft-deletes them); records after
    it carry the new version and stay live. The version column is
    schema-stable from the very first flush (null pre-activation)."""
    config = TargetConfig(
        destination_path=str(tmp_path), add_record_metadata=True
    )
    pipe = SingerPipe(spark, config)
    props = {"id": {"type": "integer"}, "v": {"type": "string"}}
    lines = [
        _schema_msg("t", props),
        _rec("t", id=1, v="old"),
        _rec("t", id=2, v="old"),
        json.dumps({"type": "STATE", "value": {"b": 1}}),  # flush: version null
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "t", "version": 7}),
        _rec("t", id=3, v="new"),
    ]
    list(pipe.process_lines(lines))
    rows = {r.id: r for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    # schema-stable version column: present (null) on pre-activation rows
    assert rows[1]._sdc_table_version is None
    assert rows[3]._sdc_table_version == 7
    # finalization retired the null-version rows, kept the active ones
    assert rows[1]._sdc_deleted_at is not None
    assert rows[2]._sdc_deleted_at is not None
    assert rows[3]._sdc_deleted_at is None


def test_activate_version_mid_buffer_stamps_old_version(spark, tmp_path):
    """The adversarial ordering: records still IN the buffer when
    ACTIVATE_VERSION arrives were received under the old version —
    the demux must flush them first, not stamp them with the new
    version (which would exempt them from retirement)."""
    config = TargetConfig(
        destination_path=str(tmp_path), add_record_metadata=True,
        max_batch_size=1000,  # nothing flushes on its own
    )
    pipe = SingerPipe(spark, config)
    props = {"id": {"type": "integer"}}
    lines = [
        _schema_msg("t", props),
        _rec("t", id=1),  # buffered
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "t", "version": 9}),
        _rec("t", id=2),  # received under version 9
    ]
    list(pipe.process_lines(lines))
    rows = {r.id: r for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    assert rows[1]._sdc_table_version is None  # flushed pre-switch
    assert rows[2]._sdc_table_version == 9
    assert rows[1]._sdc_deleted_at is not None  # retired
    assert rows[2]._sdc_deleted_at is None


def test_on_invalid_skip_drops_and_counts(spark, tmp_path):
    """"skip" policy: invalid records are dropped (counted per
    stream) and every valid record still lands."""
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="skip")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("s", id="bad"),
        _rec("s", id=2),
        _rec("s", id="worse"),
    ]))
    got = sorted(r.id for r in spark.read.parquet(str(tmp_path / "s")).collect())
    assert got == [1, 2]
    assert pipe.invalid_counts == {"s": 2}


def test_on_invalid_dlq_quarantines_raw_records(spark, tmp_path):
    """"dlq" policy: the raw record JSON and its validation error are
    quarantined under _dlq/stream=<stream> (ONE partitioned write per
    flush, not a job per stream); valid flow is unaffected."""
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="dlq")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=7),
        _rec("s", id="oops", extra="kept"),
    ]))
    got = [r.id for r in spark.read.parquet(str(tmp_path / "s")).collect()]
    assert got == [7]
    # Hive-style per-stream layout survives the single-write shape
    assert (tmp_path / "_dlq" / "stream=s").is_dir()
    dlq = (
        spark.read.parquet(str(tmp_path / "_dlq"))
        .filter("stream = 's'")
        .collect()
    )
    assert len(dlq) == 1
    assert json.loads(dlq[0].record) == {"id": "oops", "extra": "kept"}
    assert "not an integer" in dlq[0].error
    assert pipe.invalid_counts == {"s": 1}


def test_dlq_fails_fast_on_legacy_layout(spark, tmp_path):
    """ADVICE r7: r6's layout change (_dlq/<stream> ->
    _dlq/stream=<stream>) must not silently mix layouts under one
    root — the first flush against a destination holding a legacy
    subdirectory raises with the migration path, and the valid-flow
    write for the batch is unaffected."""
    legacy = tmp_path / "_dlq" / "oldstream"
    legacy.mkdir(parents=True)
    (legacy / "part-000.parquet").write_bytes(b"")
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="dlq")
    pipe = SingerPipe(spark, config)
    with pytest.raises(RuntimeError, match="legacy.*stream=<s>"):
        list(pipe.process_lines([
            _schema_msg("s", {"id": {"type": "integer"}}),
            _rec("s", id=7),
            _rec("s", id="oops"),
        ]))
    # current-layout destinations (and _-prefixed bookkeeping dirs)
    # are untouched by the check
    import shutil

    shutil.rmtree(tmp_path / "_dlq")
    (tmp_path / "_dlq" / "stream=prior").mkdir(parents=True)
    pipe2 = SingerPipe(spark, config)
    list(pipe2.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id="oops2"),
    ]))
    assert pipe2.invalid_counts == {"s": 1}
    assert (tmp_path / "_dlq" / "stream=s").is_dir()


def test_on_invalid_dlq_one_write_many_streams(spark, tmp_path):
    """Two streams' quarantined rows land in their own partitions out
    of one partitionBy write; each keeps its own error text."""
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="dlq")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("a", {"id": {"type": "integer"}}),
        _schema_msg("b", {"id": {"type": "integer"}}),
        _rec("a", id="bad_a"),
        _rec("b", id="bad_b"),
    ]))
    dlq = spark.read.parquet(str(tmp_path / "_dlq"))
    got = {r.stream: json.loads(r.record)["id"] for r in dlq.collect()}
    assert got == {"a": "bad_a", "b": "bad_b"}
    assert pipe.invalid_counts == {"a": 1, "b": 1}


def test_invalid_summary_emitted_on_stderr(spark, tmp_path, capsys):
    """Lossy policies leave an observable end-of-stream signal: one
    JSON line on stderr naming per-stream invalid counts and the
    active policy (silent drop was ADVICE r6's finding)."""
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="skip")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("s", id="bad"),
    ]))
    err = capsys.readouterr().err
    summary = json.loads(err.strip().splitlines()[-1])
    assert summary == {"invalid_records": {"s": 1}, "policy": "skip"}


def test_invalid_summary_silent_when_clean(spark, tmp_path, capsys):
    """No invalid records -> no summary line (stderr noise-free)."""
    config = TargetConfig(destination_path=str(tmp_path), on_invalid="skip")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
    ]))
    assert "invalid_records" not in capsys.readouterr().err


def test_on_invalid_default_still_fails(spark, tmp_path):
    """Default policy is the reference's: first invalid record aborts."""
    pipe = SingerPipe(spark, TargetConfig(destination_path=str(tmp_path)))
    with pytest.raises(RecordValidationError):
        list(pipe.process_lines([
            _schema_msg("s", {"id": {"type": "integer"}}),
            _rec("s", id="bad"),
        ]))


def test_on_invalid_dlq_undeclared_stream_still_fails(spark, tmp_path):
    """Protocol violations are not data-quality events: a RECORD for
    an undeclared stream fails even in dlq mode."""
    pipe = SingerPipe(
        spark, TargetConfig(destination_path=str(tmp_path), on_invalid="dlq")
    )
    with pytest.raises(RecordValidationError, match="undeclared stream"):
        list(pipe.process_lines([_rec("ghost", id=1)]))


def test_on_invalid_config_validation():
    with pytest.raises(ValueError, match="on_invalid"):
        TargetConfig(destination_path="/x", on_invalid="bogus")
    cfg = TargetConfig.from_dict(
        {"hdfs_destination_path": "/x", "on_invalid_record": "dlq"}
    )
    assert cfg.on_invalid == "dlq"


def test_dry_run_validates_without_writing(spark, tmp_path):
    """dry_run: full demux + validation + batching, zero writes; the
    per-stream counters still advance so a summary can report them."""
    config = TargetConfig(destination_path=str(tmp_path / "out"), on_invalid="skip")
    pipe = SingerPipe(spark, config, dry_run=True)
    states = list(pipe.process_lines([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        _rec("s", id="bad"),
        _rec("s", id=2),
        json.dumps({"type": "STATE", "value": {"x": 1}}),
    ]))
    assert states == ['{"x":1}']
    assert not (tmp_path / "out").exists()
    assert pipe.streams["s"].rows_written == 2
    assert pipe.invalid_counts == {"s": 1}


def test_dry_run_cli_routes_state_to_stderr(spark, tmp_path, monkeypatch, capsys):
    """--dry-run keeps stdout silent: emitted stdout STATE is the
    Singer durable-commit signal, and a dry run commits nothing — a
    wrapping orchestrator must never persist these bookmarks and let
    the tap advance past unwritten data (ADVICE r6, medium). The
    checkpoint and summary remain visible on stderr."""
    import io

    from target_hdfs_spark.ingest import main

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(
        json.dumps({"hdfs_destination_path": str(tmp_path / "out")})
    )
    lines = "\n".join([
        _schema_msg("s", {"id": {"type": "integer"}}),
        _rec("s", id=1),
        json.dumps({"type": "STATE", "value": {"bookmark": 42}}),
    ]) + "\n"
    monkeypatch.setattr("sys.stdin", io.StringIO(lines))
    assert main(["--config", str(cfg_path), "--dry-run"]) == 0
    out, err = capsys.readouterr()
    assert out == ""  # no durable-commit signal escaped
    assert '{"bookmark":42}' in err  # checkpoint still visible
    assert '"dry_run": true' in err  # summary on stderr
    assert not (tmp_path / "out").exists()


def test_stream_map_alias_routes_sink(spark, tmp_path):
    """singer-sdk `__alias__` parity (r9 verdict item 4): a stream map
    renaming `orders -> orders_v2` routes records to root/orders_v2,
    the original stream dir is never created, record-shaping keys in
    the same map still apply, and STATE passes through keyed by the
    ORIGINAL stream id."""
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={"orders": {"__alias__": "orders_v2", "id2": "id * 10"}},
    )
    pipe = SingerPipe(spark, config)
    state = json.dumps(
        {"type": "STATE", "value": {"bookmarks": {"orders": {"id": 2}}}}
    )
    out = list(pipe.process_lines([
        _schema_msg("orders", {"id": {"type": "integer"}}),
        _rec("orders", id=1),
        _rec("orders", id=2),
        state,
    ]))
    rows = spark.read.parquet(str(tmp_path / "orders_v2")).collect()
    assert {r.id for r in rows} == {1, 2}
    assert {r.id2 for r in rows} == {10, 20}
    assert not (tmp_path / "orders").exists()
    assert out and json.loads(out[-1])["bookmarks"]["orders"]["id"] == 2


def test_stream_map_null_drops_whole_stream(spark, tmp_path, capsys):
    """singer-sdk stream removal (r10 verdict item 2): `stream_maps:
    {orders: null}` suppresses the orders sink entirely — records are
    counted and dropped, no directory is created, other streams write
    normally, and STATE still advances (keyed by the original id)."""
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={"orders": None},
    )
    pipe = SingerPipe(spark, config)
    state = json.dumps(
        {"type": "STATE", "value": {"bookmarks": {"orders": {"id": 2}}}}
    )
    out = list(pipe.process_lines([
        _schema_msg("orders", {"id": {"type": "integer"}}),
        _schema_msg("users", {"id": {"type": "integer"}}),
        _rec("orders", id=1),
        _rec("users", id=7),
        _rec("orders", id=2),
        state,
    ]))
    assert not (tmp_path / "orders").exists()
    rows = spark.read.parquet(str(tmp_path / "users")).collect()
    assert {r.id for r in rows} == {7}
    assert pipe.dropped_counts == {"orders": 2}
    assert out and json.loads(out[-1])["bookmarks"]["orders"]["id"] == 2
    err = capsys.readouterr().err
    assert '"dropped_records": {"orders": 2}' in err


def test_stream_map_else_null_drops_unmapped_streams(spark, tmp_path):
    """`__else__: null` drops every stream NOT named in stream_maps
    (the Meltano "only these streams" idiom): mapped streams keep
    their maps (including __alias__), unmapped streams never write,
    STATE passes through."""
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={
            "orders": {"__alias__": "orders_v2"},
            "__else__": None,
        },
    )
    pipe = SingerPipe(spark, config)
    state = json.dumps(
        {"type": "STATE", "value": {"bookmarks": {"users": {"id": 9}}}}
    )
    out = list(pipe.process_lines([
        _schema_msg("orders", {"id": {"type": "integer"}}),
        _schema_msg("users", {"id": {"type": "integer"}}),
        _rec("orders", id=1),
        _rec("users", id=9),
        state,
    ]))
    rows = spark.read.parquet(str(tmp_path / "orders_v2")).collect()
    assert {r.id for r in rows} == {1}
    assert not (tmp_path / "users").exists()
    assert pipe.dropped_counts == {"users": 1}
    assert out and json.loads(out[-1])["bookmarks"]["users"]["id"] == 9


def test_stream_map_null_sentinel_string(spark, tmp_path):
    """The singer-sdk "__NULL__" string sentinel (for config surfaces
    that can't express JSON null) drops the stream exactly like
    null — previously it raised AttributeError in sink_stream_name."""
    config = TargetConfig(
        destination_path=str(tmp_path),
        stream_maps={"orders": "__NULL__"},
    )
    assert config.stream_is_dropped("orders")
    pipe = SingerPipe(spark, config)
    list(pipe.process_lines([
        _schema_msg("orders", {"id": {"type": "integer"}}),
        _rec("orders", id=1),
    ]))
    assert not (tmp_path / "orders").exists()
    assert pipe.dropped_counts == {"orders": 1}


def test_stream_map_invalid_shape_fails_eagerly():
    """A truthy non-dict stream_maps value (not the __NULL__ sentinel)
    is a config error at construction, not an AttributeError
    mid-pipe."""
    with pytest.raises(ValueError, match="stream_maps"):
        TargetConfig(
            destination_path="/tmp/x",
            stream_maps={"orders": "drop-me"},
        )
