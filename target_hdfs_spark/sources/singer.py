"""Singer protocol ingest: line-delimited JSON messages -> per-stream
typed DataFrames -> governed Parquet writes, with STATE passthrough.

This is the reference's entire runtime re-expressed (SURVEY.md §3.1):

    SCHEMA   -> register stream (JSON Schema -> StructType)
    RECORD   -> validate/coerce, buffer; flush at max_batch_size
    STATE    -> flush everything, then emit the state line
                (at-least-once: state only after durable writes,
                reference semantics R28)
    ACTIVATE_VERSION -> record version (stamped when metadata is on)

Two ingest paths share every transform and the writer:

- `SingerPipe.process_lines` — protocol-faithful stdin loop. The
  driver-side record buffer (coerced row tuples) is bounded by
  max_batch_size. A flush transposes it into one Arrow table and
  hands that to `createDataFrame` — a columnar transfer with no
  per-row pickling, as the reference buffers PyArrow tables — then
  writes it from a single partition: a flush holds at most
  max_batch_size rows, the file row limit, so it lands as one file.
- `ingest_jsonl_dir` — the 100 TB path: records already staged as
  JSONL files are read with `spark.read.json(schema=...)` so parsing,
  validation and writing all run distributed; the driver never sees a
  record.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import sys
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.plans.writer import write_stream
from target_hdfs_spark.sources.jsonschema import jsonschema_to_spark
from target_hdfs_spark.transforms import (
    apply_stream_map,
    flatten,
    with_extra_fields,
    with_record_metadata,
)


class RecordValidationError(ValueError):
    """A RECORD does not conform to its stream's declared schema."""


_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1
_LONE_SURROGATE = re.compile("[\ud800-\udfff]")

_DLQ_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType()) for name in ("stream", "record", "error")]
)


@dataclass
class _StreamBuffer:
    schema: T.StructType
    records: list[tuple] = field(default_factory=list)
    version: int | None = None
    rows_written: int = 0
    files_flushed: int = 0


def _coerce(value, dtype: T.DataType, path: str):
    """Coerce a JSON value to its Spark type (timestamps/dates arrive
    as ISO-8601 strings on the Singer wire). Raises
    RecordValidationError on type mismatches — the engine's analog of
    the SDK's JSON Schema record validation (R5).

    Timestamps come out aware and in UTC: Arrow drops a datetime's
    offset when building a UTC column, so the offset is applied here.
    A naive timestamp is read in UTC, the session zone — never in the
    host's local zone. Integers must fit int64, so an out-of-range
    value is an invalid record (skip/dlq apply) rather than a flush
    failure."""
    if value is None:
        return None
    try:
        if isinstance(dtype, T.TimestampType):
            if not isinstance(value, dt.datetime):
                value = dt.datetime.fromisoformat(str(value).replace("Z", "+00:00"))
            if value.tzinfo is None:
                return value.replace(tzinfo=dt.timezone.utc)
            return value.astimezone(dt.timezone.utc)
        if isinstance(dtype, T.DateType):
            if isinstance(value, dt.date) and not isinstance(value, dt.datetime):
                return value
            return dt.date.fromisoformat(str(value)[:10])
        if isinstance(dtype, T.LongType):
            if isinstance(value, bool) or not isinstance(value, (int, float)):
                raise ValueError(f"not an integer: {value!r}")
            if isinstance(value, float) and not value.is_integer():
                # silent truncation would corrupt data; 2.0 is fine, 1.9 is not
                raise ValueError(f"non-integral value for integer field: {value!r}")
            if not _INT64_MIN <= value <= _INT64_MAX:
                raise ValueError(f"integer out of int64 range: {value!r}")
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
            value = str(value)
            # a JSON escape can carry a lone surrogate, which UTF-8 (and
            # so Arrow) cannot encode: store U+FFFD, as the JVM decodes it
            return value if value.isascii() else _LONE_SURROGATE.sub("\ufffd", value)
        if isinstance(dtype, T.StructType):
            if not isinstance(value, dict):
                raise ValueError(f"not an object: {value!r}")
            return tuple(_coerce(value.get(f.name), f.dataType, f"{path}.{f.name}")
                         for f in dtype.fields)
        if isinstance(dtype, T.ArrayType):
            if not isinstance(value, list):
                raise ValueError(f"not an array: {value!r}")
            return [_coerce(v, dtype.elementType, f"{path}[]") for v in value]
        return value
    except RecordValidationError:
        raise
    except (ValueError, TypeError, OverflowError) as e:
        raise RecordValidationError(f"field {path}: {e}") from e


def _arrow_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """Buffered row tuples -> a one-partition DataFrame, transferred as
    one Arrow table (columns transposed here, at flush time). A
    zero-field schema has no column to carry the row count through
    Arrow, so its rows come from `range` instead."""
    if not schema.fields:
        return spark.range(len(rows), numPartitions=1).select()
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema).coalesce(1)


class SingerPipe:
    """Stateful Singer message processor (one instance per run)."""

    def __init__(
        self, spark: SparkSession, config: TargetConfig, dry_run: bool = False
    ):
        self.spark = spark
        self.config = config
        self.streams: dict[str, _StreamBuffer] = {}
        # invalid-record policy state (config.on_invalid): per-stream
        # skip counters, and the quarantine buffer for "dlq" mode
        self.invalid_counts: dict[str, int] = {}
        # stream-map removal state: streams declared by SCHEMA but
        # suppressed by `stream_maps: {name: null}` / `__else__: null`
        # — records counted and dropped, no buffer, no directory
        self.dropped_counts: dict[str, int] = {}
        self._dropped_streams: set[str] = set()
        self._dlq: list[tuple[str, str, str]] = []
        self._dlq_layout_checked = False
        # dry_run: full demux + validation + batching, NO writes —
        # the pre-flight a pipeline runs against a new tap before
        # letting it touch the destination. process_lines still
        # yields STATE payloads (they mark validation checkpoints),
        # but the CLI routes them to stderr in this mode: emitted
        # stdout STATE is the protocol's durable-commit signal, and
        # a dry run must never let an orchestrator persist bookmarks
        # for data that was not written.
        self.dry_run = dry_run

    # -- message loop -----------------------------------------------------

    def process_lines(self, lines: Iterable[str]) -> Iterator[str]:
        """Consume Singer message lines; yield STATE lines only after
        all buffered records that precede them are durably written."""
        for line in lines:
            line = line.strip()
            if not line:
                continue
            msg = json.loads(line)
            mtype = msg.get("type")
            if mtype == "SCHEMA":
                self._on_schema(msg)
            elif mtype == "RECORD":
                self._on_record(msg)
            elif mtype == "STATE":
                self.flush_all()
                yield json.dumps(msg.get("value", {}), separators=(",", ":"))
            elif mtype == "ACTIVATE_VERSION":
                buf = self.streams.get(msg["stream"])
                if buf is not None:
                    # flush BEFORE switching versions: buffered records
                    # were received under the OLD version — stamping
                    # them with the new one would exempt them from the
                    # soft-delete finalization they are meant to get
                    self._flush(msg["stream"])
                    buf.version = msg.get("version")
            # unknown types are ignored (forward compatibility)
        self.flush_all()
        self._finalize_versions()
        self._report_invalid()

    def _report_invalid(self) -> None:
        """End-of-stream observability for the lossy policies: with
        on_invalid='skip' records are dropped and with 'dlq' they are
        diverted — either way a normal run must leave an operator-
        visible signal that data was discarded, not just an in-memory
        counter (ADVICE r6). One JSON line on stderr, mirroring the
        dry-run summary's shape. Silent when nothing was invalid.
        Stream-map drops get the same end-of-run signal: intentional,
        but an operator should see how much data a `null` map ate."""
        if self.dry_run:
            return
        if self.invalid_counts:
            print(
                json.dumps(
                    {
                        "invalid_records": dict(sorted(self.invalid_counts.items())),
                        "policy": self.config.on_invalid,
                    }
                ),
                file=sys.stderr,
                flush=True,
            )
        if self.dropped_counts:
            print(
                json.dumps(
                    {
                        "dropped_records": dict(sorted(self.dropped_counts.items())),
                        "policy": "stream_maps null",
                    }
                ),
                file=sys.stderr,
                flush=True,
            )

    def _on_schema(self, msg: dict) -> None:
        name = msg["stream"]
        if self.config.stream_is_dropped(name):
            # the stream is DECLARED (so its RECORDs are not protocol
            # violations) but never buffered or written — singer-sdk
            # stream removal semantics
            self._dropped_streams.add(name)
            return
        new_schema = jsonschema_to_spark(msg["schema"])
        existing = self.streams.get(name)
        if existing is not None:
            if existing.schema == new_schema:
                # Taps re-send SCHEMA routinely (often once per batch);
                # an identical schema must NOT touch the buffer —
                # replacing it here would silently drop unflushed
                # records that a later STATE would falsely confirm.
                return
            # flush under the old schema before switching; the write
            # path then raises SchemaChangedError against on-disk data
            # (strict drift semantics, reference hdfs.py:111-116)
            self._flush(name)
            # carry the activated version and counters across the
            # schema change — dropping them would silently skip version
            # stamping and end-of-stream soft-delete finalization
            self.streams[name] = _StreamBuffer(
                schema=new_schema,
                version=existing.version,
                rows_written=existing.rows_written,
                files_flushed=existing.files_flushed,
            )
            return
        self.streams[name] = _StreamBuffer(schema=new_schema)

    def _on_record(self, msg: dict) -> None:
        name = msg["stream"]
        if name in self._dropped_streams:
            # dropped by stream map: count for observability, skip
            # validation/buffering entirely (the stream has no schema)
            self.dropped_counts[name] = self.dropped_counts.get(name, 0) + 1
            return
        buf = self.streams.get(name)
        if buf is None:
            # always a hard failure: a RECORD without a prior SCHEMA is
            # a tap protocol violation, not a data-quality event the
            # skip/dlq policies are meant to absorb
            raise RecordValidationError(f"RECORD for undeclared stream {name!r}")
        rec = msg["record"]
        try:
            row = tuple(
                _coerce(rec.get(f.name), f.dataType, f.name)
                for f in buf.schema.fields
            )
        except RecordValidationError as e:
            if self.config.on_invalid == "fail":
                raise
            self.invalid_counts[name] = self.invalid_counts.get(name, 0) + 1
            if self.config.on_invalid == "dlq":
                self._dlq.append(
                    (name, json.dumps(rec, separators=(",", ":")), str(e))
                )
                if len(self._dlq) >= self.config.max_batch_size:
                    self._flush_dlq()
            return
        buf.records.append(row)
        if len(buf.records) >= self.config.max_batch_size:
            self._flush(name)

    def _finalize_versions(self) -> None:
        """End-of-stream ACTIVATE_VERSION semantics: rows of versions
        older than the activated one get `_sdc_deleted_at` stamped
        (soft delete — the Singer SDK's non-hard-delete finalization).
        Only applies when record metadata is on (the version column
        exists on disk)."""
        if not self.config.add_record_metadata or self.dry_run:
            return
        if self.config.table_format not in ("parquet", "orc"):
            # Delta/Iceberg manage row versions in their own metadata
            # layer; the raw-file rewrite would corrupt their tables —
            # and must not crash an otherwise-complete run after the
            # final STATE was emitted
            return
        from target_hdfs_spark.plans.upsert import soft_delete_older_versions

        for name, buf in self.streams.items():
            if buf.version is not None:
                soft_delete_older_versions(
                    self.spark,
                    self.config.stream_path(name),
                    int(buf.version),
                    partition_cols=tuple(self.config.partition_cols),
                    fmt=self.config.table_format,
                )

    # -- flush path --------------------------------------------------------

    def flush_all(self) -> None:
        for name in list(self.streams):
            self._flush(name)
        self._flush_dlq()

    def _flush_dlq(self) -> None:
        """Quarantine invalid records ("dlq" mode): raw record JSON +
        the validation error, appended as parquet under
        <destination_path>/_dlq/stream=<stream>. At-least-once like
        the main flow (written before the covering STATE is emitted);
        the DLQ write path is append-only parquet and never consults
        the drift guard — its schema is fixed by the engine, not the
        tap.

        ONE write job partitioned by the stream column (ADVICE r6):
        the previous shape ran a coalesce(1) job per distinct stream
        on every flush, and flush_all fires on every STATE — a chatty
        tap in dlq mode produced many driver-blocking jobs and tiny
        single-row files. partitionBy keeps the per-stream directory
        layout (Hive-style) while issuing a single job per flush.

        LAYOUT BREAK (ADVICE r7): r6 changed the layout from
        _dlq/<stream> to Hive-partitioned _dlq/stream=<stream>.
        Appending to a destination holding old-layout directories
        would mix partitioned and non-partitioned data under one root
        (old files lack the stream column), breaking
        spark.read.parquet(_dlq) partition discovery — so the first
        flush FAILS FAST when a legacy non-`stream=` subdirectory is
        detected, naming the migration (mv _dlq/<s> _dlq/stream=<s>).
        """
        if not self._dlq:
            return
        if self.dry_run:
            self._dlq.clear()
            return
        base = f"{self.config.destination_path.rstrip('/')}/_dlq"
        if not self._dlq_layout_checked:
            from target_hdfs_spark.plans.compaction import _fs

            fs, jpath, _ = _fs(self.spark, base)
            if fs.exists(jpath):
                legacy = [
                    s.getPath().getName()
                    for s in fs.listStatus(jpath)
                    if s.isDirectory()
                    and not s.getPath().getName().startswith("stream=")
                    and not s.getPath().getName().startswith("_")
                ]
                if legacy:
                    raise RuntimeError(
                        f"legacy (pre-Hive-partitioned) DLQ layout detected "
                        f"under {base}: {sorted(legacy)}; migrate each "
                        "directory to the stream=<name> layout (e.g. "
                        f"mv {base}/<s> {base}/stream=<s>) before appending "
                        "— mixing layouts under one root breaks partition "
                        "discovery for readers"
                    )
            self._dlq_layout_checked = True
        df = _arrow_frame(self.spark, self._dlq, _DLQ_SCHEMA)
        df.write.partitionBy("stream").mode("append").parquet(base)
        self._dlq.clear()

    def _flush(self, name: str) -> None:
        buf = self.streams[name]
        if not buf.records:
            return
        if self.dry_run:
            buf.rows_written += len(buf.records)
            buf.files_flushed += 1
            buf.records.clear()
            return
        df = self._shape(name, _arrow_frame(self.spark, buf.records, buf.schema), buf)
        write_stream(
            self.spark,
            df,
            self.config.stream_path(name),
            self.config,
            rows_per_file=max(self.config.max_batch_size, 1),
        )
        buf.rows_written += len(buf.records)
        buf.files_flushed += 1
        buf.records.clear()

    def _shape(self, name: str, df: DataFrame, buf: _StreamBuffer) -> DataFrame:
        df = flatten(df, self.config.flattening_max_depth)
        smap = self.config.stream_maps.get(name)
        if smap:
            df = apply_stream_map(df, smap)
        df = with_extra_fields(df, self.config.extra_fields, self.config.extra_fields_types)
        if self.config.add_record_metadata:
            df = with_record_metadata(df)
            # ALWAYS stamp the version column (null before any
            # activation): adding it only post-activation changes the
            # on-disk schema mid-stream and trips the strict drift
            # guard — the same stability rule _sdc_deleted_at follows
            df = df.withColumn(
                "_sdc_table_version",
                F.lit(buf.version).cast("bigint"),
            )
        return df


def ingest_jsonl_dir(
    spark: SparkSession,
    config: TargetConfig,
    stream_name: str,
    jsonl_path: str,
    json_schema: dict,
) -> None:
    """Distributed ingest of staged Singer RECORD payloads (one JSON
    object per line, record fields at top level).

    Scale: `spark.read.json` with an explicit schema parses on the
    executors with no driver involvement and no schema inference pass;
    corrupt lines land in `_corrupt_record` and fail loudly rather
    than silently dropping (PERMISSIVE + explicit check would be the
    lenient variant; strict is the reference's posture)."""
    if config.stream_is_dropped(stream_name):
        return  # stream removed by stream map: no read, no sink
    schema = jsonschema_to_spark(json_schema)
    df = spark.read.schema(schema).option("mode", "FAILFAST").json(jsonl_path)
    df = flatten(df, config.flattening_max_depth)
    smap = config.stream_maps.get(stream_name)
    if smap:
        df = apply_stream_map(df, smap)
    df = with_extra_fields(df, config.extra_fields, config.extra_fields_types)
    if config.add_record_metadata:
        df = with_record_metadata(df)
    write_stream(spark, df, config.stream_path(stream_name), config)
