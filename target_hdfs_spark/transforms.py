"""Record-shaping transforms: struct flattening, extra-field
injection, Singer `_sdc_*` metadata columns, and config-driven stream
maps. All pure DataFrame -> DataFrame functions (testable with no
cluster, reference §3.3 boundary), all JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from target_hdfs_spark.config import TargetConfig

SEP = "__"


def flatten_columns(
    schema: T.StructType, max_depth: int | None = None, prefix: str = ""
) -> list[Column]:
    """Recursive StructType walker emitting `a.b` -> `a__b` columns.

    The reference inherits this shape from target-parquet's
    `flatten_record` (capability: meltano.yml:19, pin pyproject.toml:18):
    nested *objects* flatten to `parent__child` columns; arrays are NOT
    exploded (they stay as list columns). `max_depth` bounds recursion;
    structs below the bound serialize to JSON strings.
    """
    # `prefix` carries resolved parent segments as a tuple so field
    # names containing literal dots neither misparse as nested access
    # (references are backtick-quoted per segment) nor miscount depth
    parts0: tuple[str, ...] = prefix if isinstance(prefix, tuple) else ()
    cols: list[Column] = []
    for f in schema.fields:
        parts = (*parts0, f.name)
        ref = ".".join(f"`{p}`" for p in parts)
        out_name = SEP.join(parts)
        if isinstance(f.dataType, T.StructType):
            if max_depth is not None and len(parts) > max_depth:
                cols.append(F.to_json(F.expr(ref)).alias(out_name))
            else:
                cols.extend(flatten_columns(f.dataType, max_depth, prefix=parts))
        else:
            cols.append(F.expr(ref).alias(out_name))
    return cols


def _flattened_names(
    schema: T.StructType, max_depth: int | None, parts0: tuple[str, ...] = ()
) -> list[str]:
    """Output names flatten_columns will produce (same walk, names
    only — used for collision detection)."""
    names: list[str] = []
    for f in schema.fields:
        parts = (*parts0, f.name)
        if isinstance(f.dataType, T.StructType) and not (
            max_depth is not None and len(parts) > max_depth
        ):
            names.extend(_flattened_names(f.dataType, max_depth, parts))
        else:
            names.append(SEP.join(parts))
    return names


def flatten(df: DataFrame, max_depth: int | None = None) -> DataFrame:
    """Flatten all nested structs into `__`-joined top-level columns.

    Name collisions (a pre-flattened `a__b` column next to a nested
    `a.b`) fail loudly: a duplicate-named projection would only crash
    later at write time with a less actionable error."""
    if not any(isinstance(f.dataType, T.StructType) for f in df.schema.fields):
        return df
    cols = flatten_columns(df.schema, max_depth)
    names = _flattened_names(df.schema, max_depth)
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"flattening produces duplicate column names {dupes}; "
            "rename the colliding source fields (stream_maps) first"
        )
    return df.select(*cols)


_EXTRA_TYPES = {
    "string": "string",
    "integer": "bigint",
    "number": "double",
    "boolean": "boolean",
}


def with_extra_fields(
    df: DataFrame, fields: dict[str, str], types: dict[str, str]
) -> DataFrame:
    """Append operator-declared constant columns (reference config
    `extra_fields` / `extra_fields_types`, README.md:40-41)."""
    for name, value in fields.items():
        spark_type = _EXTRA_TYPES.get(types.get(name, "string"), "string")
        df = df.withColumn(name, F.lit(value).cast(spark_type))
    return df


def with_record_metadata(df: DataFrame) -> DataFrame:
    """Singer `_sdc_*` audit columns (inherited surface, SURVEY §1.3).

    `_sdc_received_at`/`_sdc_batched_at` are stamped at ingest time;
    `_sdc_extracted_at` passes through if the tap provided it.
    """
    now = F.current_timestamp()
    df = df.withColumn("_sdc_received_at", now).withColumn("_sdc_batched_at", now)
    if "_sdc_extracted_at" not in df.columns:
        df = df.withColumn("_sdc_extracted_at", F.lit(None).cast("timestamp"))
    # always present so ACTIVATE_VERSION soft-delete rewrites don't
    # change the on-disk schema (drift guard stays green across runs)
    if "_sdc_deleted_at" not in df.columns:
        df = df.withColumn("_sdc_deleted_at", F.lit(None).cast("timestamp"))
    return df


#: stream-map keys that configure the map itself rather than naming a
#: record column: `__filter__` (row predicate), `__alias__` (rename
#: the stream's sink — resolved by TargetConfig.sink_stream_name, not
#: here: aliasing routes the WRITE, it never reshapes the record).
_STREAM_MAP_META_KEYS = frozenset({"__filter__", "__alias__"})


def apply_stream_map(df: DataFrame, stream_map: dict) -> DataFrame:
    """Config-driven per-stream reshaping (Meltano `stream_maps`
    capability, meltano.yml:18): SQL-expression columns, column drops
    (value None or the "__NULL__" sentinel), a row filter under the
    `__filter__` key, and a sink
    rename under `__alias__` (a no-op here — the pipe's path routing
    consumes it). All expressions are Spark SQL strings -> fully
    Catalyst-optimizable.

    Evaluation order matches stream-map semantics (expressions see the
    original record): computed columns first, then the row filter,
    then drops — so `{"ssn": None, "ssn_masked": "substr(ssn,1,3)"}`
    (mask-then-drop) and filters over mapped columns both work.
    """
    def _is_drop(v) -> bool:
        # singer-sdk property removal: JSON null, or the "__NULL__"
        # string sentinel for config surfaces that can't express null
        return v is None or v == "__NULL__"

    mapped = {
        name: F.expr(str(expr))
        for name, expr in stream_map.items()
        if name not in _STREAM_MAP_META_KEYS and not _is_drop(expr)
    }
    if mapped:
        # ONE withColumns call: every expression resolves against the
        # ORIGINAL record (the documented stream-map semantics) — a
        # sequential loop would let `{"ssn": "'***'", "last4":
        # "substr(ssn,8,4)"}` read the already-masked value
        df = df.withColumns(mapped)
    flt = stream_map.get("__filter__")
    if flt:
        df = df.filter(F.expr(flt))
    drops = [
        k
        for k, v in stream_map.items()
        if _is_drop(v) and k not in _STREAM_MAP_META_KEYS
    ]
    if drops:
        df = df.drop(*drops)
    return df


def shape_records(df: DataFrame, config: TargetConfig, stream_name: str) -> DataFrame:
    """The record-shaping pipeline every ingest path shares (the
    Singer pipe, staged JSONL and streaming ingest): flatten, the
    stream's map, extra fields, then record metadata."""
    df = flatten(df, config.flattening_max_depth)
    smap = config.stream_maps.get(stream_name)
    if smap:
        df = apply_stream_map(df, smap)
    df = with_extra_fields(df, config.extra_fields, config.extra_fields_types)
    if config.add_record_metadata:
        df = with_record_metadata(df)
    return df
