"""Writer tests: compression codecs, file-size governance, rows-per-
file estimation."""

from __future__ import annotations

import glob

import pytest

from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.plans.writer import (
    estimate_rows_per_file,
    target_file_bytes,
    write_stream,
)


@pytest.mark.parametrize("codec,ext", [("gzip", ".gz.parquet"), ("snappy", ".snappy.parquet"), ("zstd", ".zstd.parquet")])
def test_compression_codecs_roundtrip(spark, tmp_path, codec, ext):
    df = spark.range(100).selectExpr("id AS v", "concat('row-', id) AS s")
    config = TargetConfig(destination_path=str(tmp_path), compression=codec)
    write_stream(spark, df, str(tmp_path / "s"), config, rows_per_file=1000)
    files = glob.glob(str(tmp_path / "s" / "*.parquet"))
    assert files and all(f.endswith(ext) for f in files), files
    got = spark.read.parquet(str(tmp_path / "s"))
    assert got.count() == 100
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(100))


def test_rows_per_file_governs_file_count(spark, tmp_path):
    df = spark.range(1000).repartition(1)
    config = TargetConfig(destination_path=str(tmp_path), compression="snappy")
    write_stream(spark, df, str(tmp_path / "s"), config, rows_per_file=250)
    files = glob.glob(str(tmp_path / "s" / "*.parquet"))
    assert len(files) == 4  # 1000 rows / 250 per file


def test_target_file_bytes_precedence(spark):
    # explicit target wins over block-size-derived default
    c1 = TargetConfig(destination_path="/x", target_file_bytes="1M")
    assert target_file_bytes(spark, c1) == 1 << 20
    c2 = TargetConfig(destination_path="/x", block_size_limit="2M")
    assert target_file_bytes(spark, c2) == 2 << 20
    c3 = TargetConfig(destination_path="/x")
    assert target_file_bytes(spark, c3) > 0


def test_estimate_rows_per_file_scales_with_target(spark):
    df = spark.range(5000).selectExpr("id", "concat('x', id) AS s")
    small = estimate_rows_per_file(df, 1 << 20)
    large = estimate_rows_per_file(df, 64 << 20)
    assert large >= small >= 1000


def test_table_format_seam_parquet_always_available(spark):
    from target_hdfs_spark.plans.writer import table_format_available

    assert table_format_available(spark, "parquet") is True


@pytest.mark.parametrize("fmt,hint", [("delta", "delta-spark"), ("iceberg", "iceberg-spark-runtime")])
def test_table_format_seam_fails_fast_without_jars(spark, tmp_path, fmt, hint):
    """The delta/iceberg seam is a tested interface: in this jar-less
    environment the write fails BEFORE touching the destination, with
    a typed error naming the missing runtime and its remediation —
    with the jars present the same writer goes through
    DataFrameWriter.format(fmt).save(path)."""
    from target_hdfs_spark.plans.writer import TableFormatUnavailableError

    df = spark.range(10).selectExpr("id AS v")
    config = TargetConfig(
        destination_path=str(tmp_path), compression="snappy", table_format=fmt
    )
    with pytest.raises(TableFormatUnavailableError, match=hint):
        write_stream(spark, df, str(tmp_path / "s"), config, rows_per_file=100)
    assert not glob.glob(str(tmp_path / "s" / "*")), "must not write on failure"


def test_table_format_config_validation():
    with pytest.raises(ValueError, match="table_format"):
        TargetConfig(destination_path="/x", table_format="orc-nope")
    c = TargetConfig.from_dict(
        {"hdfs_destination_path": "/x", "table_format": "delta"}
    )
    assert c.table_format == "delta"


def test_additive_schema_evolution_accepts_new_column(spark, tmp_path):
    from target_hdfs_spark.plans.writer import read_dataset

    path = str(tmp_path / "s")
    base = TargetConfig(
        destination_path=str(tmp_path), compression="snappy",
        schema_evolution="additive",
    )
    v1 = spark.range(5).selectExpr("id AS v")
    write_stream(spark, v1, path, base, rows_per_file=100)
    v2 = spark.range(5, 8).selectExpr("id AS v", "concat('n-', id) AS note")
    write_stream(spark, v2, path, base, rows_per_file=100)
    got = read_dataset(spark, path)
    assert set(got.columns) == {"v", "note"}
    rows = {r.v: r.note for r in got.collect()}
    assert len(rows) == 8
    assert rows[1] is None and rows[6] == "n-6"


def test_additive_still_rejects_drop_and_type_change(spark, tmp_path):
    from target_hdfs_spark.plans.writer import SchemaChangedError

    path = str(tmp_path / "s")
    cfg = TargetConfig(
        destination_path=str(tmp_path), compression="snappy",
        schema_evolution="additive",
    )
    write_stream(
        spark,
        spark.range(5).selectExpr("id AS v", "concat('x', id) AS note"),
        path, cfg, rows_per_file=100,
    )
    with pytest.raises(SchemaChangedError, match="dropped"):
        write_stream(
            spark, spark.range(3).selectExpr("id AS v"), path, cfg,
            rows_per_file=100,
        )
    with pytest.raises(SchemaChangedError, match="type_changed"):
        write_stream(
            spark,
            spark.range(3).selectExpr("id AS v", "CAST(id AS DOUBLE) AS note"),
            path, cfg, rows_per_file=100,
        )


def test_strict_mode_still_rejects_new_column(spark, tmp_path):
    from target_hdfs_spark.plans.writer import SchemaChangedError

    path = str(tmp_path / "s")
    cfg = TargetConfig(destination_path=str(tmp_path), compression="snappy")
    write_stream(spark, spark.range(5).selectExpr("id AS v"), path, cfg,
                 rows_per_file=100)
    with pytest.raises(SchemaChangedError):
        write_stream(
            spark,
            spark.range(3).selectExpr("id AS v", "id AS extra"),
            path, cfg, rows_per_file=100,
        )


def test_orc_write_roundtrip_with_codec_mapping(spark, tmp_path):
    """ORC is the second always-available native sink: same write
    path, codec name mapped (config 'gzip' -> ORC zlib)."""
    df = spark.range(100).selectExpr("id AS v", "concat('row-', id) AS s")
    config = TargetConfig(
        destination_path=str(tmp_path), compression="gzip", table_format="orc"
    )
    write_stream(spark, df, str(tmp_path / "s"), config, rows_per_file=1000)
    files = glob.glob(str(tmp_path / "s" / "*.orc"))
    assert files and all(".zlib." in f for f in files), files
    got = spark.read.orc(str(tmp_path / "s"))
    assert got.count() == 100
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(100))


def test_orc_schema_drift_guard(spark, tmp_path):
    """The R27 drift guard reads the EXISTING dataset in its own
    format — an ORC sink must trip on drift exactly like parquet."""
    import pytest as _pytest

    from target_hdfs_spark.plans.writer import SchemaChangedError

    path = str(tmp_path / "s")
    config = TargetConfig(
        destination_path=str(tmp_path), compression="snappy", table_format="orc"
    )
    v1 = spark.range(5).selectExpr("id AS v")
    write_stream(spark, v1, path, config, rows_per_file=100)
    drifted = spark.range(3).selectExpr("CAST(id AS STRING) AS v")
    with _pytest.raises(SchemaChangedError):
        write_stream(spark, drifted, path, config, rows_per_file=100)


def test_orc_additive_evolution_merges_schema(spark, tmp_path):
    from target_hdfs_spark.plans.writer import read_dataset

    path = str(tmp_path / "s")
    config = TargetConfig(
        destination_path=str(tmp_path), compression="snappy",
        table_format="orc", schema_evolution="additive",
    )
    v1 = spark.range(5).selectExpr("id AS v")
    write_stream(spark, v1, path, config, rows_per_file=100)
    v2 = spark.range(5, 8).selectExpr("id AS v", "concat('n-', id) AS note")
    write_stream(spark, v2, path, config, rows_per_file=100)
    got = read_dataset(spark, path, fmt="orc")
    assert set(got.columns) == {"v", "note"}
    assert got.count() == 8


def test_existing_schema_absent_empty_and_present(spark, tmp_path):
    """A missing path and an empty directory have no schema; a written
    dataset reports its own."""
    from target_hdfs_spark.plans.writer import existing_schema

    assert existing_schema(spark, str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert existing_schema(spark, str(tmp_path / "empty")) is None
    spark.range(2).write.parquet(str(tmp_path / "full"))
    assert existing_schema(spark, str(tmp_path / "full")).fieldNames() == ["id"]


def test_checked_schema_skips_guard_only_when_it_matches(spark, tmp_path):
    """`checked_schema` vouches for one schema only: a frame with any
    other schema is still checked against disk."""
    from target_hdfs_spark.plans.writer import SchemaChangedError

    path = str(tmp_path / "s")
    config = TargetConfig(destination_path=str(tmp_path))
    v1 = spark.range(2).selectExpr("id AS v")
    write_stream(spark, v1, path, config, rows_per_file=100)
    write_stream(spark, v1, path, config, rows_per_file=100, checked_schema=v1.schema)
    drifted = spark.range(1).selectExpr("CAST(id AS STRING) AS v")
    with pytest.raises(SchemaChangedError):
        write_stream(spark, drifted, path, config, rows_per_file=100,
                     checked_schema=v1.schema)
