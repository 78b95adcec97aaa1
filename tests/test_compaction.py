"""Compaction job tests (reference semantics: small-file merge with
schema guard and atomic-ish swap — SURVEY.md §4.3)."""

from __future__ import annotations

import pytest

from target_hdfs_spark.plans.compaction import (
    compact_directory,
    compact_stream,
    list_parquet_files,
    most_recent_file,
)
from target_hdfs_spark.plans.writer import SchemaChangedError


def _write_small_files(spark, path, n_files=4, rows_each=10, offset=0):
    for i in range(n_files):
        df = spark.range(offset + i * rows_each, offset + (i + 1) * rows_each).withColumnRenamed(
            "id", "v"
        )
        df.coalesce(1).write.mode("append").parquet(str(path))


def test_listing_missing_dir_is_empty(spark, tmp_path):
    assert list_parquet_files(spark, str(tmp_path / "nope")) == []
    assert most_recent_file(spark, str(tmp_path / "nope")) is None


def test_compact_merges_small_files(spark, tmp_path):
    path = tmp_path / "stream"
    _write_small_files(spark, path, n_files=4, rows_each=10)
    before = list_parquet_files(spark, str(path))
    assert len(before) == 4

    report = compact_directory(spark, str(path), size_limit=10 * 1024 * 1024)
    after = list_parquet_files(spark, str(path))
    assert report.files_compacted == 4
    assert len(after) < len(before)
    # no data loss, no duplication
    df = spark.read.parquet(str(path))
    assert df.count() == 40
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(range(40))


def test_compact_leaves_large_files_alone(spark, tmp_path):
    path = tmp_path / "stream"
    _write_small_files(spark, path, n_files=3, rows_each=10)
    # limit below every file size -> nothing is undersized
    report = compact_directory(spark, str(path), size_limit=1)
    assert report.files_compacted == 0
    assert len(list_parquet_files(spark, str(path))) == 3


def test_compact_single_small_file_is_noop(spark, tmp_path):
    path = tmp_path / "stream"
    _write_small_files(spark, path, n_files=1)
    report = compact_directory(spark, str(path), size_limit=10 * 1024 * 1024)
    assert report.files_compacted == 0


def test_compact_schema_guard(spark, tmp_path):
    path = tmp_path / "stream"
    _write_small_files(spark, path, n_files=2)
    other = spark.range(5).withColumnRenamed("id", "different_col")
    with pytest.raises(SchemaChangedError):
        compact_directory(
            spark, str(path), size_limit=10 * 1024 * 1024, expected_schema=other.schema
        )


def test_compact_partitioned_per_directory(spark, tmp_path):
    path = tmp_path / "stream"
    for part in ("a", "b"):
        for i in range(3):
            df = spark.createDataFrame([(i, part)], "v long, p string")
            df.coalesce(1).write.mode("append").partitionBy("p").parquet(str(path))
    reports = compact_stream(
        spark, str(path), size_limit=10 * 1024 * 1024, partitioned=True
    )
    assert len(reports) == 2
    assert all(r.files_compacted == 3 for r in reports)
    df = spark.read.parquet(str(path))
    assert df.count() == 6
    # partition layout preserved
    assert (path / "p=a").is_dir() and (path / "p=b").is_dir()


def test_compact_multi_column_partitions(spark, tmp_path):
    """Regression: nested partition levels (year=/month=) must be
    compacted at the leaves, not silently skipped."""
    path = tmp_path / "stream"
    for m in ("1", "2"):
        for i in range(3):
            df = spark.createDataFrame([(i, "2024", m)], "v long, y string, m string")
            df.coalesce(1).write.mode("append").partitionBy("y", "m").parquet(str(path))
    reports = compact_stream(
        spark, str(path), size_limit=10 * 1024 * 1024, partitioned=True
    )
    assert len(reports) == 2  # two leaf dirs
    assert all(r.files_compacted == 3 for r in reports)
    df = spark.read.parquet(str(path))
    assert df.count() == 6


def test_compact_tmp_dir_invisible_to_readers(spark, tmp_path):
    """The commit staging dir and the manifest being written are
    underscore-prefixed inside the dataset root, so readers and
    partition discovery never see an in-flight rewrite."""
    path = tmp_path / "stream"
    _write_small_files(spark, path, n_files=3)
    # simulate a crashed compaction leaving its staging behind
    leftover = path / "_commit_tmp"
    spark.range(99).coalesce(1).write.parquet(str(leftover))
    spark.range(7).coalesce(1).write.parquet(str(leftover / "v=1"))
    (path / "_commit_manifest.json.tmp").write_text('{"moves": [')
    df = spark.read.parquet(str(path))
    assert df.columns == ["v"]  # no partition column discovered
    assert df.count() == 30  # nothing under _commit_tmp is read


def test_compact_preserves_configured_compression(spark, tmp_path):
    """ADVICE r1: compaction must not silently change the dataset's
    codec (the write path default is gzip; compaction used to hardcode
    snappy)."""
    import glob as _glob

    path = str(tmp_path / "t")
    for i in range(3):
        spark.createDataFrame([(i, "x" * 100)], "k long, s string").coalesce(
            1
        ).write.mode("append").option("compression", "gzip").parquet(path)

    compact_directory(spark, path, size_limit=10 * 1024 * 1024, compression="gzip")
    files = _glob.glob(f"{path}/*.parquet")
    assert files
    import pyarrow.parquet as pq

    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(rg).column(c).compression
            for rg in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"GZIP"}, f"{f}: {codecs}"


def test_compact_orc_default_codec(spark, tmp_path):
    """ORC compaction with default args must translate the config-level
    codec name (gzip -> zlib) — Spark's ORC writer rejects 'gzip', so
    before the mapping a default-args ORC compaction failed at write
    time."""
    path = str(tmp_path / "t")
    for i in range(3):
        spark.createDataFrame([(i, "x" * 100)], "k long, s string").coalesce(
            1
        ).write.mode("append").format("orc").save(path)
    report = compact_directory(spark, path, size_limit=10 * 1024 * 1024, fmt="orc")
    assert report.files_compacted == 3
    got = {r.k for r in spark.read.orc(path).collect()}
    assert got == {0, 1, 2}
