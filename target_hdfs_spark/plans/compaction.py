"""Small-file compaction — the Spark-native equivalent of the
reference's defining append-to-recent-file behavior (SURVEY.md §4.3).

The reference keeps file counts low by downloading the most recent
HDFS file when it is under 85% of the block size, seeding its buffer
with it, and later rewriting it in place (reference:
target_hdfs/sinks.py:31-44, target_hdfs/utils/hdfs.py:91-117). Spark
cannot append rows to an existing Parquet file, so the engine
(a) prevents small files at write time (plans/writer.py sizing) and
(b) repairs them with this job: gather all undersized files in a
stream directory, write them as consolidated files into the commit
staging dir, then commit by moving the new files in and deleting the
old ones — the same write-new-then-replace commit the reference
performs per file (reference: target_hdfs/utils/hdfs.py:56-73),
generalized from "the most recent file" to "all undersized files"
(the mtime-max selection at hdfs.py:85-88 is the k=1 special case).

The commit is plans/commit.py, shared with upsert, soft-delete and
z-order: one manifest at the dataset root, rolled forward by whichever
rewriter runs next if a crash interrupts it. A partitioned stream
stages every partition and commits once at its root. During the
commit a concurrent reader sees duplicates at worst, never a gap.

Guards preserved:
- strict schema equality before touching anything (hdfs.py:111-116);
- `skip_existing_files` / `partition_cols` opt-outs mirror the
  reference's disabling of append mode (sinks.py:38, target.py:39-44)
  — partitioned datasets are compacted per partition directory.

Scale: listing and planning are Hadoop-FS metadata calls; the rewrite
reads only undersized files (never the healthy ones) and is one
narrow Spark job per directory. Safe to run while writers append new
files: the job only ever deletes files it read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from target_hdfs_spark.plans import commit
from target_hdfs_spark.plans.writer import (
    BLOCK_FILL_FACTOR,
    SchemaChangedError,
    _normalize,
    get_block_size,
)


@dataclass(frozen=True)
class FileEntry:
    path: str
    size: int
    mtime: int


@dataclass(frozen=True)
class CompactionReport:
    directory: str
    files_before: int
    files_compacted: int
    files_after: int
    bytes_compacted: int


def list_data_files(
    spark: SparkSession, directory: str, fmt: str = "parquet"
) -> list[FileEntry]:
    """Non-recursive data-file listing for the dataset's format
    (``.parquet`` or ``.orc`` — the engine's two native sinks); empty
    when the directory is missing (reference:
    target_hdfs/utils/hdfs.py:76-82)."""
    suffix = f".{fmt}"
    fs, jpath, _ = commit.hadoop_fs(spark, directory)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        p = status.getPath().toString()
        if status.isFile() and p.endswith(suffix):
            out.append(FileEntry(p, int(status.getLen()), int(status.getModificationTime())))
    return out


def list_parquet_files(spark: SparkSession, directory: str) -> list[FileEntry]:
    """Backward-compatible parquet listing (see list_data_files)."""
    return list_data_files(spark, directory, "parquet")


def most_recent_file(spark: SparkSession, directory: str) -> FileEntry | None:
    """Max-mtime parquet file (reference: target_hdfs/utils/hdfs.py:85-88)."""
    files = list_parquet_files(spark, directory)
    return max(files, key=lambda f: f.mtime) if files else None


def list_partition_dirs(spark: SparkSession, directory: str) -> list[str]:
    """Leaf `col=value` directories of a (possibly multi-column)
    partitioned dataset, relative to `directory` — recurses through
    nested partition levels (`year=2024/month=1`) and returns the
    directories that actually hold data files; a single-level listing
    would make the repair job a silent no-op for multi-column
    partitioning."""
    fs, jpath, _ = commit.hadoop_fs(spark, directory)
    if not fs.exists(jpath):
        return []
    leaves: list[str] = []

    def walk(p, rel: str) -> None:
        children = [
            s for s in fs.listStatus(p)
            if s.isDirectory() and "=" in s.getPath().getName()
        ]
        for s in children:
            walk(s.getPath(), f"{rel}{s.getPath().getName()}/")
        if not children and rel:
            leaves.append(rel.rstrip("/"))

    walk(jpath, "")
    return leaves


def _stage_compaction(
    spark: SparkSession,
    root: str,
    rel: str,
    limit: int,
    expected_schema,
    compression: str,
    fmt: str,
) -> tuple[CompactionReport, list[str]]:
    """Write the undersized files of `<root>/<rel>` as consolidated
    files into the same relative place under the commit staging dir.
    Returns the report as it stands once the commit is done, and the
    input files to delete, relative to `root`."""
    directory = f"{root.rstrip('/')}/{rel}" if rel else root
    files = list_data_files(spark, directory, fmt)
    small = [f for f in files if f.size < limit]
    report = CompactionReport(directory, len(files), 0, len(files), 0)
    if len(small) < 2:
        return report, []

    # mergeSchema: an additively-evolved directory mixes old files
    # missing newer columns with new files that have them; a
    # single-footer schema pick would silently DROP those columns and
    # the originals are deleted below — permanent data loss.
    small_df = (
        spark.read.option("mergeSchema", "true")
        .format(fmt)
        .load([f.path for f in small])
    )
    if expected_schema is not None and _normalize(small_df.schema) != _normalize(
        expected_schema
    ):
        raise SchemaChangedError(
            f"compaction schema drift at {directory}: "
            f"{_normalize(small_df.schema)} != {_normalize(expected_schema)}"
        )

    total_bytes = sum(f.size for f in small)
    n_out = max(1, -(-total_bytes // limit))  # ceil-div: fill to the limit
    # ORC names its codecs differently (gzip -> zlib); translate the
    # config-level codec name the same way the writer does, so an ORC
    # compaction with default args doesn't fail at write time.
    if fmt == "orc":
        from target_hdfs_spark.config import ORC_COMPRESSION

        compression = ORC_COMPRESSION.get(compression, compression)
    target = commit.staging(root) + (f"/{rel}" if rel else "")
    (
        small_df.repartition(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .format(fmt)
        .save(target)
    )
    n_new = len(commit.live_files(spark, target))
    prefix = f"{rel}/" if rel else ""
    deletes = [prefix + f.path.rstrip("/").rsplit("/", 1)[-1] for f in small]
    files_after = len(files) - len(small) + n_new
    return (
        CompactionReport(directory, len(files), len(small), files_after, total_bytes),
        deletes,
    )


def _compact(
    spark: SparkSession,
    root: str,
    partitioned: bool,
    size_limit: int | None,
    expected_schema,
    compression: str,
    fmt: str,
) -> list[CompactionReport]:
    """Stage every directory's consolidated files, then commit them all
    at once at the dataset root."""
    limit = size_limit or int(get_block_size(spark) * BLOCK_FILL_FACTOR)
    commit.recover(spark, root)
    rels = list_partition_dirs(spark, root) if partitioned else [""]
    staged = [
        _stage_compaction(spark, root, rel, limit, expected_schema, compression, fmt)
        for rel in rels
    ]
    deletes = [d for _, ds in staged for d in ds]
    if deletes:
        commit.commit(spark, root, deletes)
    return [report for report, _ in staged]


def compact_directory(
    spark: SparkSession,
    directory: str,
    size_limit: int | None = None,
    expected_schema=None,
    compression: str = "gzip",
    fmt: str = "parquet",
) -> CompactionReport:
    """Merge all undersized data files in one unpartitioned dataset
    directory.

    `size_limit` defaults to 85% of the FS block size (reference:
    target_hdfs/utils/hdfs.py:97-101). Files >= the limit are never
    touched (the reference's new-file condition, hdfs.py:104-106).
    `compression` should match the dataset's configured codec
    (TargetConfig.compression, default gzip) so compaction never
    silently changes the codec of a dataset.
    """
    return _compact(
        spark, directory, False, size_limit, expected_schema, compression, fmt
    )[0]


def compact_stream(
    spark: SparkSession,
    stream_dir: str,
    size_limit: int | None = None,
    partitioned: bool = False,
    compression: str = "gzip",
    fmt: str = "parquet",
) -> list[CompactionReport]:
    """Compact a stream directory; partitioned datasets are handled
    per partition child so partition layout is preserved (the
    reference disables append mode entirely for partition_cols,
    reference: target_hdfs/sinks.py:38 — compacting within each
    partition directory is the generalization that keeps its
    invariant: files never move across partition boundaries). Every
    partition is staged under the stream root and committed there
    once, so any other rewriter's recovery sees the commit."""
    return _compact(
        spark, stream_dir, partitioned, size_limit, None, compression, fmt
    )
