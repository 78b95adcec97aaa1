"""Row-level upsert (MERGE) and soft-delete over plain Parquet —
the read-modify-write generalization of the reference's defining
trick (download most-recent file, modify buffer, atomically replace:
target_hdfs/sinks.py:31-44 + utils/hdfs.py:56-73). The reference
mutates one file; these jobs mutate a dataset with the same
write-new-then-replace discipline, through the commit protocol every
dataset rewrite shares (plans/commit.py).

Without a table format (Delta/Iceberg) an upsert must rewrite data
files; the cost control is *touching only the partitions that contain
affected keys*:

1. prune: find every partition holding an affected key — both the
   partitions the updates land in AND the partitions currently holding
   old copies of those keys (keys may move across partitions);
2. rewrite: for affected partitions only — anti-join out the updated
   keys, union the new rows, write to the commit staging dir;
3. commit: move the staged files in, then delete the affected
   partitions' old files (a partition whose keys all moved away is
   left empty and dropped); every other partition stays
   byte-untouched.

Each job first recovers any interrupted commit at the dataset root —
its own, or a compaction's, upsert's, soft-delete's or z-order's —
before it reads, so a crash never bakes duplicates into a rewrite.
During a commit a concurrent reader sees duplicates at worst, never a
missing partition or dataset.

Scale: an upsert touching 0.1% of partitions rewrites 0.1% of the
dataset; the key probe is a semi-join that prunes to partition values
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from target_hdfs_spark.plans import commit
from target_hdfs_spark.plans.writer import SchemaChangedError, _normalize


def _norm_for_compare(schema, partition_col: str | None):
    """Schema items for the drift compare. The PARTITION column's type
    is excluded (name-only): hive directory-name type inference changes
    it on read-back (a string '20240101' comes back int), which would
    fail every second upsert — the same name-only posture
    writer.enforce_schema_unchanged takes for partition columns."""
    items = _normalize(schema)
    if partition_col is None:
        return sorted(items)
    return sorted(
        (n, "<partition>") if n == partition_col else (n, t) for n, t in items
    )


def _keys_condition(left: DataFrame, right: DataFrame, keys: list[str]):
    """Null-safe equi-key condition: '=' never matches NULL = NULL, so
    a plain key-list join would DUPLICATE null-key rows on every
    upsert instead of replacing them (groupBy in
    _reject_duplicate_update_keys already treats NULLs as one key —
    the join must agree)."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond


def _reject_duplicate_update_keys(updates: DataFrame, keys: list[str]) -> None:
    """Standard MERGE posture: multiple source rows per key is an
    error, not a silent double-insert (CDC batches must be reduced to
    latest-per-key first)."""
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_desc = ", ".join(f"{k}={dup[0][k]!r}" for k in keys)
        raise ValueError(
            f"updates contain multiple rows for key ({key_desc}); "
            "reduce to one row per key (e.g. latest by sequence) before upsert"
        )


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """MERGE `updates` into the Parquet dataset at `path`: rows whose
    `keys` match are replaced (wherever they currently live, including
    other partitions), new keys are inserted. Duplicate keys within
    `updates` are rejected.

    With `partition_col`, only partitions containing affected keys are
    rewritten (partition-pruned merge); without it the whole dataset
    rewrites (correct, priced for small tables).
    """
    if partition_col:
        from pyspark.sql import types as T

        ptype = updates.schema[partition_col].dataType
        if isinstance(ptype, T.BooleanType):
            # Spark's partition-directory type inference cannot
            # round-trip booleans (flag=true reads back as string), so
            # the second upsert would always fail the drift guard.
            raise ValueError(
                f"partition_col {partition_col!r} is boolean: Spark cannot "
                "round-trip boolean hive partitions; cast to string first"
            )
    _reject_duplicate_update_keys(updates, keys)
    commit.recover(spark, path)
    live = commit.live_files(spark, path)
    if not live:
        # genuinely first write: nothing to merge. (A listing, NOT a
        # bare try/except around the read — a transient read failure
        # must surface, not silently overwrite the dataset.)
        # Bootstrap MUST honor partition_col: an unpartitioned bootstrap
        # followed by a partitioned merge would move partition dirs in
        # next to root-level part files and lose the untouched keys.
        writer = updates.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return
    existing = spark.read.parquet(path)
    if _norm_for_compare(existing.schema, partition_col) != _norm_for_compare(
        updates.schema, partition_col
    ):
        raise SchemaChangedError(
            f"upsert schema drift at {path}: "
            f"{_normalize(existing.schema)} != {_normalize(updates.schema)}"
        )

    staging = commit.staging(path)

    if partition_col:
        # A partitioned merge over an unpartitioned layout would move
        # partition dirs in next to root-level part files and silently
        # lose data — refuse instead.
        root_files = [f for f in live if "/" not in f]
        if root_files:
            raise ValueError(
                f"upsert(partition_col={partition_col!r}) over an "
                f"unpartitioned dataset at {path}: found root-level data "
                f"file {root_files[0]!r}; rewrite the dataset partitioned first"
            )
        # affected partitions = where updates land + where old copies
        # of the updated keys currently live (keys can move partitions).
        # Collect each value alongside its Spark string rendering: the
        # raw value drives the pruning filter, the string rendering is
        # what hive directory names decode to (bools, dates, timestamps
        # all render differently from Python str()).
        update_parts = updates.select(F.col(partition_col).alias("_p"))
        upd_keys = F.broadcast(updates.select(*keys))
        moved_parts = existing.join(
            upd_keys, _keys_condition(existing, upd_keys, keys), "left_semi"
        ).select(F.col(partition_col).alias("_p"))
        affected_rows = (
            update_parts.unionByName(moved_parts)
            .distinct()
            .select("_p", F.col("_p").cast("string").alias("_ps"))
            .collect()
        )
        affected = [r["_p"] for r in affected_rows]
        non_null = [v for v in affected if v is not None]
        cond = F.col(partition_col).isin(non_null)
        if None in affected:
            cond = cond | F.col(partition_col).isNull()
        kept = existing.filter(cond)
        anti_keys = F.broadcast(updates.select(*keys))
        merged = kept.join(
            anti_keys, _keys_condition(kept, anti_keys, keys), "left_anti"
        ).unionByName(updates)
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        # The old files of every affected partition are replaced. A
        # partition is affected when Spark staged it (the staged
        # listing carries the exact hive-escaped names: %XX escapes,
        # __HIVE_DEFAULT_PARTITION__ for null) or when its decoded
        # directory value matches the SPARK string rendering of an
        # affected value — the latter catches partitions that came
        # out EMPTY because every key they held moved elsewhere.
        staged_parts = {f.split("/", 1)[0] for f in commit.live_files(spark, staging)}
        affected_strs = {r["_ps"] for r in affected_rows if r["_ps"] is not None}

        def replaced(part_dir: str) -> bool:
            if part_dir in staged_parts:
                return True
            if "=" not in part_dir:
                return False
            value = _partition_value_of(part_dir, partition_col)
            return None in affected if value is None else value in affected_strs

        deletes = [f for f in live if replaced(f.split("/", 1)[0])]
    else:
        anti_keys = F.broadcast(updates.select(*keys))
        merged = existing.join(
            anti_keys, _keys_condition(existing, anti_keys, keys), "left_anti"
        ).unionByName(updates)
        merged.write.mode("overwrite").parquet(staging)
        deletes = live
    commit.commit(spark, path, deletes)


def _partition_value_of(dir_name: str, partition_col: str):
    """Decode a hive partition directory name back to its value
    (string-typed comparison; __HIVE_DEFAULT_PARTITION__ -> None)."""
    raw = dir_name.split("=", 1)[1]
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(raw)


def soft_delete_older_versions(
    spark: SparkSession,
    path: str,
    active_version: int,
    version_col: str = "_sdc_table_version",
    deleted_at_col: str = "_sdc_deleted_at",
    partition_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> int:
    """Singer ACTIVATE_VERSION finalization: stamp `deleted_at_col` on
    every live row whose `version_col` predates `active_version`
    (soft delete — the SDK's non-hard-delete behavior). Returns the
    number of rows stamped. A missing dataset (stream that activated a
    version but never wrote records — a full-truncate refresh) is a
    no-op, not a crash.

    Implemented as a whole-dataset rewrite through the shared commit:
    every live file listed before the rewrite read is replaced.
    ``partition_cols``/``fmt`` MUST match the stream's write config:
    a plain rewrite of a hive-partitioned dataset would flatten the
    partition column into a data column (the next partitioned append
    then produces a mixed layout Spark's discovery rejects), and a
    parquet read of an ORC stream fails outright. The read uses
    mergeSchema so an additively-evolved dataset keeps its newest
    columns through the rewrite.
    """
    if fmt not in ("parquet", "orc"):
        raise ValueError(
            f"soft_delete_older_versions supports native formats only, "
            f"got {fmt!r} (delta/iceberg manage versions in their own "
            "metadata layer)"
        )
    commit.recover(spark, path)
    live = commit.live_files(spark, path)
    if not live:
        return 0
    existing = (
        spark.read.option("mergeSchema", "true").format(fmt).load(path)
    )
    if version_col not in existing.columns:
        return 0
    # NULL versions are rows written before any activation — they
    # predate the active version by definition and must retire with it
    # (a plain `<` comparison silently skips them: NULL < v is NULL)
    older = F.col(version_col).isNull() | (F.col(version_col) < active_version)
    stale = older & (
        F.col(deleted_at_col).isNull()
        if deleted_at_col in existing.columns
        else F.lit(True)
    )
    n_stale = existing.filter(stale).count()
    if n_stale == 0:
        return 0
    if deleted_at_col not in existing.columns:
        existing = existing.withColumn(deleted_at_col, F.lit(None).cast("timestamp"))
        stale = older & F.col(deleted_at_col).isNull()
    updated = existing.withColumn(
        deleted_at_col,
        F.when(stale, F.current_timestamp()).otherwise(F.col(deleted_at_col)),
    )
    writer = updated.write.mode("overwrite").format(fmt)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(commit.staging(path))
    commit.commit(spark, path, live)
    return n_stale
