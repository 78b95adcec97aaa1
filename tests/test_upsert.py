"""Upsert / soft-delete jobs: row-level MERGE over plain Parquet with
partition pruning, and ACTIVATE_VERSION soft-delete finalization."""

from __future__ import annotations

import glob
import json
import os

import pytest

from target_hdfs_spark.plans.commit import recover
from target_hdfs_spark.plans.upsert import soft_delete_older_versions, upsert
from target_hdfs_spark.plans.writer import SchemaChangedError


def _data_files(root) -> list[str]:
    """Files a Spark reader would see under `root`, relative to it."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.relpath(os.path.join(dirpath, f), root)
            for f in files
            if not f.startswith(("_", "."))
        ]
    return sorted(out)


def _stage(path, *frames, partition_col=None) -> list[str]:
    """Write each frame as one file into the commit staging dir of the
    dataset at `path`, as a rewrite would; returns the staged files."""
    for df in frames:
        writer = df.coalesce(1).write.mode("append")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(f"{path}/_commit_tmp")
    return _data_files(f"{path}/_commit_tmp")


def _publish(path, moves, deletes) -> None:
    with open(f"{path}/_commit_manifest.json", "w") as fh:
        json.dump({"moves": moves, "deletes": deletes}, fh)


def _no_leftovers(path) -> bool:
    return not glob.glob(f"{path}/_commit*")


def test_upsert_replaces_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    base.write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    upsert(spark, updates, path, keys=["k"])

    got = {r.k: (r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_upsert_first_write(spark, tmp_path):
    path = str(tmp_path / "t")
    updates = spark.createDataFrame([(1, "a")], "k long, s string")
    upsert(spark, updates, path, keys=["k"])
    assert spark.read.parquet(path).count() == 1


def test_upsert_schema_drift_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(path)
    bad = spark.createDataFrame([(1, 5)], "k long, other_col long")
    with pytest.raises(SchemaChangedError):
        upsert(spark, bad, path, keys=["k"])


def test_partition_pruned_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "de", 1.0), (2, "de", 2.0), (3, "fr", 3.0), (4, "us", 4.0)],
        "k long, country string, v double",
    )
    base.write.partitionBy("country").parquet(path)
    untouched_before = sorted(glob.glob(f"{path}/country=us/*.parquet"))

    updates = spark.createDataFrame(
        [(2, "de", 99.0), (5, "fr", 5.0)], "k long, country string, v double"
    )
    upsert(spark, updates, path, keys=["k"], partition_col="country")

    got = {r.k: (r.country, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("de", 1.0),
        2: ("de", 99.0),
        3: ("fr", 3.0),
        4: ("us", 4.0),
        5: ("fr", 5.0),
    }
    # the us partition's files were not rewritten
    assert sorted(glob.glob(f"{path}/country=us/*.parquet")) == untouched_before


def test_soft_delete_older_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "k long, _sdc_table_version long"
    )
    df.write.parquet(path)
    n = soft_delete_older_versions(spark, path, active_version=2)
    assert n == 2
    got = spark.read.parquet(path)
    stamped = {r.k: r._sdc_deleted_at is not None for r in got.collect()}
    assert stamped == {1: True, 2: True, 3: False}
    # idempotent: already-stamped rows are not restamped
    assert soft_delete_older_versions(spark, path, active_version=2) == 0


def test_soft_delete_noop_without_version_col(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "k long").write.parquet(path)
    assert soft_delete_older_versions(spark, path, active_version=5) == 0


def test_partitioned_upsert_null_and_escaped_values(spark, tmp_path):
    """Regression: hive-escaped partition names (null ->
    __HIVE_DEFAULT_PARTITION__, ':' -> %3A) must survive the swap."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, "a:b", 2.0), (3, "plain", 3.0)],
        "k long, part string, v double",
    )
    base.write.partitionBy("part").parquet(path)
    updates = spark.createDataFrame(
        [(1, None, 99.0), (2, "a:b", 88.0)], "k long, part string, v double"
    )
    upsert(spark, updates, path, keys=["k"], partition_col="part")
    got = {r.k: (r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: (None, 99.0), 2: ("a:b", 88.0), 3: ("plain", 3.0)}


def test_upsert_discards_stale_staging(spark, tmp_path):
    """Crash leftovers: staging from an aborted rewrite (no published
    manifest) must not block, or leak rows into, the next upsert."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(path)
    _stage(path, spark.createDataFrame([(9, "stale")], "k long, s string"))

    updates = spark.createDataFrame([(1, "A"), (2, "b")], "k long, s string")
    upsert(spark, updates, path, keys=["k"])
    got = {r.k: r.s for r in spark.read.parquet(path).collect()}
    assert got == {1: "A", 2: "b"}
    assert _no_leftovers(path)


def test_soft_delete_recovers_from_stale_tmp(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 1), (2, 2)], "k long, _sdc_table_version long"
    ).write.parquet(path)
    _stage(path, spark.createDataFrame([(9, 1)], "k long, _sdc_table_version long"))
    with open(f"{path}/_commit_manifest.json.tmp", "w") as fh:
        fh.write('{"moves": ["part-')  # a manifest torn before publishing
    n = soft_delete_older_versions(spark, path, active_version=2)
    assert n == 1
    rows = {r.k: r._sdc_deleted_at is not None
            for r in spark.read.parquet(path).collect()}
    assert rows == {1: True, 2: False}
    assert _no_leftovers(path)


def test_upsert_key_moving_across_partitions(spark, tmp_path):
    """Regression: a key whose partition value changes must not leave
    its stale copy in the old partition."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "us", 1.0), (2, "us", 2.0), (3, "de", 3.0)],
        "k long, country string, v double",
    )
    base.write.partitionBy("country").parquet(path)
    # key 1 moves us -> de
    updates = spark.createDataFrame([(1, "de", 99.0)], "k long, country string, v double")
    upsert(spark, updates, path, keys=["k"], partition_col="country")
    got = {r.k: (r.country, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("de", 99.0), 2: ("us", 2.0), 3: ("de", 3.0)}


def test_upsert_emptied_partition_is_dropped(spark, tmp_path):
    """If every key of a partition moves away, the partition dir must
    disappear rather than keep stale rows."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "us", 1.0), (2, "de", 2.0)], "k long, country string, v double"
    )
    base.write.partitionBy("country").parquet(path)
    updates = spark.createDataFrame([(1, "de", 9.0)], "k long, country string, v double")
    upsert(spark, updates, path, keys=["k"], partition_col="country")
    got = {r.k: (r.country, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("de", 9.0), 2: ("de", 2.0)}
    import os
    assert not os.path.exists(f"{path}/country=us")


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(path)
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "k long, s string")
    with pytest.raises(ValueError, match="multiple rows for key"):
        upsert(spark, dup, path, keys=["k"])


def test_soft_delete_missing_dataset_is_noop(spark, tmp_path):
    assert soft_delete_older_versions(spark, str(tmp_path / "never_written"), 5) == 0


def test_interrupted_swap_recovers(spark, tmp_path):
    """A crash mid-move (manifest published, one of two staged files
    moved in) leaves the old and the new row of key 2 visible; the
    next upsert must finish the commit before it reads, then merge."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string").coalesce(
        1
    ).write.parquet(path)
    live = _data_files(path)
    staged = _stage(
        path,
        spark.createDataFrame([(1, "a")], "k long, s string"),
        spark.createDataFrame([(2, "B")], "k long, s string"),
    )
    _publish(path, staged, live)
    os.rename(f"{path}/_commit_tmp/{staged[0]}", f"{path}/{staged[0]}")

    updates = spark.createDataFrame([(3, "c")], "k long, s string")
    upsert(spark, updates, path, keys=["k"])
    got = sorted((r.k, r.s) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    assert _no_leftovers(path)


def test_partitioned_bootstrap_writes_partitioned_layout(spark, tmp_path):
    """ADVICE r1 (high): bootstrap with partition_col must lay down a
    hive-partitioned dataset, or a later partitioned merge corrupts it."""
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "de", 1.0), (2, "fr", 2.0)], "k long, country string, v double"
    )
    upsert(spark, first, path, keys=["k"], partition_col="country")
    assert glob.glob(f"{path}/country=de/*.parquet")
    assert glob.glob(f"{path}/country=fr/*.parquet")

    # the original repro: a subsequent single-key upsert must not lose
    # the untouched key
    second = spark.createDataFrame([(1, "de", 9.0)], "k long, country string, v double")
    upsert(spark, second, path, keys=["k"], partition_col="country")
    got = {r.k: (r.country, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("de", 9.0), 2: ("fr", 2.0)}


def test_partitioned_upsert_over_unpartitioned_layout_fails_fast(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "de", 1.0)], "k long, country string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "fr", 2.0)], "k long, country string, v double"
    )
    with pytest.raises(ValueError, match="unpartitioned"):
        upsert(spark, updates, path, keys=["k"], partition_col="country")
    # dataset untouched
    assert spark.read.parquet(path).count() == 1


def test_upsert_emptied_partition_dropped_for_nonstring_types(spark, tmp_path):
    """ADVICE r1 (low): emptied-partition cleanup must compare hive
    directory names against the SPARK rendering of partition values,
    not Python str() — exercised with a date-typed partition column."""
    import datetime as dt

    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    base = spark.createDataFrame(
        [(1, d1, 1.0), (2, d2, 2.0)], "k long, day date, v double"
    )
    upsert(spark, base, path, keys=["k"], partition_col="day")
    assert glob.glob(f"{path}/day=2024-01-01/*.parquet")

    # move the only day=2024-01-01 key to day=2024-01-02: the emptied
    # partition must be deleted, not left stale
    moved = spark.createDataFrame([(1, d2, 9.0)], "k long, day date, v double")
    upsert(spark, moved, path, keys=["k"], partition_col="day")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: (d2, 9.0), 2: (d2, 2.0)}
    assert not glob.glob(f"{path}/day=2024-01-01/*.parquet")


def test_upsert_boolean_partition_col_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, True, 1.0)], "k long, flag boolean, v double")
    with pytest.raises(ValueError, match="boolean"):
        upsert(spark, df, path, keys=["k"], partition_col="flag")


# ---------------------------------------------------------------------------
# Round-4 review-fix regressions
# ---------------------------------------------------------------------------


def test_upsert_null_key_replaces_not_duplicates(spark, tmp_path):
    """NULL keys must MERGE like any other key (null-safe join): a
    plain '=' anti-join would keep the old NULL row and union the new
    one, growing a duplicate per upsert."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(None, "old", 1.0), (1, "a", 10.0)], "k long, s string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(None, "new", 2.0)], "k long, s string, v double"
    )
    from target_hdfs_spark.plans.upsert import upsert as do_upsert

    do_upsert(spark, updates, path, keys=["k"])
    rows = spark.read.parquet(path).collect()
    nulls = [r for r in rows if r.k is None]
    assert len(nulls) == 1 and nulls[0].s == "new"
    # and again — still exactly one NULL-key row
    do_upsert(
        spark,
        spark.createDataFrame([(None, "newer", 3.0)], "k long, s string, v double"),
        path,
        keys=["k"],
    )
    assert [r.s for r in spark.read.parquet(path).collect() if r.k is None] == [
        "newer"
    ]


def test_upsert_numeric_string_partition_survives_type_inference(spark, tmp_path):
    """Hive directory inference reads day='20240101' back as int; the
    drift compare must treat the partition column name-only or every
    second upsert fails."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "20240101", 1.0), (2, "20240102", 2.0)],
        "k long, day string, v double",
    )
    upsert(spark, df, path, keys=["k"], partition_col="day")
    updates = spark.createDataFrame(
        [(1, "20240101", 9.0)], "k long, day string, v double"
    )
    upsert(spark, updates, path, keys=["k"], partition_col="day")  # must not raise
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 9.0, 2: 2.0}


def test_pending_deletes_manifest_recovered(spark, tmp_path):
    """A crash after the move-in, before the deletes, is healed on the
    next entry: the listed files are removed, the partition dir they
    leave empty goes with them, and the manifest is cleared."""
    path = tmp_path / "t"
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, day string, v double"
    )
    df.write.partitionBy("day").parquet(str(path))
    # simulate: a rewrite decided day=b's rows are gone, published its
    # manifest, crashed before deleting
    _publish(path, [], [f for f in _data_files(path) if f.startswith("day=b/")])
    recover(spark, str(path))
    assert not (path / "day=b").exists()
    assert _no_leftovers(path)
    assert {r.day for r in spark.read.parquet(str(path)).collect()} == {"a"}


def test_soft_delete_preserves_partition_layout(spark, tmp_path):
    """soft_delete_older_versions on a hive-partitioned stream must
    rewrite PARTITIONED (a flat rewrite would make the next
    partitioned append a mixed, undiscoverable layout)."""
    path = tmp_path / "t"
    df = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2)],
        "k long, part string, _sdc_table_version long",
    )
    df.write.partitionBy("part").parquet(str(path))
    n = soft_delete_older_versions(
        spark, str(path), active_version=2, partition_cols=("part",)
    )
    assert n == 1
    assert (path / "part=x").exists() and (path / "part=y").exists()
    rows = {r.k: r for r in spark.read.parquet(str(path)).collect()}
    assert rows[1]._sdc_deleted_at is not None
    assert rows[2]._sdc_deleted_at is None


# ---------------------------------------------------------------------------
# Commit-manifest roll-forward: once the manifest is published, every
# crash point heals forward, moves before deletes
# ---------------------------------------------------------------------------


def _moved_key_commit(spark, path) -> None:
    """Dataset day=a {k1}, day=b {k2}, plus a published commit of a
    merge that moved k2 to day=a: staged day=a {k1', k2} in two files,
    every live file to delete."""
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, day string, v double"
    ).write.partitionBy("day").parquet(str(path))
    live = _data_files(path)
    staged = _stage(
        path,
        spark.createDataFrame([(1, "a", 9.0)], "k long, day string, v double"),
        spark.createDataFrame([(2, "a", 2.0)], "k long, day string, v double"),
        partition_col="day",
    )
    _publish(path, staged, live)


def _assert_moved_key_committed(spark, path) -> None:
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(str(path)).collect()}
    assert got == {1: ("a", 9.0), 2: ("a", 2.0)}
    assert not (path / "day=b").exists()
    assert _no_leftovers(path)


def test_commit_manifest_rolls_moves_forward_before_deleting(
    spark, tmp_path, inject_commit_fs
):
    """Crash after the manifest was published but before ANY move:
    recovery must first move the staged files in, THEN delete — the
    moved key's only other copy is in a file it deletes."""
    path = tmp_path / "t"
    _moved_key_commit(spark, path)
    log = inject_commit_fs({})
    recover(spark, str(path))
    ops = [op for op, _ in log]
    assert ops.count("rename") == 2
    assert ops.index("delete") > max(i for i, op in enumerate(ops) if op == "rename")
    _assert_moved_key_committed(spark, path)


def test_commit_manifest_recovery_after_partial_move(spark, tmp_path):
    """Crash MID-move (one staged file in, one still staged): recovery
    moves the rest and finishes the deletes."""
    path = tmp_path / "t"
    _moved_key_commit(spark, path)
    first = _data_files(path / "_commit_tmp")[0]
    (path / "_commit_tmp" / first).rename(path / first)
    recover(spark, str(path))
    _assert_moved_key_committed(spark, path)


def test_commit_manifest_recovery_after_all_moves(spark, tmp_path):
    """Crash after every move (the staging dir drained) but before the
    deletes: the moves are no-ops, the deletes execute."""
    path = tmp_path / "t"
    _moved_key_commit(spark, path)
    for rel in _data_files(path / "_commit_tmp"):
        (path / "_commit_tmp" / rel).rename(path / rel)
    recover(spark, str(path))
    _assert_moved_key_committed(spark, path)


def test_soft_delete_heals_pending_manifest_first(spark, tmp_path):
    """ACTIVATE_VERSION finalization running after a crashed rewrite
    must finish the published commit BEFORE its mergeSchema read —
    otherwise the stale copy's rows are rewritten into the new dataset
    and the duplicates become permanent."""
    path = tmp_path / "t"
    spark.createDataFrame(
        [(1, "x", 1), (1, "y", 1)],
        "k long, part string, _sdc_table_version long",
    ).write.partitionBy("part").parquet(str(path))
    # the crashed rewrite had already moved its files in; part=y holds
    # the stale moved-key copy awaiting deletion
    _publish(path, [], [f for f in _data_files(path) if f.startswith("part=y/")])
    n = soft_delete_older_versions(
        spark, str(path), active_version=2, partition_cols=("part",)
    )
    assert n == 1
    rows = spark.read.parquet(str(path)).collect()
    assert len(rows) == 1 and rows[0].part == "x"
    assert rows[0]._sdc_deleted_at is not None
    assert _no_leftovers(path)


def test_unpublished_commit_manifest_aborts_commit(spark, tmp_path):
    """A manifest that was never renamed into place is a torn write:
    the commit never passed its point of no return, so recovery must
    discard it and the staging, and leave the dataset untouched —
    rolling a partial plan forward could move half the staged files."""
    path = tmp_path / "t"
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, day string, v double"
    ).write.partitionBy("day").parquet(str(path))
    staged = _stage(
        path,
        spark.createDataFrame(
            [(1, "a", 9.0), (2, "a", 2.0)], "k long, day string, v double"
        ),
        partition_col="day",
    )
    # torn: the write stopped mid-list and the rename never happened
    (path / "_commit_manifest.json.tmp").write_text(
        json.dumps({"moves": staged, "deletes": []})[:20]
    )
    recover(spark, str(path))
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(str(path)).collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 2.0)}  # pre-upsert state intact
    assert _no_leftovers(path)
