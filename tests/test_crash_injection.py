"""Crash-injection tests for the one commit protocol every dataset
rewrite uses (plans/commit.py): kill the process (simulated by raising
from the FS proxy the commit module hands out) at a rename or delete
of a commit, then prove the next job heals the dataset exactly — no
lost rows, no duplicates, no bogus partitions, no `_commit*` leftovers.

Covers: compaction, unpartitioned and partitioned upsert, partitioned
soft-delete and z-order at every step of their commit, plus the
cross-rewriter case — a compaction crashed mid-commit, healed by the
upsert, soft-delete or z-order rewrite that runs next.
"""

from __future__ import annotations

import glob
import os

import pytest

from target_hdfs_spark.plans.compaction import compact_directory, compact_stream
from target_hdfs_spark.plans.upsert import soft_delete_older_versions, upsert
from target_hdfs_spark.plans.zorder import write_zordered

LIMIT = 10 * 1024 * 1024
SCHEMA = "k long, s string, _sdc_table_version long"


def _leftovers(path: str) -> list[str]:
    return glob.glob(f"{path}/**/_commit*", recursive=True)


def _make_small_files(spark, path, n=3):
    for i in range(n):
        spark.createDataFrame([(i, f"row{i}", 1)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def _rows(spark, path) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_upsert_crash_between_swap_renames(spark, tmp_path, inject_commit_fs):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string").write.parquet(path)

    # rename #1 publishes the manifest, #2 is the first move-in: crash
    # between them, with the commit past its point of no return
    inject_commit_fs({"rename": 2})
    updates = spark.createDataFrame([(2, "B2"), (3, "c")], "k long, s string")
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert(spark, updates, path, keys=["k"])

    # the old data is still live; the manifest awaits roll-forward
    assert os.path.exists(f"{path}/_commit_manifest.json")
    assert {r.k: r.s for r in spark.read.parquet(path).collect()} == {1: "a", 2: "b"}
    upsert(spark, updates, path, keys=["k"])
    got = {r.k: r.s for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    assert not _leftovers(path)


def test_partitioned_upsert_crash_between_partition_renames(
    spark, tmp_path, inject_commit_fs
):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "de", 1.0), (2, "fr", 2.0)], "k long, country string, v double"
    )
    base.write.partitionBy("country").parquet(path)

    inject_commit_fs({"rename": 2})
    updates = spark.createDataFrame(
        [(1, "de", 9.0)], "k long, country string, v double"
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert(spark, updates, path, keys=["k"], partition_col="country")

    # the partition's old file is still live, nothing is stranded
    # outside the dataset
    assert glob.glob(f"{path}/country=de/*.parquet")
    assert sorted(os.listdir(tmp_path)) == ["t"]

    # clean retry rolls the published commit forward, then merges
    upsert(spark, updates, path, keys=["k"], partition_col="country")
    got = {r.k: (r.country, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("de", 9.0), 2: ("fr", 2.0)}
    assert not _leftovers(path)


def test_compaction_crash_after_manifest_before_moves(
    spark, tmp_path, inject_commit_fs
):
    path = str(tmp_path / "t")
    _make_small_files(spark, path)
    before = _rows(spark, path)

    # rename #1 publishes the manifest; rename #2 is the first file
    # move — crash right between intent and commit
    inject_commit_fs({"rename": 2})
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_directory(spark, path, size_limit=LIMIT)

    # clean rerun completes the interrupted commit via the manifest
    compact_directory(spark, path, size_limit=LIMIT)
    assert _rows(spark, path) == before
    assert not _leftovers(path)


def test_compaction_crash_between_moves_and_deletes(
    spark, tmp_path, inject_commit_fs
):
    path = str(tmp_path / "t")
    _make_small_files(spark, path)
    before = _rows(spark, path)

    # all consolidated files moved in, crash before deleting any input
    inject_commit_fs({"delete": 1})
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_directory(spark, path, size_limit=LIMIT)

    # on-disk state right now holds duplicates (new + old files); the
    # rerun must heal to the exact original rows, not bake them in
    assert len(_rows(spark, path)) == 2 * len(before)
    compact_directory(spark, path, size_limit=LIMIT)
    assert _rows(spark, path) == before
    assert not _leftovers(path)


def test_zorder_crash_between_swap_renames(spark, tmp_path, inject_commit_fs):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(100)], "k long, a long, v double"
    )
    df.write.parquet(path)
    before = _rows(spark, path)

    inject_commit_fs({"rename": 2})
    with pytest.raises(RuntimeError, match="injected crash"):
        write_zordered(spark.read.parquet(path), path, "k", "a")

    # the rerun's input frame is listed before its recovery runs; the
    # rewrite must still read the recovered dataset
    write_zordered(spark.read.parquet(path), path, "k", "a")
    assert _rows(spark, path) == before
    assert not _leftovers(path)


# ---------------------------------------------------------------------------
# Cross-rewriter: a compaction crashed after its move-in and before its
# input deletes must be finished by whichever rewriter runs next, not
# read (and baked in) as duplicates.
# ---------------------------------------------------------------------------

REWRITES = {
    "upsert": (
        lambda spark, path: upsert(
            spark, spark.createDataFrame([(3, "row3", 1)], SCHEMA), path, keys=["k"]
        ),
        4,
    ),
    "soft_delete": (
        lambda spark, path: soft_delete_older_versions(spark, path, active_version=2),
        3,
    ),
    "zorder": (
        lambda spark, path: write_zordered(
            spark.read.parquet(path), path, "k", "_sdc_table_version"
        ),
        3,
    ),
}


@pytest.mark.parametrize("rewrite", sorted(REWRITES))
def test_rewrite_after_crashed_compaction(spark, tmp_path, inject_commit_fs, rewrite):
    path = str(tmp_path / "t")
    _make_small_files(spark, path)
    inject_commit_fs({"delete": 1})
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_directory(spark, path, size_limit=LIMIT)

    run, n_rows = REWRITES[rewrite]
    run(spark, path)
    rows = spark.read.parquet(path).collect()
    assert sorted(r.k for r in rows) == list(range(n_rows))
    if rewrite == "soft_delete":
        assert all(r._sdc_deleted_at is not None for r in rows)
    assert not _leftovers(path)
    compact_directory(spark, path, size_limit=LIMIT)
    assert spark.read.parquet(path).count() == n_rows


def test_partitioned_upsert_after_crashed_partitioned_compaction(
    spark, tmp_path, inject_commit_fs
):
    path = str(tmp_path / "t")
    for k in range(4):
        spark.createDataFrame(
            [(k, "de" if k < 2 else "fr", float(k))], "k long, country string, v double"
        ).coalesce(1).write.mode("append").partitionBy("country").parquet(path)
    inject_commit_fs({"delete": 1})
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stream(spark, path, size_limit=LIMIT, partitioned=True)

    # key 0 moves de -> fr
    updates = spark.createDataFrame(
        [(0, "fr", 9.0)], "k long, country string, v double"
    )
    upsert(spark, updates, path, keys=["k"], partition_col="country")
    got = sorted((r.k, r.country, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(0, "fr", 9.0), (1, "de", 1.0), (2, "fr", 2.0), (3, "fr", 3.0)]
    assert not _leftovers(path)


# ---------------------------------------------------------------------------
# Every step of the one commit, for every rewriter: crash at rename #n
# and at delete #n for each n the commit performs, rerun, and require
# the exact rows with nothing left over.
# ---------------------------------------------------------------------------


def _compaction(spark, path):
    compact_directory(spark, path, size_limit=LIMIT)


def _setup_plain(spark, path):
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string").coalesce(
        1
    ).write.parquet(path)


def _upsert_plain(spark, path):
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, s string")
    upsert(spark, updates.coalesce(1), path, keys=["k"])


def _setup_countries(spark, path):
    spark.createDataFrame(
        [(1, "us", 1.0), (2, "de", 2.0), (3, "fr", 3.0)],
        "k long, country string, v double",
    ).coalesce(1).write.partitionBy("country").parquet(path)


def _upsert_partitioned(spark, path):
    # key 1 moves us -> de, which empties country=us; key 3 updates
    updates = spark.createDataFrame(
        [(1, "de", 9.0), (3, "fr", 7.0)], "k long, country string, v double"
    )
    upsert(spark, updates.coalesce(1), path, keys=["k"], partition_col="country")


def _setup_versions(spark, path):
    spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2), (3, "x", 2)],
        "k long, part string, _sdc_table_version long",
    ).coalesce(1).write.partitionBy("part").parquet(path)


def _soft_delete_partitioned(spark, path):
    soft_delete_older_versions(spark, path, active_version=2, partition_cols=("part",))


def _setup_points(spark, path):
    spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(40)], "k long, a long, v double"
    ).coalesce(1).write.parquet(path)


def _zorder(spark, path):
    write_zordered(spark.read.parquet(path), path, "k", "a", n_files=2)


def _country_rows(spark, path):
    assert not os.path.exists(f"{path}/country=us")
    return sorted((r.k, r.country, r.v) for r in spark.read.parquet(path).collect())


def _version_rows(spark, path):
    return sorted(
        (r.k, r.part, r._sdc_deleted_at is not None)
        for r in spark.read.parquet(path).collect()
    )


CASES = {
    "compaction": (
        _make_small_files, _compaction, _rows,
        [(0, "row0", 1), (1, "row1", 1), (2, "row2", 1)],
    ),
    "upsert": (
        _setup_plain, _upsert_plain, _rows, [(1, "a"), (2, "B"), (3, "c")],
    ),
    "partitioned_upsert": (
        _setup_countries, _upsert_partitioned, _country_rows,
        [(1, "de", 9.0), (2, "de", 2.0), (3, "fr", 7.0)],
    ),
    "partitioned_soft_delete": (
        _setup_versions, _soft_delete_partitioned, _version_rows,
        [(1, "x", True), (2, "y", False), (3, "x", False)],
    ),
    "zorder": (
        _setup_points, _zorder, _rows,
        [(i, i % 7, float(i)) for i in range(40)],
    ),
}


@pytest.mark.parametrize("op", ["rename", "delete"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_at_every_commit_step(spark, tmp_path, inject_commit_fs, case, op):
    setup, run, observe, expected = CASES[case]
    n = 1
    while True:
        path = str(tmp_path / f"{op}{n}")
        setup(spark, path)
        crash_on = {op: n}
        inject_commit_fs(crash_on)
        try:
            run(spark, path)
        except RuntimeError as err:
            assert "injected crash" in str(err)
            run(spark, path)  # the restart: the crash point is spent
            assert observe(spark, path) == expected, f"crash at {op} #{n}"
            assert not _leftovers(path), f"crash at {op} #{n}"
            n += 1
            assert n < 50
            continue
        # the commit performs fewer than n of these: all steps covered
        assert crash_on == {op: n}
        assert observe(spark, path) == expected
        assert not _leftovers(path)
        break
    assert n > 2  # the commit performed at least two of every op
