"""The one commit protocol every dataset rewrite uses: compaction,
upsert (whole-dataset and partition-pruned), soft-delete and z-order.

The reference rewrites a file by writing the new copy and then
atomically replacing the old one (reference:
target_hdfs/utils/hdfs.py:56-73). A rewriter here does the same for
any set of files under a dataset root:

1. ``recover(spark, root)`` on entry, before it reads the dataset;
2. note the live files the rewrite supersedes (``live_files``);
3. write the new files under ``staging(root)`` =
   ``<root>/_commit_tmp``, in the dataset's own relative layout
   (``col=value/`` dirs included);
4. ``commit(spark, root, deletes)``: publish
   ``<root>/_commit_manifest.json`` by write-then-rename, naming every
   staged file to move in and every live file to delete; move the
   staged files in, creating partition dirs as needed; delete the
   listed files and any partition dir they leave empty; drop the
   manifest and the staging dir.

The published manifest is the point of no return. A crash at any
later step is finished by the next ``recover``, which replays the
manifest idempotently: a move whose staged file is gone already
happened, a delete of a missing file is a no-op. Staging without a
published manifest is an aborted rewrite; ``recover`` discards it and
the live files were never touched.

Both names are underscore-prefixed, so Spark readers and partition
discovery skip them. New files are moved in before old ones are
deleted, so a reader that lists the dataset during a commit sees
duplicates at worst, never a missing row or a missing dataset. The
root is always the dataset root, so each rewriter's recovery finishes
every other rewriter's interrupted commit.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

STAGING = "_commit_tmp"
MANIFEST = "_commit_manifest.json"


def hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem serving ``path`` (Spark's cached client,
    so ``hdfs://``, ``file:`` and scheme-less paths all resolve), the
    path as a Hadoop ``Path``, and the JVM view for building more."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(hconf), jpath, jvm


def staging(root: str) -> str:
    """Where a rewrite of the dataset at ``root`` writes its files."""
    return f"{root.rstrip('/')}/{STAGING}"


def _files_under(fs, jpath, prefix: str = "") -> list[str]:
    """Paths relative to ``jpath`` of every file a Spark reader would
    see under it: `_`/`.`-prefixed files and dirs are skipped, as
    Spark's listing skips them."""
    out: list[str] = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if status.isDirectory():
            out += _files_under(fs, status.getPath(), f"{prefix}{name}/")
        else:
            out.append(f"{prefix}{name}")
    return out


def live_files(spark: SparkSession, root: str) -> list[str]:
    """The dataset's data files, relative to ``root``; empty when the
    root is missing."""
    fs, jroot, _ = hadoop_fs(spark, root)
    return _files_under(fs, jroot) if fs.exists(jroot) else []


def commit(spark: SparkSession, root: str, deletes: list[str]) -> None:
    """Publish and apply the rewrite staged under ``staging(root)``:
    every staged file moves in, then every path in ``deletes``
    (relative to ``root``) is deleted."""
    fs, _, jvm = hadoop_fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    base = root.rstrip("/")
    jstage = Path(staging(root))
    moves = _files_under(fs, jstage) if fs.exists(jstage) else []
    tmp = Path(f"{base}/{MANIFEST}.tmp")
    out = fs.create(tmp, True)
    try:
        body = json.dumps({"moves": moves, "deletes": list(deletes)})
        out.write(bytearray(body.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, Path(f"{base}/{MANIFEST}")):
        raise OSError(f"could not publish the commit manifest of {root}")
    _apply(fs, Path, base, moves, deletes)


def recover(spark: SparkSession, root: str) -> bool:
    """Finish or discard an interrupted commit at ``root``: a published
    manifest is rolled forward; staging (or a half-written manifest)
    without one is deleted. Returns whether anything was left over.
    Every rewriter calls this before it reads the dataset."""
    fs, _, jvm = hadoop_fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    base = root.rstrip("/")
    manifest = Path(f"{base}/{MANIFEST}")
    if fs.exists(manifest):
        stream = fs.open(manifest)
        try:
            body = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        plan = json.loads(body)
        _apply(fs, Path, base, plan["moves"], plan["deletes"])
        return True
    leftovers = [Path(f"{base}/{MANIFEST}.tmp"), Path(staging(root))]
    leftovers = [p for p in leftovers if fs.exists(p)]
    for p in leftovers:
        fs.delete(p, True)
    return bool(leftovers)


def _apply(fs, Path, base: str, moves: list[str], deletes: list[str]) -> None:
    """Roll a published manifest forward; safe to repeat after a crash
    at any step."""
    for rel in moves:
        src = Path(f"{base}/{STAGING}/{rel}")
        if not fs.exists(src):
            continue  # moved in before the crash
        dst = Path(f"{base}/{rel}")
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise OSError(f"commit: could not move {src} -> {dst}")
    for rel in deletes:
        fs.delete(Path(f"{base}/{rel}"), False)
    # partition dirs the deletes emptied, deepest first so a parent
    # (`year=2024`) is tested after its children (`year=2024/month=1`)
    parents = {
        rel.rsplit("/", i)[0] for rel in deletes for i in range(1, rel.count("/") + 1)
    }
    for rel in sorted(parents, key=lambda p: -p.count("/")):
        p = Path(f"{base}/{rel}")
        if fs.exists(p) and len(fs.listStatus(p)) == 0:
            fs.delete(p, False)
    fs.delete(Path(f"{base}/{MANIFEST}"), False)
    fs.delete(Path(f"{base}/{STAGING}"), True)
