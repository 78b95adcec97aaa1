"""Streaming priority sampling (S-surface twin of q121): maintain a
fixed-size weighted random sample of an UNBOUNDED document stream.

Priority sampling (Duffield-Lund-Thorup) is mergeable: the top-k by
priority of a union is the top-k of the unions' top-k's. So each
micro-batch computes its documents' priorities (same hash-derived
uniform as q121 — deterministic, so replays score identically),
unions them with the current sample snapshot, and writes the new
top-k as the next snapshot version.

Snapshot protocol (idempotent under foreachBatch replay, crash-safe):
snapshots live at ``<sink>/snap=<batch_id>``; a reader takes the
highest COMPLETE version — completeness is the ``_SUCCESS`` marker
Spark's FileOutputCommitter writes after the directory commit, so a
half-written snapshot (crash mid-write) is never observable. A
replayed batch recomputes from snapshot ``< batch_id`` — its own
half-written output is never its input — and overwrites its directory
with identical content (deterministic priorities ⇒ deterministic
top-k). After a successful write, snapshots older than the last
``KEEP_SNAPSHOTS`` complete versions are pruned, so the sink holds
O(k · KEEP_SNAPSHOTS) rows regardless of stream lifetime.

All sink-side listing goes through the Hadoop FileSystem API resolved
from the session's ``hadoopConfiguration`` — the sink may be HDFS/S3,
where ``os.listdir`` would silently see nothing and the fold would
degenerate to per-batch top-k.

Scale: per trigger the work is O(batch + k): batch priorities are
scan-side expressions, the union with k prior rows is tiny, and the
top-k compiles to TakeOrderedAndProject. State lives in the sink as
k rows — nothing unbounded anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from target_hdfs_spark.functions.hashing import md5_hash32
from target_hdfs_spark.plans.commit import hadoop_fs

# complete snapshot versions retained after each successful write (the
# newest is the live sample; the rest are replay/rollback headroom)
KEEP_SNAPSHOTS = 3


def _snapshot_versions(spark: SparkSession, sink_dir: str) -> list[int]:
    """Version numbers of COMPLETE (``_SUCCESS``-marked) snapshot
    directories under ``sink_dir``, via the Hadoop FileSystem for the
    sink's scheme (works for file://, hdfs://, s3a://...)."""
    fs, root, jvm = hadoop_fs(spark, sink_dir)
    if not fs.exists(root):
        return []
    versions = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("snap=")):
            continue
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            continue  # half-written: crash before the directory commit
        versions.append(int(name.split("=", 1)[1]))
    return versions


def _prune_snapshots(spark: SparkSession, sink_dir: str, keep: int) -> None:
    """Delete all but the newest ``keep`` complete snapshots, plus any
    INCOMPLETE snapshot directories older than the newest complete
    version (crash leftovers without ``_SUCCESS`` — readers already
    ignore them, but without this sweep they would accumulate
    unboundedly on a long-lived crashy stream)."""
    versions = sorted(_snapshot_versions(spark, sink_dir))
    if not versions:
        return
    fs, root, jvm = hadoop_fs(spark, sink_dir)
    for v in versions[:-keep]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{sink_dir}/snap={v}"), True)
    newest = versions[-1]
    complete = set(versions)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("snap=")):
            continue
        try:
            v = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if v < newest and v not in complete:
            fs.delete(st.getPath(), True)


def doc_priority(weight_col: str = "n_chars") -> F.Column:
    """The q121 priority expression: weight / hash-uniform(0,1]."""
    u = (
        md5_hash32(F.concat(F.lit("pri|"), F.col("doc_id").cast("string")))
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    return F.col(weight_col).cast("double") / u


def latest_sample(spark: SparkSession, sink_dir: str) -> DataFrame | None:
    """The current sample: rows of the highest COMPLETE snapshot."""
    versions = _snapshot_versions(spark, sink_dir)
    if not versions:
        return None
    path = f"{sink_dir}/snap={max(versions)}"
    return spark.read.parquet(path)


def stream_priority_sample(
    spark: SparkSession,
    docs: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    k: int = 50,
    weight_col: str = "n_chars",
) -> StreamingQuery:
    """Start the sampler on a streaming document frame with
    (doc_id, <weight_col>, ...). Each trigger folds the batch into
    the running top-k sample and writes snapshot ``snap=<batch_id>``.
    """
    cols = docs.columns

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        scored = batch_df.select(*cols, doc_priority(weight_col).alias("priority"))
        # strictly-earlier COMPLETE snapshot only: a replayed batch must
        # not read its own half-written output
        prior = [v for v in _snapshot_versions(sess, sink_dir) if v < batch_id]
        if prior:
            current = sess.read.parquet(f"{sink_dir}/snap={max(prior)}")
            scored = scored.unionByName(current)
        topk = scored.orderBy(F.col("priority").desc(), "doc_id").limit(k)
        topk.write.mode("overwrite").parquet(f"{sink_dir}/snap={batch_id}")
        _prune_snapshots(sess, sink_dir, KEEP_SNAPSHOTS)

    return (
        docs.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
