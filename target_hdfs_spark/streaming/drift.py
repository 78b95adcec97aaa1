"""Streaming distribution-drift monitor (S-surface twin of
q159_distribution_drift): watch a categorical column's mix against a
baseline and emit one chi-square reading per micro-batch — the
observability operator that catches a source whose composition shifts
mid-stream (schema stays valid, content drifts; no error anywhere).

Baseline protocol: the FIRST processed batch writes the baseline
class counts to ``<sink>/baseline`` (overwrite — a replayed batch 0
rewrites identical content); every batch, including the first,
then scores itself against the CURRENT baseline and writes
``<sink>/reading/batch=<id>`` with (n_batch, chi2) — batch-id-keyed
overwrite, so replays are idempotent (the foreachBatch discipline
shared with streaming/curation.py).

Determinism: observed/expected are exact counts cast to double; the
statistic is the same FIXED class-order term sum as the batch twin —
a replayed batch reproduces its reading bit-for-bit.

Scale: per trigger one conditional aggregation over the batch
(|classes| counters per map task) plus a |classes|-row baseline read.
State lives in the sink, not the state store — readings are plain
parquet a dashboard tails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from target_hdfs_spark.plans.commit import hadoop_fs

CLASSES = ("click", "error", "purchase", "signup", "view")


def class_counts(df: DataFrame) -> DataFrame:
    """One row: per-class counts + total, fixed class order."""
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{t}")
        for t in CLASSES
    ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    return df.groupBy().agg(*aggs)


def chi2_against(baseline_row, counts_row) -> float:
    """Fixed-order chi-square of counts vs baseline proportions
    (plain Python on two collected rows — identical op order to the
    batch twin's SQL)."""
    n_base = float(baseline_row["n"])
    n_obs = float(counts_row["n"])
    chi2 = 0.0
    for t in CLASSES:
        e = n_obs * (float(baseline_row[f"c_{t}"]) / n_base) if n_base > 0 else 0.0
        o = float(counts_row[f"c_{t}"])
        if e > 0.0:
            chi2 += (o - e) * (o - e) / e
    return chi2


def latest_readings(spark: SparkSession, sink_dir: str) -> DataFrame | None:
    """Committed readings only: a crash between a batch's reading
    write and its checkpoint commit leaves a partial ``batch=<id>``
    dir that can fail the read or surface uncommitted rows until the
    replay overwrites it — gate on ``_SUCCESS`` like the repo's other
    sink readers (trending, sampling, CDC)."""
    root_dir = f"{sink_dir}/reading"
    fs, root, jvm = hadoop_fs(spark, root_dir)
    if not fs.exists(root):
        return None
    complete = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("batch=")):
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            complete.append(f"{root_dir}/{name}")
    if not complete:
        return None
    return spark.read.option("basePath", root_dir).parquet(*complete)


def stream_drift_monitor(
    spark: SparkSession,
    events: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the monitor on a streaming frame with an ``event_type``
    column. Readings land at ``<sink>/reading`` partitioned by batch.
    """

    # the baseline is immutable once committed — cache the collected
    # row for the query's lifetime instead of re-reading its parquet
    # every micro-batch (a restart starts with a cold cache and
    # re-reads once; correctness is unchanged)
    baseline_cache: list = []

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        counts = class_counts(batch_df).collect()[0]
        if counts["n"] == 0:
            return
        base_path = f"{sink_dir}/baseline"
        if not baseline_cache:
            fs, jpath, jvm = hadoop_fs(sess, base_path)
            # completeness gate: a crash mid-baseline-write leaves the
            # directory WITHOUT _SUCCESS; existence alone would wedge
            # the stream forever (skip rewrite + fail reading the
            # partial dir)
            success = jvm.org.apache.hadoop.fs.Path(base_path + "/_SUCCESS")
            if not (fs.exists(jpath) and fs.exists(success)):
                # first content-bearing batch defines the baseline; a
                # replay recomputes identical counts and overwrites
                sess.createDataFrame([counts]).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(base_path)
            base_rows = sess.read.parquet(base_path).limit(2).collect()
            if len(base_rows) != 1:
                # class_counts writes exactly one row; anything else is
                # a corrupted/foreign baseline dir — scoring against it
                # would produce silently wrong chi2 readings forever
                raise RuntimeError(
                    f"drift baseline at {base_path} must hold exactly "
                    f"one class_counts row, found {len(base_rows)} — "
                    "delete the directory to re-baseline"
                )
            baseline_cache.append(base_rows[0])
        baseline = baseline_cache[0]
        chi2 = chi2_against(baseline, counts)
        reading = sess.createDataFrame(
            [(int(batch_id), int(counts["n"]), float(chi2))],
            "batch_id long, n_batch long, chi2 double",
        )
        reading.coalesce(1).write.mode("overwrite").parquet(
            f"{sink_dir}/reading/batch={batch_id}"
        )

    return (
        events.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
