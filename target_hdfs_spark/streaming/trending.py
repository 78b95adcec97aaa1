"""Streaming trending-terms: per-window top-k tokens over a document
stream (S2/S4 × L4).

Structured Streaming cannot run window-rank functions on a stream
(no row_number over an unbounded relation), so the operator is the
documented two-stage composition:

1. a WATERMARKED stateful aggregation — tokenize, explode, count per
   (event-time window, token); append mode emits each window exactly
   once, when the watermark passes its end;
2. a ``foreachBatch`` ranking stage — every micro-batch holds only
   windows finalized in that trigger, so a per-window row_number
   top-k inside the batch is complete and computed exactly once per
   window; survivors append to the sink.

Scale: stage 1's state is (window, token) counts bounded by the
watermark horizon; stage 2 ranks only the windows that just closed —
a few thousand rows per trigger, not the stream's history. The same
shape serves trending hashtags, hot keys, and error-spike detection
at 100 TB/day event volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from target_hdfs_spark.functions.textfuncs import tokens
from target_hdfs_spark.plans.commit import hadoop_fs


def windowed_token_counts_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    window_size: str = "10 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked (window, token) counts over a streaming document
    frame with (ts, text)."""
    toks = docs.select(F.col(ts_col), F.explode(tokens("text")).alias("token"))
    return (
        toks.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window_size), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "token",
            "n",
        )
    )


def rank_topk(counts: DataFrame, k: int) -> DataFrame:
    """Per-window top-k by count (deterministic tie-break on token) —
    shared by the foreachBatch stage and the batch twin."""
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), "token")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("window_start", "window_end", "token", "n", "rnk")
    )


def write_trending_topk(
    counts: DataFrame, sink_dir: str, checkpoint_dir: str, k: int = 5
) -> StreamingQuery:
    """Start the ranking stage: append-mode windowed counts →
    per-window top-k → parquet sink.

    Each batch writes to its own ``batch_id=<n>`` directory in
    OVERWRITE mode: a batch replayed after a crash between the sink
    write and the checkpoint commit recomputes the same ranked rows
    (append-mode windows are emitted exactly once, deterministically
    ranked) and overwrites its own directory — duplicates cannot
    accumulate, which a bare ``mode('append')`` to a shared directory
    would not guarantee. This is the idempotent-foreachBatch pattern
    also used by streaming/curation.py."""

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        rank_topk(batch_df, k).write.mode("overwrite").parquet(
            f"{sink_dir}/batch_id={batch_id}"
        )

    return (
        counts.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def read_trending(spark, sink_dir: str) -> DataFrame:
    """All finalized per-window top-k rows across COMMITTED batches
    (``batch_id`` is a layout detail, dropped from the logical view).

    Completeness gate: only ``_SUCCESS``-marked batch directories are
    read — a crash between a batch's sink write and its checkpoint
    commit leaves a half-written directory that the replay will
    overwrite; exposing it early would surface uncommitted rows (the
    same gate the sampling/CDC snapshot protocol applies)."""
    fs, root, jvm = hadoop_fs(spark, sink_dir)
    complete = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("batch_id=")):
                continue
            if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                complete.append(f"{sink_dir}/{name}")
    if not complete:
        return None  # nothing committed yet (mirrors latest_sample)
    return (
        spark.read.option("basePath", sink_dir)
        .parquet(*complete)
        .drop("batch_id")
    )
