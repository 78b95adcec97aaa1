"""Structured Streaming ingest (SURVEY.md §2B.3 S1/S6): staged Singer
record files stream in, the batch writer writes them out — one code
path for batch and streaming, which is the whole point of
foreachBatch.

The reference's runtime is an infinite micro-batching loop: buffer
records, flush a parquet file, emit state (reference:
target_hdfs/sinks.py:42-44 buffering + README.md:38-39 thresholds,
state semantics R28). Structured Streaming is that loop done right:
the checkpoint is the STATE message (exactly-once-ish resume across
restarts), the trigger is the batch-size threshold, and the same
`write_stream` the batch path uses runs inside each micro-batch.

Scale: file-source streaming with `maxFilesPerTrigger` bounds
per-batch memory; the foreachBatch body is a normal distributed write
(no driver data path). Restart semantics: the source side replays at
most the one uncommitted micro-batch; the sink skips replayed batches
via per-batch_id markers, leaving only the write->marker gap as the
residual at-least-once window (pair with dedup_within_watermark or
q40-style key dedup for end-to-end exactly-once effect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.plans.commit import hadoop_fs
from target_hdfs_spark.plans.writer import write_stream
from target_hdfs_spark.sources.jsonschema import jsonschema_to_spark
from target_hdfs_spark.transforms import shape_records


def stream_jsonl_dir(
    spark: SparkSession,
    config: TargetConfig,
    stream_name: str,
    json_schema: dict,
    source_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream staged JSONL records into governed Parquet.

    `available_now=True` drains what exists and stops (the batch-
    parity mode used by tests and backfills); `False` runs continuous
    micro-batches. Restarting with the same `checkpoint_dir` resumes
    exactly where the last run committed (S6 / reference R28).
    """
    schema = jsonschema_to_spark(json_schema)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)

    # Sink-side idempotence markers: foreachBatch can replay a batch
    # whose write succeeded but whose checkpoint commit didn't (driver
    # crash in between). A marker per committed batch_id lets the
    # replay skip the duplicate append. The write->marker gap is the
    # residual at-least-once window — same guarantee class as the
    # reference's write-then-emit-STATE ordering (R28), narrowed to
    # one marker creation.
    marker_dir = checkpoint_dir.rstrip("/") + "/_batch_markers"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fs, marker, _ = hadoop_fs(spark, f"{marker_dir}/batch-{batch_id}")
        if fs.exists(marker):
            return  # replayed batch already durable — skip, don't duplicate
        shaped = shape_records(batch_df, config, stream_name)
        write_stream(
            spark,
            shaped,
            config.stream_path(stream_name),
            config,
            rows_per_file=max(config.max_batch_size, 1),
        )
        fs.mkdirs(marker)

    writer = raw.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Stateful streaming dedup (S5): duplicates of a key arriving
    within the watermark window are dropped; state for keys older than
    the watermark is evicted, so memory stays bounded at 100 TB/day —
    the dedup the reference's at-least-once delivery needs and never
    had (SURVEY §3.1 step 6: crash between write and state emit ->
    tap replays -> duplicates)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def tumbling_counts_stream(
    df: DataFrame, ts_col: str, window_size: str, delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts (S2/S4): the streaming twin
    of operators/windows.q31 — same window() expression, plus the
    watermark that bounds state. Verified semantics on Spark 4.1.2
    (tests/test_streaming.py): each window emits exactly once in
    append mode when the end-of-batch watermark passes its end; rows
    arriving after that eviction are dropped — drops before eviction
    are best-effort, so late-but-stateful rows still aggregate."""
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window_size))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
        )
    )


def session_counts_stream(
    df: DataFrame, ts_col: str, key: str, gap: str, delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked session windows (S3): streaming twin of q33."""
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.session_window(ts_col, gap), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_attribution_join(
    purchases: DataFrame,
    views: DataFrame,
    attribution_window: str = "30 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: each purchase joins the view events of
    the same user within the preceding attribution window (S-surface:
    double-watermarked interval join).

    Both sides carry watermarks so Spark can bound the join state: a
    buffered view can be dropped once the watermark passes its
    timestamp + window (no unbounded state at 100 TB event rates).
    Expects (user_id, event_id, ts, value) on both inputs.
    """
    p = purchases.withWatermark("ts", delay).alias("p")
    v = views.withWatermark("ts", delay).alias("v")
    return p.join(
        v,
        F.expr(
            f"""
            p.user_id = v.user_id AND
            v.ts < p.ts AND
            v.ts >= p.ts - INTERVAL {attribution_window}
            """
        ),
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("v.event_id").alias("view_id"),
        F.col("v.ts").alias("view_ts"),
    )


def stream_stream_attribution_join_outer(
    purchases: DataFrame,
    views: DataFrame,
    attribution_window: str = "30 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Left-outer variant of the attribution join: purchases with no
    view inside the window still emit, null-padded — but only once the
    watermark proves no matching view can still arrive. That
    watermark-gated emission is the semantic difference from batch
    left joins, and why both sides MUST carry watermarks and the join
    a time bound: otherwise unmatched rows would wait forever.
    """
    p = purchases.withWatermark("ts", delay).alias("p")
    v = views.withWatermark("ts", delay).alias("v")
    return p.join(
        v,
        F.expr(
            f"""
            p.user_id = v.user_id AND
            v.ts < p.ts AND
            v.ts >= p.ts - INTERVAL {attribution_window}
            """
        ),
        "left_outer",
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("v.event_id").alias("view_id"),
    )


def state_metrics(query: StreamingQuery) -> list[dict]:
    """State-store metrics from the query's most recent progress that
    reported state operators (S6 surface): per operator — name, rows
    held, rows updated this batch, rows evicted by the watermark, and
    state memory. These are the numbers an operator alarms on at
    100 TB/day: monotonically growing `rows_total` with zero
    `rows_removed` means a missing/ineffective watermark (unbounded
    state); `memory_used_bytes` drives state-store sizing.
    """
    for prog in reversed(query.recentProgress):
        ops = prog.get("stateOperators") or []
        if ops:
            return [
                {
                    "operator": op.get("operatorName"),
                    "rows_total": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                    "memory_used_bytes": op.get("memoryUsedBytes"),
                }
                for op in ops
            ]
    return []


def progress_summary(query: StreamingQuery) -> dict:
    """One-line operational rollup of the latest micro-batch: batch id,
    input row count, processing rate, and total state rows across
    operators (0 for stateless queries)."""
    prog = query.lastProgress
    if not prog:
        return {}
    ops = prog.get("stateOperators") or []
    return {
        "batch_id": prog.get("batchId"),
        "num_input_rows": prog.get("numInputRows"),
        "rows_per_sec": prog.get("processedRowsPerSecond"),
        "state_rows_total": sum(op.get("numRowsTotal") or 0 for op in ops),
        "n_state_operators": len(ops),
    }
