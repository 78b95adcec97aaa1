"""Streaming corpus curation (SURVEY §2B.3 × §2B.2): the batch
curation pipeline — quality gate → exact dedup — run incrementally
over an arriving document stream with foreachBatch.

This is the daily-ingest twin of the batch flagship (q98 stages 1+3
and q116's incremental triage): each micro-batch is quality-filtered,
deduplicated within itself, then deduplicated against everything the
stream has already accepted — WITHOUT ever re-reading accepted
document text. The accepted-content index holds only a 32-char md5
per document, so the per-batch state read is ~10⁻⁴ of corpus bytes at
100 TB.

Exactly-once effect without a transaction log: every batch writes its
survivors to a `batch_id=<n>` directory in OVERWRITE mode (and its
hashes to the same layout in the index). A replayed batch — after a
crash anywhere between the two writes and the checkpoint commit —
recomputes the same content and overwrites the same two directories,
so duplicates cannot accumulate; the index anti-join reads strictly
EARLIER batches only (`batch_id < n`), so a replayed batch's own
half-written index entries can never mask its rows. This is the
idempotent-foreachBatch pattern Structured Streaming documents for
non-transactional sinks, applied to both data and index.

No oracle entry: streaming triggers/checkpoints are not
SQL-expressible; batch parity + restart idempotence are proven in
tests/test_streaming_curation.py against the batch operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from target_hdfs_spark.functions.textfuncs import tokens
from target_hdfs_spark.plans.commit import hadoop_fs

# Quality thresholds — the batch gate's exact rules (operators/text.py
# q54_quality_filter); kept numerically identical so stream and batch
# accept the same documents.
MIN_TOKENS = 20
CHAR_BOUNDS = (100, 10000)
MIN_UNIQUE_RATIO = 0.2


def quality_gate(df: DataFrame) -> DataFrame:
    """q54's quality predicate as a reusable stage (no shuffle)."""
    toks = tokens("text")
    n_tokens = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    return df.where(
        (n_tokens >= MIN_TOKENS)
        & (F.col("n_chars").between(*CHAR_BOUNDS))
        & (uniq.cast("double") / n_tokens >= MIN_UNIQUE_RATIO)
    )


def _index_batches(spark: SparkSession, index_dir: str) -> dict[int, str]:
    """batch_id -> path for every committed index directory."""
    fs, root, _ = hadoop_fs(spark, index_dir)
    if not fs.exists(root):
        return {}
    return {
        int(st.getPath().getName().split("=", 1)[1]): st.getPath().toString()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("batch_id=")
    }


def _read_index_before(
    spark: SparkSession,
    index_dir: str,
    batch_id: int,
    retention_batches: int | None = None,
) -> DataFrame | None:
    """Content hashes accepted by batches STRICTLY before `batch_id`
    (a replayed batch must not see its own crashed half-write). With a
    retention horizon, only the newest ``retention_batches`` prior
    batches are consulted — the bounded-state mode."""
    batches = _index_batches(spark, index_dir)
    prior_ids = sorted(b for b in batches if b < batch_id)
    if retention_batches is not None:
        prior_ids = prior_ids[-retention_batches:]
    if not prior_ids:
        return None
    return spark.read.option("basePath", index_dir).parquet(
        *(batches[b] for b in prior_ids)
    )


def _prune_index(
    spark: SparkSession, index_dir: str, batch_id: int, retention_batches: int
) -> None:
    """Drop index directories older than the retention horizon counted
    back from ``batch_id`` (the batch that just committed). Keeps the
    index — the stream's only unbounded state — at
    O(retention_batches × batch_size) hashes forever.

    Replay headroom: retain ``retention_batches`` dirs STRICTLY BEFORE
    ``batch_id`` plus the current one — the reader consults dirs
    ``b < batch_id``, so pruning to the newest N *including* the
    current batch would shorten a replayed batch's horizon by one
    after a crash between this prune and the checkpoint commit
    (the replay would see N-1 prior dirs and re-admit a duplicate
    its original run rejected)."""
    batches = _index_batches(spark, index_dir)
    prior = sorted(b for b in batches if b < batch_id)[-retention_batches:]
    keep = set(prior) | {batch_id}
    fs, _, jvm = hadoop_fs(spark, index_dir)
    for b, path in batches.items():
        if b <= batch_id and b not in keep:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)


def curate_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    index_retention_batches: int | None = None,
) -> StreamingQuery:
    """Stream parquet document files through the curation pipeline.

    Per micro-batch: quality gate → within-batch exact dedup
    (deterministic min-doc_id survivor, q40's rule) → anti-join on the
    accepted-hash index (exact dedup against all prior batches) →
    overwrite-write survivors to ``sink_dir/batch_id=<n>`` and their
    md5 hashes to ``index_dir/batch_id=<n>``.

    Scale shape: the only per-batch state is the hash index — read as
    a broadcast-sized column of md5 strings at daily-batch scales; the
    anti-join and the within-batch window both shuffle on the hash key
    only. Restarting with the same checkpoint resumes after the last
    committed batch; replayed batches overwrite their own directories
    (idempotent, see module docstring).

    ``index_retention_batches`` bounds the index on unbounded streams:
    only the newest N prior batches' hashes are consulted, and older
    index directories are pruned after each commit — dedup becomes
    exact-within-horizon (a duplicate of a document accepted more than
    N batches ago is re-admitted; that is the documented trade-off
    that keeps state O(N × batch) forever). ``None`` (default) keeps
    the exact unbounded index. Pruning only touches ``index_dir`` —
    the accepted corpus under ``sink_dir`` is output, not state, and
    is never pruned.
    """
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)

    def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
        hashed = quality_gate(batch_df).withColumn("_h", F.md5("text"))
        w = Window.partitionBy("_h").orderBy("doc_id")
        batch_unique = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = _read_index_before(
            spark, index_dir, batch_id, index_retention_batches
        )
        survivors = (
            batch_unique.join(
                seen.select(F.col("h").alias("_h")), "_h", "left_anti"
            )
            if seen is not None
            else batch_unique
        )
        # data first, index second: both are replay-overwritten, so
        # ordering only affects which half-write a crash can leave —
        # never the final state.
        survivors.drop("_h").write.mode("overwrite").parquet(
            f"{sink_dir}/batch_id={batch_id}"
        )
        survivors.select(F.col("_h").alias("h")).write.mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )
        if index_retention_batches is not None:
            _prune_index(spark, index_dir, batch_id, index_retention_batches)

    writer = raw.writeStream.foreachBatch(curate_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_curated(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The accepted corpus across all committed batches (batch_id is a
    partition column of the layout, dropped from the logical view)."""
    return (
        spark.read.option("basePath", sink_dir).parquet(sink_dir).drop("batch_id")
    )
