"""Materialize packed training sequences — the production sink of
the packing family (operators/packing.py prices the layout, the pack
twin assigns offsets online; this writes the artifact a trainer
actually reads): fixed-`ctx` token chunks cut from the corpus
concatenated in the deterministic salted-hash training order.

Pipeline (all corpus-sized stages linear, no global single-task
stage anywhere):

1. `packed_token_frame` — the distributed prefix sum gives every
   document its exact global token offset (bucket-local window +
   broadcast bucket offsets).
2. one `posexplode` of each document's tokens; a token's GLOBAL
   position is `cum_before + local_idx`, its chunk is
   `global_pos div ctx`, its slot `global_pos mod ctx` — pure
   arithmetic, so the doc -> chunk re-segmentation needs no join
   against chunk boundaries.
3. `collect_list(struct(slot, token))` per chunk, sorted by slot —
   each chunk is one `ctx`-bounded array row (the array width is
   capped by `ctx` BY CONSTRUCTION, never data-dependent).
4. hive-partitioned parquet by `chunk_band = chunk_id div
   chunks_per_band` so a trainer (or a resume) opens one band
   directory, not the whole dataset, and file sizes stay governed.

Determinism: the order hash, tokenizer and prefix sum are the batch
module's own functions (one implementation, q278's oracle-checked
semantics); rerunning the writer over the same corpus produces
byte-identical chunk rows.

Scale: at 100 TB the explode emits one row per token — large but
strictly linear and map-side until the single chunk-keyed exchange;
chunks are ~tokens/ctx keys with bounded payloads, so the final
aggregation cannot skew (every key carries exactly <= ctx rows).

Cites reference behavior: none (beyond-reference component; the
reference writes row-shaped records, not training sequences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from target_hdfs_spark.functions.textfuncs import tokens
from target_hdfs_spark.operators.packing import (
    _PK_CTX,
    packed_token_frame,
)
from target_hdfs_spark.plans.commit import hadoop_fs
from target_hdfs_spark.sources.readers import load_table

CHUNKS_PER_BAND = 1024  # hive-partition granularity of the output


def packed_chunks(
    spark: SparkSession, sf_dir: str, ctx: int = _PK_CTX
) -> DataFrame:
    """(chunk_id, n_tokens, n_docs, tokens array<string>) — every
    fixed-`ctx` training chunk, tokens in exact training order. The
    final chunk may be short (the tail q279 prices as padding); all
    others carry exactly `ctx` tokens."""
    if ctx <= 0:
        raise ValueError(f"ctx must be positive, got {ctx}")
    frame = packed_token_frame(spark, sf_dir).select("doc_id", "cum_before")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("_toks")
    )
    placed = (
        docs.join(frame, "doc_id")
        .select("doc_id", "cum_before", F.posexplode("_toks").alias("i", "tok"))
        .select(
            "doc_id",
            "tok",
            (F.col("cum_before") + F.col("i")).alias("gpos"),
        )
        .select(
            "tok",
            "doc_id",
            F.expr(f"gpos div {ctx}").alias("chunk_id"),
            F.expr(f"gpos % {ctx}").alias("slot"),
        )
    )
    return (
        placed.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("slot", "tok"))
                ),
                lambda s: s["tok"],
            ).alias("tokens"),
        )
    )


class IncompletePackError(RuntimeError):
    """The packed dataset's write never committed (no _SUCCESS) — a
    trainer must not resume from a half-written token stream."""


def read_band(spark: SparkSession, out_dir: str, band_id: int) -> DataFrame:
    """Open exactly ONE chunk band — the trainer-resume read pattern:
    a resume at global step S needs band `(S * ctx-chunks consumed)
    div chunks_per_band`, and the hive layout means Spark scans that
    single `chunk_band=<id>` directory (partition pruning; pinned in
    tests/test_packing_writer.py), not the dataset.

    Fails fast with `IncompletePackError` when the dataset has no
    `_SUCCESS` marker: Spark's output-commit protocol only publishes
    it after every task committed, so its absence means the write was
    interrupted — the remediation is to rerun `write_packed_dataset`
    (mode=overwrite replaces any partial output; reruns are
    byte-identical by construction)."""
    fs, marker, _ = hadoop_fs(spark, f"{out_dir.rstrip('/')}/_SUCCESS")
    if not fs.exists(marker):
        raise IncompletePackError(
            f"packed dataset at {out_dir} has no _SUCCESS marker — the "
            "write was interrupted before commit; rerun "
            "write_packed_dataset (overwrite mode replaces partial "
            "output; reruns are byte-identical)"
        )
    return spark.read.parquet(out_dir).filter(
        F.col("chunk_band") == F.lit(int(band_id))
    )


def write_packed_dataset(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ctx: int = _PK_CTX,
    chunks_per_band: int = CHUNKS_PER_BAND,
) -> int:
    """Write the packed dataset as hive-partitioned parquet
    (`chunk_band=<id div chunks_per_band>/...`) and return the chunk
    count. Rerun-stable: same corpus -> byte-identical chunks."""
    out = packed_chunks(spark, sf_dir, ctx).withColumn(
        "chunk_band", F.expr(f"chunk_id div {chunks_per_band}")
    )
    out.repartition("chunk_band").sortWithinPartitions(
        "chunk_id"
    ).write.mode("overwrite").partitionBy("chunk_band").parquet(out_dir)
    df = spark.read.parquet(out_dir)
    return df.count()
