"""Z-order (Morton-curve) write layout for multi-column data skipping.

Parquet scans prune row groups by min/max statistics; a dataset sorted
by one column skips well on that column only. Interleaving the bits of
two (quantized) sort keys produces a space-filling-curve order in
which *both* columns have narrow per-file ranges — so predicates on
either column (or both) skip most files. This is the write-time lever
that makes 100 TB scans cheap for the second and third most common
filter columns, where partitioning already serves the first.

All integer bit arithmetic — deterministic, and exercised as an
oracle-checked query (q91) plus a file-statistics test proving the
range narrowing (tests/test_zorder.py).

The write replaces any dataset at the target path through the commit
every dataset rewrite shares (plans/commit.py): the new files are
staged, then moved in before the old ones are deleted. A mid-job
failure leaves the old dataset intact, a crash mid-commit is finished
by the next rewriter, and a concurrent reader sees duplicates at
worst, never a missing dataset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from target_hdfs_spark.plans import commit

ZBITS = 16


def zvalue(a: Column, b: Column, bits: int = ZBITS) -> Column:
    """Morton interleave of two non-negative ints (a in even bit
    positions, b in odd); inputs must fit in `bits` bits."""
    out = None
    for i in range(bits):
        ai = F.shiftleft(F.shiftright(a, i) % 2, 2 * i)
        bi = F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1)
        term = ai + bi
        out = term if out is None else out + term
    return out.cast("bigint")


def quantize(col: Column, lo: Column, hi: Column, bits: int = ZBITS) -> Column:
    """Scale a numeric column into [0, 2^bits) given broadcastable
    min/max bounds (rank-free, so it stays a scan-side expression)."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (col.cast("double") - lo) / span
    scaled = F.floor(frac * ((1 << bits) - 1)).cast("bigint")
    return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), scaled))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    compression: str = "snappy",
) -> None:
    """Write `df` range-partitioned along the Morton curve of
    (col_a, col_b): each output file covers a compact rectangle of
    the 2-D key space, so min/max pruning works for both columns.

    Scale: one aggregate for the bounds (broadcast literal-free via
    cross join), one range-partitioning shuffle — the same cost as
    any global sort-write, paid once at write time for every future
    scan's benefit.
    """
    # `df` may read `path` itself — an in-place re-layout — and then
    # its file listing predates the recovery: list it again.
    spark = df.sparkSession
    if commit.recover(spark, path):
        _relist_files(df)
    live = commit.live_files(spark, path)
    bounds = df.agg(
        F.min(F.col(col_a).cast("double")).alias("a_lo"),
        F.max(F.col(col_a).cast("double")).alias("a_hi"),
        F.min(F.col(col_b).cast("double")).alias("b_lo"),
        F.max(F.col(col_b).cast("double")).alias("b_hi"),
    )
    z = zvalue(
        quantize(F.col(col_a), F.col("a_lo"), F.col("a_hi")),
        quantize(F.col(col_b), F.col("b_lo"), F.col("b_hi")),
    )
    (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "a_lo", "a_hi", "b_lo", "b_hi")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(commit.staging(path))
    )
    commit.commit(spark, path, live)


def _relist_files(df: DataFrame) -> None:
    """Refresh the file listing of every file source `df` reads. Spark
    lists a path once, when the DataFrame is created; a file that
    recovery deleted since would fail the job, and a file it moved in
    would be missed."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() == "HadoopFsRelation":
            relation.location().refresh()
