"""The three benchmark workloads.

Each workload generates its input before any timer starts, runs one
untimed warm cycle identical to a timed one, and then runs timed
cycles. A cycle writes to a
fresh destination that is deleted after the timer stops, and its
output is read back and checked, also outside the timer. A traced
cycle additionally records spans, Spark job counts and file tallies,
and returns them as per-layer values.

- singer_pipe: `SingerPipe.process_lines` over two interleaved
  streams (one wide and nested, one narrow), with STATE lines at
  seeded irregular intervals, default config (gzip, strict drift,
  max_batch_size 10k).
- jsonl_stage: four staged batches of four JSONL files, each batch
  ingested by one `ingest_jsonl_dir` call into the same stream
  directory, then `compact_stream` on that directory.
- query_mix: five registered queries over the bundled tables, each
  built by its `spec.fn`, executed through the `noop` sink and
  checked against its stored DuckDB answer.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import deque
from dataclasses import dataclass, field

import gen
from spans import JobCounter, Tracer, calls, total, total_self

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import target_hdfs_spark.plans.writer as writer_mod
import target_hdfs_spark.sources.singer as singer_mod
from target_hdfs_spark.config import TargetConfig
from target_hdfs_spark.plans.compaction import compact_stream
from target_hdfs_spark.registry import all_queries
from tests.oracle_compare import _normalize

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
ORACLE_PATH = os.path.join(HERE, "oracle.json")

QUERIES = (
    "q01_pricing_summary",
    "q85_dedup_clusters",
    "q203_dedup_roi",
    "q212_triangle_count",
    "q180_hard_negative_mining",
)

# Cycle sizes: a cycle is a few seconds, so one run measures several.
# `nominal_cycle_s` on each workload turns --seconds into a cycle count;
# it is the rounded cycle length on a 4-core machine.
SINGER_RECORDS = 8_000
SINGER_STATES = 3
JSONL_BATCHES = 4
JSONL_FILES_PER_BATCH = 4
JSONL_RECORDS_PER_FILE = 2_500


@dataclass
class Cycle:
    """One cycle's outcome. `items` is records or queries processed;
    `latencies` are per-operation seconds; `layers` is filled only on
    traced cycles."""

    seconds: float
    items: int
    latencies: list[float]
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    traced: bool = False


class Context:
    """What every workload shares: the session, the seed, a scratch
    directory inside the checkout, the tracer and the job counter."""

    def __init__(self, spark: SparkSession, work: str, seed: int, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer()
        self.jobs = JobCounter(spark.sparkContext)
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{prefix}-{self._dirs:04d}")


def _read_checksum(spark: SparkSession, path: str) -> gen.Checksum:
    row = spark.read.parquet(path).agg(F.count("*"), F.sum("id")).collect()[0]
    return gen.Checksum(int(row[0]), int(row[1] or 0))


class _FileTally:
    """Counts the data files each traced `write_stream` call adds to
    its destination directory."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.files = 0
        self.bytes = 0
        self._seen: set[str] = set()

    def after_write(self, args, kwargs) -> None:
        path = args[2] if len(args) > 2 else kwargs["path"]
        for entry in os.scandir(path):
            if entry.name.endswith(".parquet") and entry.path not in self._seen:
                self._seen.add(entry.path)
                self.files += 1
                self.bytes += entry.stat().st_size


class _IngestWorkload:
    """Shared tracing for the two ingest workloads: spans on the
    writer's public functions and on the session's createDataFrame,
    patched where the ingest code calls them."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.tally = _FileTally()
        if not ctx.trace:
            return
        t = ctx.tracer
        t.patch(singer_mod, "write_stream", "plans.writer.write_stream",
                after=self.tally.after_write)
        t.patch(writer_mod, "enforce_schema_unchanged", "plans.writer.drift_guard")
        t.patch(writer_mod, "estimate_rows_per_file", "plans.writer.estimate_rows")
        t.patch(ctx.spark, "createDataFrame", "session.create_dataframe")

    def writer_layers(self, spans, config: TargetConfig) -> dict[str, float]:
        files = self.tally.files
        target = writer_mod.target_file_bytes(self.ctx.spark, config)
        return {
            "session.create_dataframe_s": total(spans, "session.create_dataframe"),
            "session.create_dataframe_calls": calls(spans, "session.create_dataframe"),
            "plans.writer.write_stream_s": total(spans, "plans.writer.write_stream"),
            "plans.writer.write_stream_calls": calls(spans, "plans.writer.write_stream"),
            "plans.writer.drift_guard_s": total(spans, "plans.writer.drift_guard"),
            "plans.writer.estimate_rows_s": total(spans, "plans.writer.estimate_rows"),
            "plans.writer.files_written": files,
            "plans.writer.bytes_written": self.tally.bytes,
            "plans.writer.file_fill": (self.tally.bytes / files / target) if files else 0.0,
        }

    def run_cycle(self, index: int, traced: bool) -> Cycle:
        ctx = self.ctx
        op = f"{self.name}-{index}"
        ctx.tracer.enabled = traced
        ctx.tracer.op = op
        self.tally.reset()
        dest = ctx.fresh_dir(self.name)
        try:
            if traced:
                with ctx.jobs.group(op):
                    cycle, config = self.timed(dest)
                spans = ctx.tracer.op_spans(op)
                cycle.layers = {**self.writer_layers(spans, config),
                                **self.extra_layers(spans),
                                "session.jobs": ctx.jobs.count(op)}
            else:
                cycle, config = self.timed(dest)
        finally:
            ctx.tracer.enabled = False
        cycle.problems += self.check(config)
        if cycle.problems:
            cycle.failed = cycle.attempted
        shutil.rmtree(dest, ignore_errors=True)
        return cycle


class SingerPipeWorkload(_IngestWorkload):
    name = "singer_pipe"
    nominal_cycle_s = 3.3
    layers = (
        "sources.singer.coerce_s", "session.create_dataframe_s",
        "session.create_dataframe_calls", "plans.writer.write_stream_s",
        "plans.writer.write_stream_calls", "plans.writer.drift_guard_s",
        "plans.writer.estimate_rows_s", "plans.writer.files_written",
        "plans.writer.bytes_written", "plans.writer.file_fill", "session.jobs",
    )

    def generate(self) -> None:
        self.input = gen.singer_messages(self.ctx.seed, SINGER_RECORDS, SINGER_STATES)

    def timed(self, dest: str) -> tuple[Cycle, TargetConfig]:
        inp = self.input
        config = TargetConfig(destination_path=dest)
        pipe = singer_mod.SingerPipe(self.ctx.spark, config)
        pulled: deque[float] = deque()

        def feed():
            for line, is_state in zip(inp.lines, inp.is_state):
                if is_state:
                    pulled.append(time.perf_counter())
                yield line

        emitted, lags = [], []
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sources.singer.process_lines"):
            for state in pipe.process_lines(feed()):
                lags.append(time.perf_counter() - pulled.popleft())
                emitted.append(state)
        seconds = time.perf_counter() - t0
        problems = [] if emitted == inp.states else [
            f"STATE lines differ: {len(emitted)} emitted, {len(inp.states)} expected"
        ]
        records = sum(c.rows for c in inp.expected.values())
        return Cycle(seconds, records, lags, len(inp.states), 0, problems), config

    def extra_layers(self, spans) -> dict[str, float]:
        return {"sources.singer.coerce_s": total_self(spans, "sources.singer.process_lines")}

    def check(self, config: TargetConfig) -> list[str]:
        problems = []
        for stream, want in self.input.expected.items():
            got = _read_checksum(self.ctx.spark, config.stream_path(stream))
            if got != want:
                problems.append(f"{stream}: read back {got}, expected {want}")
        return problems


class JsonlStageWorkload(_IngestWorkload):
    name = "jsonl_stage"
    nominal_cycle_s = 3.3
    stream = "orders"
    layers = (
        "plans.writer.write_stream_s", "plans.writer.write_stream_calls",
        "plans.writer.drift_guard_s", "plans.writer.estimate_rows_s",
        "plans.writer.files_written", "plans.writer.bytes_written",
        "plans.writer.file_fill", "plans.compaction.compact_s",
        "plans.compaction.files_compacted", "plans.compaction.bytes_compacted",
        "plans.compaction.files_after", "session.create_dataframe_s",
        "session.create_dataframe_calls", "session.jobs",
    )

    def generate(self) -> None:
        self.batches = gen.stage_jsonl(
            self.ctx.seed, os.path.join(self.ctx.work, "staged"), JSONL_BATCHES,
            JSONL_FILES_PER_BATCH, JSONL_RECORDS_PER_FILE,
        )
        sums = [c for _, c in self.batches]
        self.expected = gen.Checksum(sum(c.rows for c in sums), sum(c.id_sum for c in sums))

    def timed(self, dest: str) -> tuple[Cycle, TargetConfig]:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        config = TargetConfig(destination_path=dest)
        lat = []
        t0 = time.perf_counter()
        for batch, _ in self.batches:
            t1 = time.perf_counter()
            singer_mod.ingest_jsonl_dir(spark, config, self.stream, batch, gen.WIDE_SCHEMA)
            lat.append(time.perf_counter() - t1)
        with tracer.span("plans.compaction.compact"):
            self.reports = compact_stream(
                spark, config.stream_path(self.stream), compression=config.compression
            )
        seconds = time.perf_counter() - t0
        return Cycle(seconds, self.expected.rows, lat, len(self.batches) + 1, 0), config

    def extra_layers(self, spans) -> dict[str, float]:
        return {
            "plans.compaction.compact_s": total(spans, "plans.compaction.compact"),
            "plans.compaction.files_compacted": sum(r.files_compacted for r in self.reports),
            "plans.compaction.bytes_compacted": sum(r.bytes_compacted for r in self.reports),
            "plans.compaction.files_after": sum(r.files_after for r in self.reports),
        }

    def check(self, config: TargetConfig) -> list[str]:
        got = _read_checksum(self.ctx.spark, config.stream_path(self.stream))
        if got != self.expected:
            return [f"after compaction read back {got}, expected {self.expected}"]
        return []


def load_oracle() -> dict[str, dict]:
    with open(ORACLE_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def result_problems(name: str, columns: list[str], rows: list, answer: dict) -> list[str]:
    """Compare a query result with its stored oracle answer exactly,
    after the oracle comparison's order-insensitive normalization."""
    cols = [c.lower() for c in columns]
    if sorted(cols) != answer["columns"]:
        return [f"{name}: columns {sorted(cols)} != {answer['columns']}"]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    got = [list(r) for r in _normalize([tuple(r) for r in rows], order)]
    if got != answer["rows"]:
        return [f"{name}: {len(got)} rows differ from the {len(answer['rows'])} oracle rows"]
    return []


class QueryMixWorkload:
    name = "query_mix"
    nominal_cycle_s = 10.0
    layers = tuple(
        f"{q}.{m}" for q in QUERIES
        for m in ("build_s", "build_jobs", "plan_s", "execute_s", "execute_jobs")
    ) + ("session.jobs", "session.persisted_rdds")

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.specs = all_queries()
        self.rng = random.Random(ctx.seed)

    def generate(self) -> None:
        self.oracle = load_oracle()

    def run_cycle(self, index: int, traced: bool) -> Cycle:
        ctx = self.ctx
        order = list(QUERIES)
        self.rng.shuffle(order)
        lat, problems, layers = [], [], {}
        failed = 0
        for q in order:
            try:
                seconds, df, qlayers = self._run_query(q, f"{q}-{index}", traced)
            except Exception as e:  # a failing query is counted, the run goes on
                failed += 1
                problems.append(f"{q}: {type(e).__name__}: {e}")
                continue
            lat.append(seconds)
            layers.update(qlayers)
            bad = result_problems(q, df.columns, df.collect(), self.oracle[q])
            failed += bool(bad)
            problems += bad
        if traced:
            layers["session.jobs"] = sum(
                v for k, v in layers.items() if k.endswith("_jobs")
            )
            layers["session.persisted_rdds"] = (
                ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
            )
        return Cycle(sum(lat), len(lat), lat, len(order), failed, problems, layers)

    def _run_query(self, q: str, op: str, traced: bool):
        spark, spec = self.ctx.spark, self.specs[q]
        if not traced:
            t0 = time.perf_counter()
            df = spec.fn(spark, DATA_DIR)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, df, {}
        jobs = self.ctx.jobs
        t0 = time.perf_counter()
        with jobs.group(f"{op}-build"):
            df = spec.fn(spark, DATA_DIR)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with jobs.group(f"{op}-execute"):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return t3 - t0, df, {
            f"{q}.build_s": t1 - t0,
            f"{q}.build_jobs": jobs.count(f"{op}-build"),
            f"{q}.plan_s": t2 - t1,
            f"{q}.execute_s": t3 - t2,
            f"{q}.execute_jobs": jobs.count(f"{op}-execute"),
        }


WORKLOADS = {
    "singer_pipe": SingerPipeWorkload,
    "jsonl_stage": JsonlStageWorkload,
    "query_mix": QueryMixWorkload,
}
