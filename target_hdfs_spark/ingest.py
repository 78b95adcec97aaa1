"""CLI entry point: `python -m target_hdfs_spark.ingest --config cfg.json`

Reads Singer messages on stdin, writes Parquet per stream under the
configured destination, echoes STATE lines to stdout after their
records are durable — the reference's `tap | target-hdfs --config c`
pipe (reference: target_hdfs/target.py:51-52, README.md:61-65).

`--about` prints the config surface as JSON (reference R1/R2).
`--version` prints the package version (reference README.md:61).
`--config=ENV` builds the config from `TARGET_HDFS_SPARK_*` /
`TARGET_HDFS_*` environment variables merged over the working
directory's `.env` file (reference README.md:44-48).
"""

from __future__ import annotations

import argparse
import json
import sys

from target_hdfs_spark import __version__
from target_hdfs_spark.config import TargetConfig, config_from_env
from target_hdfs_spark.session import get_spark
from target_hdfs_spark.sources.singer import SingerPipe

ABOUT = {
    "name": "target_hdfs_spark",
    "capabilities": ["about", "stream-maps", "record-flattening", "state"],
    "settings": {
        "hdfs_destination_path": {"type": "string", "required": True},
        "hdfs_block_size_limit": {"type": ["integer", "string", "null"]},
        "skip_existing_files": {"type": "boolean", "default": False},
        "compression_method": {
            "type": "string",
            "default": "gzip",
            "enum": ["gzip", "snappy", "zstd", "brotli", "none"],
        },
        "partition_cols": {"type": "string"},
        "extra_fields": {"type": "string"},
        "extra_fields_types": {"type": "string"},
        "add_record_metadata": {"type": "boolean", "default": False},
        "max_batch_size": {"type": "integer", "default": 10000},
        "flattening_max_depth": {"type": ["integer", "null"]},
        "stream_maps": {"type": ["object", "null"]},
        "target_file_bytes": {"type": ["integer", "string", "null"]},
        "table_format": {
            "type": "string",
            "default": "parquet",
            "enum": ["parquet", "orc", "delta", "iceberg"],
        },
        "schema_evolution": {
            "type": "string",
            "default": "strict",
            "enum": ["strict", "additive"],
        },
        "on_invalid_record": {
            "type": "string",
            "default": "fail",
            "enum": ["fail", "skip", "dlq"],
        },
    },
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="target-hdfs-spark")
    parser.add_argument(
        "--config",
        help="path to config JSON, or the literal ENV to read "
        "TARGET_HDFS_SPARK_* environment variables (+ ./.env)",
    )
    parser.add_argument("--about", action="store_true", help="print config surface")
    parser.add_argument(
        "--dry-run",
        action="store_true",
        help="validate the message stream (demux, schema coercion, "
        "batching) without writing; prints a per-stream summary to "
        "stderr. STATE lines are routed to stderr too — emitted "
        "STATE is the Singer durable-commit signal, and nothing was "
        "committed, so stdout stays silent to keep any wrapping "
        "orchestrator from persisting bookmarks past unwritten data",
    )
    parser.add_argument(
        "--version",
        action="version",
        version=f"%(prog)s {__version__}",
    )
    args = parser.parse_args(argv)

    if args.about:
        print(json.dumps(ABOUT, indent=2))
        return 0
    if not args.config:
        parser.error("--config is required unless --about")

    if args.config == "ENV":
        config = config_from_env()
    else:
        with open(args.config) as fh:
            config = TargetConfig.from_dict(json.load(fh))
    spark = get_spark(app_name="target_hdfs_spark_ingest")
    spark.sparkContext.setLogLevel("ERROR")
    pipe = SingerPipe(spark, config, dry_run=args.dry_run)
    # In the Singer protocol, STATE on stdout is the durable-commit
    # signal: orchestrators persist it as the tap's bookmark. A dry
    # run commits nothing, so its STATE lines go to stderr (visible
    # as validation checkpoints, never persisted) — otherwise the
    # tap could advance past unwritten data and skip it on the next
    # real run.
    state_out = sys.stderr if args.dry_run else sys.stdout
    for state_line in pipe.process_lines(sys.stdin):
        print(state_line, file=state_out, flush=True)
    if args.dry_run:
        summary = {
            "dry_run": True,
            "streams": {
                name: {"records_valid": buf.rows_written}
                for name, buf in pipe.streams.items()
            },
            "records_invalid": pipe.invalid_counts,
        }
        print(json.dumps(summary), file=sys.stderr, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
