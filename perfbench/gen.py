"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives a
byte-identical Singer message stream and byte-identical staged JSONL
files. Each generator also returns the answers the read-back checks
compare against (row counts, id checksums, the STATE lines the pipe
must emit), computed from the generated records themselves.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

# Wide, nested stream: a timestamp, numbers and an object that the
# writer path flattens into customer__* columns.
WIDE_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "created_at": {"type": "string", "format": "date-time"},
        "amount": {"type": "number"},
        "quantity": {"type": "integer"},
        "status": {"type": "string"},
        "note": {"type": ["string", "null"]},
        "customer": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "tier": {"type": "string"},
                "region": {"type": "string"},
                "score": {"type": "number"},
            },
        },
    },
}

# Narrow stream: three flat columns.
NARROW_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "kind": {"type": "string"},
        "value": {"type": "number"},
    },
}

STREAMS = {"orders": WIDE_SCHEMA, "events": NARROW_SCHEMA}

_STATUSES = ("new", "paid", "shipped", "returned", "cancelled")
_TIERS = ("free", "pro", "team", "enterprise")
_REGIONS = ("emea", "amer", "apac")
_KINDS = ("view", "click", "cart", "buy")
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_DUMPS = json.JSONEncoder(separators=(",", ":")).encode


def _wide_record(rng: random.Random) -> dict:
    ts = _EPOCH + dt.timedelta(seconds=rng.randrange(365 * 86400))
    return {
        "id": rng.getrandbits(40),
        "created_at": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "amount": round(rng.uniform(1, 5000), 2),
        "quantity": rng.randrange(1, 50),
        "status": rng.choice(_STATUSES),
        "note": None if rng.random() < 0.3 else f"note-{rng.getrandbits(24):06x}",
        "customer": {
            "name": f"customer-{rng.randrange(100_000)}",
            "tier": rng.choice(_TIERS),
            "region": rng.choice(_REGIONS),
            "score": round(rng.random(), 4),
        },
    }


def _narrow_record(rng: random.Random) -> dict:
    return {
        "id": rng.getrandbits(40),
        "kind": rng.choice(_KINDS),
        "value": round(rng.uniform(-100, 100), 3),
    }


@dataclass(frozen=True)
class Checksum:
    """Row count and id sum of one stream's records."""

    rows: int
    id_sum: int


@dataclass(frozen=True)
class SingerInput:
    lines: list[str]
    is_state: list[bool]  # parallel to `lines`
    states: list[str]  # the STATE values the pipe must emit, in order
    expected: dict[str, Checksum]  # per stream


def singer_messages(seed: int, n_records: int, n_states: int,
                    wide_share: float = 0.4) -> SingerInput:
    """A Singer message stream: one SCHEMA per stream, then `n_records`
    RECORDs of the two streams interleaved at random, with `n_states`
    STATE lines, the last one after the final record. The others sit
    at seeded, irregular positions: a jittered grid, so every gap is
    between a third and five thirds of the mean gap, and the number
    of flushes a STATE forces does not depend on the seed."""
    rng = random.Random(seed)
    gap = n_records / n_states
    state_after = {
        round(k * gap + rng.uniform(-gap / 3, gap / 3)) for k in range(1, n_states)
    } | {n_records}
    lines = [
        _DUMPS({"type": "SCHEMA", "stream": name, "schema": schema,
                "key_properties": ["id"]})
        for name, schema in STREAMS.items()
    ]
    is_state = [False] * len(lines)
    states: list[str] = []
    ids: dict[str, list[int]] = {name: [] for name in STREAMS}
    for i in range(1, n_records + 1):
        if rng.random() < wide_share:
            name, rec = "orders", _wide_record(rng)
        else:
            name, rec = "events", _narrow_record(rng)
        ids[name].append(rec["id"])
        lines.append(_DUMPS({"type": "RECORD", "stream": name, "record": rec}))
        is_state.append(False)
        if i in state_after:
            value = {"bookmarks": {n: {"rows": len(v)} for n, v in ids.items()},
                     "seq": len(states)}
            lines.append(_DUMPS({"type": "STATE", "value": value}))
            is_state.append(True)
            states.append(_DUMPS(value))
    expected = {name: Checksum(len(v), sum(v)) for name, v in ids.items()}
    return SingerInput(lines, is_state, states, expected)


def stage_jsonl(
    seed: int, root: str, n_batches: int, files_per_batch: int, records_per_file: int
) -> list[tuple[str, Checksum]]:
    """Write staged RECORD payloads (wide stream, one JSON object per
    line) as `root/batch-<b>/part-<f>.jsonl`. Returns each batch
    directory, in ingest order, with the checksum of its records."""
    rng = random.Random(seed)
    batches = []
    for b in range(n_batches):
        bdir = os.path.join(root, f"batch-{b:02d}")
        os.makedirs(bdir, exist_ok=True)
        ids = []
        for f in range(files_per_batch):
            recs = [_wide_record(rng) for _ in range(records_per_file)]
            ids += [r["id"] for r in recs]
            with open(os.path.join(bdir, f"part-{f:02d}.jsonl"), "w", encoding="utf-8") as fh:
                fh.write("".join(_DUMPS(r) + "\n" for r in recs))
        batches.append((bdir, Checksum(len(ids), sum(ids))))
    return batches
