"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_same_seed_gives_identical_message_stream():
    a = gen.singer_messages(7, 3_000, 4)
    b = gen.singer_messages(7, 3_000, 4)
    assert "\n".join(a.lines).encode() == "\n".join(b.lines).encode()
    assert a == b
    assert gen.singer_messages(8, 3_000, 4).lines != a.lines


def test_message_stream_answers_match_its_lines():
    inp = gen.singer_messages(3, 2_000, 5)
    msgs = [json.loads(line) for line in inp.lines]
    assert [m["type"] for m in msgs[:2]] == ["SCHEMA", "SCHEMA"]
    assert [m["type"] == "STATE" for m in msgs] == inp.is_state
    assert msgs[-1]["type"] == "STATE"
    states = [json.dumps(m["value"], separators=(",", ":")) for m in msgs if m["type"] == "STATE"]
    assert states == inp.states and len(states) == 5
    for stream, want in inp.expected.items():
        ids = [m["record"]["id"] for m in msgs
               if m["type"] == "RECORD" and m["stream"] == stream]
        assert gen.Checksum(len(ids), sum(ids)) == want
    assert sum(c.rows for c in inp.expected.values()) == 2_000


def test_state_count_does_not_depend_on_seed():
    for seed in range(20):
        assert len(gen.singer_messages(seed, 1_000, 4).states) == 4


def test_same_seed_gives_identical_staged_files(tmp_path):
    a = gen.stage_jsonl(5, str(tmp_path / "a"), 3, 2, 50)
    b = gen.stage_jsonl(5, str(tmp_path / "b"), 3, 2, 50)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert [c for _, c in a] == [c for _, c in b]
    assert len(_tree_bytes(str(tmp_path / "a"))) == 6
    gen.stage_jsonl(6, str(tmp_path / "c"), 3, 2, 50)
    assert _tree_bytes(str(tmp_path / "c")) != _tree_bytes(str(tmp_path / "a"))


def test_staged_checksums_match_files(tmp_path):
    for bdir, want in gen.stage_jsonl(9, str(tmp_path), 2, 3, 40):
        ids = []
        for name in sorted(os.listdir(bdir)):
            with open(os.path.join(bdir, name), encoding="utf-8") as fh:
                ids += [json.loads(line)["id"] for line in fh]
        assert gen.Checksum(len(ids), sum(ids)) == want


def test_tail_percentile_needs_ten_samples_beyond():
    assert spans.tail_percentile([float(x) for x in range(1, 101)]) == (90.0, 90.0)
    assert spans.tail_percentile([float(x) for x in range(1, 1001)]) == (99.0, 990.0)
    assert spans.tail_percentile([float(x) for x in range(1, 21)]) == (50.0, 10.0)
    assert spans.tail_percentile([float(x) for x in range(1, 20)]) is None
    # 10_010 samples: p99.9 has exactly ten beyond it
    assert spans.tail_percentile([float(x) for x in range(1, 10_011)])[0] == 99.9
    # order of the input does not matter
    assert spans.tail_percentile([float(x) for x in range(100, 0, -1)]) == (90.0, 90.0)


def _span(name, start, end, sid, parent=None):
    return spans.Span(name, start, end, sid, parent, "op")


def test_self_time_subtracts_the_union_of_children():
    root = _span("root", 0.0, 10.0, 0)
    kids = [
        _span("a", 1.0, 3.0, 1, 0),
        _span("b", 2.0, 5.0, 2, 0),  # overlaps a: union 1..5
        _span("c", 7.0, 8.0, 3, 0),
        _span("d", 9.5, 12.0, 4, 0),  # clipped to the parent's end
        _span("g", 1.5, 2.5, 5, 1),  # grandchild: already inside a
    ]
    all_spans = [root, *kids]
    assert spans.self_time(root, all_spans) == 10.0 - (4.0 + 1.0 + 0.5)
    assert spans.self_time(kids[0], all_spans) == 2.0 - 1.0
    assert spans.self_time(kids[2], all_spans) == 1.0


def test_covered_handles_touching_and_empty_intervals():
    assert spans.covered(0.0, 4.0, []) == 0.0
    assert spans.covered(0.0, 4.0, [(1.0, 2.0), (2.0, 3.0)]) == 2.0
    assert spans.covered(0.0, 4.0, [(5.0, 6.0), (-2.0, -1.0)]) == 0.0


def test_patch_records_nested_spans_and_restores():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    tracer = spans.Tracer()
    tracer.patch(mod, "inner", "inner")
    tracer.patch(mod, "outer", "outer")
    assert mod.outer(1) == 4
    assert tracer.spans == []  # disabled: no spans
    tracer.enabled = True
    tracer.op = "x"
    assert mod.outer(1) == 4
    inner, outer = tracer.op_spans("x")
    assert (inner.name, outer.name) == ("inner", "outer")
    assert inner.parent == outer.span_id and outer.parent is None
    assert spans.total_self(tracer.spans, "outer") <= outer.duration - inner.duration + 1e-9
    tracer.unpatch_all()
    assert not hasattr(mod.outer, "__wrapped__") and not hasattr(mod.inner, "__wrapped__")
