"""Tests of the benchmark's own logic: the tail-percentile rule, span
self-time arithmetic, and generator determinism. No Spark session needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
from spans import Span, Tracer, covered, percentile, self_time, tail_percentile  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (39, None), (40, 75.0), (50, 80.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_leaves_at_least_ten_samples_above():
    for n in range(1, 3000, 7):
        p = tail_percentile(n)
        if p is None:
            continue
        values = list(range(n))
        v = percentile(values, p)
        assert sum(1 for x in values if x > v) >= 10


def test_percentile_nearest_rank():
    values = [5, 1, 4, 2, 3]
    assert percentile(values, 50) == 3
    assert percentile(values, 80) == 4
    assert percentile(values, 100) == 5
    assert percentile(values, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_union_of_children():
    parent = Span("op", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 4.0), Span("c", 6.0, 7.0)]
    # children cover [1, 4] and [6, 7]: 4 of the 10 seconds
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent():
    parent = Span("op", 2.0, 5.0)
    kids = [Span("early", 0.0, 3.0), Span("late", 4.5, 9.0)]
    assert self_time(parent, kids) == pytest.approx(1.5)
    assert covered(2.0, 5.0, []) == 0.0
    assert covered(0.0, 1.0, [(2.0, 3.0)]) == 0.0


def test_tracer_parents_nested_spans():
    tr = Tracer()
    outer = tr.open("op")
    inner = tr.open("read")
    tr.close(inner)
    sibling = tr.open("write")
    tr.close(sibling)
    tr.close(outer)
    assert outer.parent is None
    assert inner.parent == outer.sid and sibling.parent == outer.sid
    assert tr.children(outer) == [inner, sibling]
    assert 0.0 <= self_time(outer, tr.children(outer)) <= outer.duration


def test_event_schedule_is_deterministic_and_well_formed():
    a = gen.event_schedule(7, 3)
    b = gen.event_schedule(7, 3)
    assert [(e.kind, e.sub.name, e.sub.data) for e in a] == [(e.kind, e.sub.name, e.sub.data) for e in b]
    assert gen.digest([e.sub for e in a]) != gen.digest([e.sub for e in gen.event_schedule(8, 3)])
    kinds = [e.kind for e in a]
    assert sorted(kinds) == sorted(gen.EVENT_BLOCK * 3)
    live: set[str] = set()
    for e in a:  # re-uploads and deletes only ever target a live output
        if e.kind == "create":
            live.add(e.sub.name)
        elif e.kind == "reupload":
            assert e.sub.name in live
        elif e.kind == "delete":
            assert e.sub.name in live
            live.remove(e.sub.name)
        else:
            assert e.kind == "unsupported" and e.sub.name.endswith(".txt")


def test_every_seed_does_the_same_work_per_block():
    def block_rows(seed):
        events = gen.event_schedule(seed, 2)
        return [sorted((e.kind, e.sub.rows) for e in events[i:i + 10] if e.kind != "delete") for i in (0, 10)]

    want = block_rows(1)
    assert want[0] == want[1]
    for seed in (2, 3, 99):
        assert block_rows(seed) == want
    assert min(n for _, n in want[0] if n) == 23
    assert max(n for _, n in want[0]) == gen.FULL_SUBMISSION_ROWS


def test_generated_files_are_byte_identical_per_seed(tmp_path):
    for root in (tmp_path / "a", tmp_path / "b"):
        gen.write_hub(str(root))
        for s in gen.backfill_submissions(3, (23, 50, 80)):
            (root / "raw" / s.name).write_bytes(s.data)
    names = sorted(p.name for p in (tmp_path / "a" / "raw").iterdir())
    assert len(names) == 3
    for rel in ["hub-config/tasks.json"] + [f"raw/{n}" for n in names]:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes()
    p1 = gen.parquet_submission(random.Random(9), gen.ROUNDS[1], "m", 40)
    p2 = gen.parquet_submission(random.Random(9), gen.ROUNDS[1], "m", 40)
    assert p1.data == p2.data
    assert pq.read_table(pa.BufferReader(p1.data)).num_rows == p1.rows
    assert pq.read_table(pa.BufferReader(p1.data)).column("value").null_count == p1.nulls["value"]


def test_truth_matches_the_generated_csv():
    sub = gen.csv_submission(random.Random(11), gen.ROUNDS[2], "team-x", 300, provenance=True)
    text = sub.data.decode().splitlines()
    header = [h.strip('"') for h in text[0].split(",")]
    assert header[-2:] == ["round_id", "model_id"]
    assert len(text) - 1 == sub.rows
    tokens = {f'"{t}"' for t in gen.NULL_TOKENS} | set(gen.NULL_TOKENS)
    for col in ("location", "value"):
        i = header.index(col)
        assert sum(1 for line in text[1:] if line.split(",")[i] in tokens) == sub.nulls[col]
    assert sub.nulls["round_id"] == 0 and sub.round_id == gen.ROUNDS[2]
