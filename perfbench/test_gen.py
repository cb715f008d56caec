"""Determinism of the benchmark's inputs and the span arithmetic.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import csv
import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from tracing import Tracer  # noqa: E402


def _tree_hash(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind,size", [("medallion", 40), ("star", 0.001)])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind, size):
    a, _ = gen.cached(str(tmp_path / "a"), kind, 3, size)
    b, _ = gen.cached(str(tmp_path / "b"), kind, 3, size)
    c, _ = gen.cached(str(tmp_path / "c"), kind, 4, size)
    assert _tree_hash(a) == _tree_hash(b)
    assert _tree_hash(a) != _tree_hash(c)


def test_increment_chunks_and_query_order_follow_the_seed():
    assert gen.increment_chunk(1, 2, 100, 500, 50) == gen.increment_chunk(1, 2, 100, 500, 50)
    assert gen.increment_chunk(1, 2, 100, 500, 50) != gen.increment_chunk(2, 2, 100, 500, 50)
    assert gen.increment_chunk(1, 2, 100, 500, 50) != gen.increment_chunk(1, 3, 100, 500, 50)
    assert gen.query_passes(5, 3) == gen.query_passes(5, 3)
    assert gen.query_passes(5, 3) != gen.query_passes(6, 3)


def test_query_pass_keeps_the_mix():
    (order,) = gen.query_passes(9, 1)
    assert sorted(order) == sorted(gen.QUERY_PASS)
    events = [q for q in order if q.startswith("events_")]
    curation = [q for q in order if q.split("_")[0] in ("text", "dedup", "similarity")]
    assert (len(order), len(events), len(curation)) == (20, 3, 3)


def test_medallion_drop_has_the_reference_quirks(tmp_path):
    d, m = gen.cached(str(tmp_path), "medallion", 11, 400)
    with open(os.path.join(d, "bands.csv")) as f:
        bands = list(csv.reader(f))
    with open(os.path.join(d, "reviews.csv")) as f:
        reviews = list(csv.reader(f))
    assert bands[0] == gen.BANDS_HEADER
    assert any(r[1] == "None" for r in bands[1:]) and any(r[6] == "N/A" for r in bands[1:])
    assert {"Brazil", "brazil", " Brasil "} <= {r[2] for r in bands[1:]}
    body = reviews[1:]
    assert sum(r == gen.REVIEWS_HEADER for r in body) == m["header_rows"] > 0
    assert any("|" in r[4] for r in body)
    rows = [tuple(r) for r in body if r != gen.REVIEWS_HEADER]
    assert len(set(rows)) == m["distinct_reviews"] == 20 * 400
    assert len(rows) - len(set(rows)) == m["duplicate_rows"] > 0
    # Zipf-like skew: the hottest album holds far more than the mean.
    per_album: dict[str, int] = {}
    for r in set(rows):
        per_album[r[1]] = per_album.get(r[1], 0) + 1
    assert max(per_album.values()) > 10 * (len(rows) / len(per_album))


def test_increment_chunk_corrupt_lines_are_excluded_from_ids():
    text, ids = gen.increment_chunk(1, 1, 1, 2000, 50)
    lines = text.splitlines()[1:]
    short = [ln for ln in lines if ln.count(",") == 1]
    assert len(short) + len(ids) == 2000 and short
    assert all(int(ln.split(",")[0]) not in set(ids) for ln in short)


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("op", "op-1"):
        with t.span("child"):
            pass
    parent, child = t.spans
    assert child.op_id == "op-1" and child.parent == 0
    selfs = t.self_times()
    assert selfs["op"][0] == pytest.approx((parent.end - parent.start) - (child.end - child.start))
