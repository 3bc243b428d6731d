"""Generator tests: python3 -m pytest cdcbench/test_gen.py -q (from the repo root)."""

from __future__ import annotations

import json

import pytest

from cdcbench.gen import SHAPES, Generator

N_SEGMENTS = 4


def _segments(workload: str, seed: int, n: int = N_SEGMENTS):
    g = Generator(SHAPES[workload], seed)
    return [g.next_segment() for _ in range(n)]


def _rows(seg):
    return [json.loads(line) for line in seg.data.decode().splitlines()]


def _layout(seg):
    """Everything about a segment except the seeded values."""
    return (seg.ops, seg.redelivered_ops, seg.commit_xids, seg.open_xids,
            [(r["ingest_seq"], r["xid"], r["action"] in "BC") for r in _rows(seg)])


@pytest.mark.parametrize("workload", sorted(SHAPES))
def test_same_seed_same_bytes(workload):
    a = _segments(workload, 7, 2)
    b = _segments(workload, 7, 2)
    assert [s.data for s in a] == [s.data for s in b]
    assert _segments(workload, 8, 1)[0].data != a[0].data


@pytest.mark.parametrize("workload", sorted(SHAPES))
def test_layout_does_not_depend_on_seed(workload):
    a = _segments(workload, 1, 3)
    b = _segments(workload, 2, 3)
    assert [_layout(s) for s in a] == [_layout(s) for s in b]


@pytest.mark.parametrize("workload", sorted(SHAPES))
def test_commit_never_precedes_its_data(workload):
    first_data: dict[int, int] = {}
    commit_at: dict[int, int] = {}
    for seg in _segments(workload, 3):
        for r in _rows(seg):
            if r["action"] == "C":
                commit_at.setdefault(r["xid"], seg.index)
            elif r["action"] != "B":
                first_data.setdefault(r["xid"], seg.index)
                # data of a committed tx may come again only as a redelivery
                assert r["xid"] not in commit_at or commit_at[r["xid"]] < seg.index
    for xid, seg_idx in first_data.items():
        if xid in commit_at:
            assert commit_at[xid] >= seg_idx


def test_redelivery_is_byte_identical():
    segs = _segments("cdc_tail", 5)
    lines = [dict() for _ in segs]
    for seg, d in zip(segs, lines):
        for raw in seg.data.splitlines():
            d.setdefault(json.loads(raw)["ingest_seq"], []).append(raw)
    redelivered = 0
    for k in range(1, len(segs)):
        for seq, raws in lines[k].items():
            if seq in lines[k - 1]:
                assert raws == lines[k - 1][seq]
                redelivered += 1
    data_redelivered = sum(s.redelivered_ops for s in segs)
    assert data_redelivered > 0
    # B and C markers come along with each redelivered tx's data rows
    assert redelivered == data_redelivered + 2 * SHAPES["cdc_tail"].redelivered_txs * (len(segs) - 1)


def test_straddling_tx_carries_over():
    segs = _segments("cdc_tail", 9, 2)
    opened = segs[0].open_xids
    assert opened and opened[0] in segs[1].commit_xids
    ops_s0 = {r["xid"] for r in _rows(segs[0]) if r["action"] not in "BC"}
    assert opened[0] in ops_s0
