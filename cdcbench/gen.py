"""Seeded changelog segments for the CDC workloads (wal2json-v2 JSON lines).

The op mix is the reference load test's (tools/e2e_load.py): 60/30/10
INSERT/UPDATE/DELETE, two `orders` ops for every `accounts` op. Each
transaction is a Begin marker, its data rows and a Commit marker.

The *layout* of a segment (how many transactions, how many ops each, which
transaction straddles the boundary, which ones are redelivered) depends only
on the shape, never on the seed, so every seed does the same amount of work
per batch. The seed picks the values: action, table, keys and amounts.

Ordered-delivery contract: a transaction's Commit marker never lands in an
earlier segment than its data rows. A redelivered transaction repeats the
exact bytes of its first delivery (same ingest_seq, lsn and commit time), so
the sink's event_id dedup must drop it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

LSN_BASE = 1 << 24
# 2023-11-15 00:00:00 UTC: every commit time of a run falls in this one day,
# i.e. in the sink's single daily dedup bucket.
TS_BASE_MS = 1_700_006_400_000
TX_SPACING_MS = 7
BUCKET_S = 86400


@dataclass(frozen=True)
class Shape:
    """Segment layout of one workload."""

    short_txs: int  # complete transactions per segment
    ops_base: int  # ops of short tx i = ops_base + i % ops_spread
    ops_spread: int
    straddle_ops: int  # data ops of the tx open across each boundary (0: none)
    redelivered_txs: int  # short txs of the previous segment sent again

    def ops_of(self, i: int) -> int:
        return self.ops_base + i % self.ops_spread


SHAPES = {
    # ~500 ops: fixed per-batch cost dominates; carry-over and dedup-drop work.
    "cdc_tail": Shape(short_txs=50, ops_base=6, ops_spread=9, straddle_ops=48,
                      redelivered_txs=3),
    # ~100k ops of short transactions: per-row work is a large share.
    "cdc_backfill": Shape(short_txs=5000, ops_base=12, ops_spread=17,
                          straddle_ops=4, redelivered_txs=0),
}


@dataclass
class Segment:
    index: int
    data: bytes  # JSON lines, ingest order
    ops: int  # data rows (I/U/D), redeliveries included
    redelivered_ops: int
    commit_xids: list[int]  # xids whose Commit marker is in this segment
    open_xids: list[int]  # xids begun but not committed by the segment's end
    buckets: set[int] = field(default_factory=set)  # dedup buckets of its commits


def _ts(ms: int) -> str:
    t = datetime.fromtimestamp(ms // 1000, timezone.utc)
    return f"{t:%Y-%m-%dT%H:%M:%S}.{ms % 1000:03d}Z"


class Generator:
    """Yields segments 0, 1, 2, ... of one workload for one seed."""

    def __init__(self, shape: Shape, seed: int) -> None:
        self.shape = shape
        self.rng = random.Random(seed)
        self.seq = 0  # ingest_seq of the next line
        self.xid = 1000
        self.clock_ms = TS_BASE_MS
        self.index = 0
        self._prev_short: list[bytes] = []  # encoded short txs of the last segment
        self._prev_short_ops: list[int] = []
        self._open: int | None = None  # xid of the straddling tx
        self._prev_start_ms = TS_BASE_MS

    # -- line encoders (hand-rolled JSON; every value is plain ASCII) -----

    def _next(self) -> tuple[int, str]:
        seq = self.seq
        self.seq += 1
        return seq, f"0/{LSN_BASE + seq * 16:X}"

    def _marker(self, action: str, xid: int) -> str:
        seq, lsn = self._next()
        self.clock_ms += TX_SPACING_MS
        return (f'{{"ingest_seq":{seq},"lsn":"{lsn}","action":"{action}",'
                f'"xid":{xid},"timestamp":"{_ts(self.clock_ms)}"}}')

    def _op(self, xid: int) -> str:
        rng = self.rng
        seq, lsn = self._next()
        r = rng.random()
        action = "I" if r < 0.6 else ("U" if r < 0.9 else "D")
        key = rng.randrange(1, 1_000_000)
        if rng.random() < 2 / 3:
            table = "orders"
            cols = (f'{{"name":"id","type":"bigint","value":"{key}"}},'
                    f'{{"name":"account_id","type":"bigint","value":"{rng.randrange(1, 50_000)}"}},'
                    f'{{"name":"total_cents","type":"integer","value":"{rng.randrange(100, 1_000_000)}"}},'
                    f'{{"name":"status","type":"text","value":"{rng.choice(("new", "paid", "shipped"))}"}}')
        else:
            table = "accounts"
            cols = (f'{{"name":"id","type":"bigint","value":"{key}"}},'
                    f'{{"name":"email","type":"text","value":"u{key}@example.com"}},'
                    f'{{"name":"status","type":"text","value":"{rng.choice(("active", "closed"))}"}}')
        head = (f'{{"ingest_seq":{seq},"lsn":"{lsn}","action":"{action}","xid":{xid},'
                f'"schema":"public","table":"{table}"')
        ident = f'"identity":[{{"name":"id","type":"bigint","value":"{key}"}}]'
        if action == "I":
            return f'{head},"columns":[{cols}]}}'
        if action == "U":
            return f'{head},"columns":[{cols}],{ident}}}'
        return f'{head},{ident}}}'

    def _tx_lines(self, n_ops: int) -> tuple[int, list[str]]:
        xid = self.xid
        self.xid += 1
        lines = [self._marker("B", xid)]
        lines.extend(self._op(xid) for _ in range(n_ops))
        lines.append(self._marker("C", xid))
        return xid, lines

    # -- segments ------------------------------------------------------

    def next_segment(self) -> Segment:
        sh = self.shape
        out: list[bytes] = []
        commit_xids: list[int] = []
        ops = 0
        # 1. redeliveries first, as after a reconnect: byte-identical copies
        #    of short transactions already delivered in the last segment
        redelivered = 0
        if sh.redelivered_txs and self._prev_short:
            step = len(self._prev_short) // sh.redelivered_txs
            for j in range(sh.redelivered_txs):
                out.append(self._prev_short[j * step])
                redelivered += self._prev_short_ops[j * step]
        ops += redelivered
        # 2. the tail of the transaction that straddles the boundary
        first_ms = self.clock_ms
        if self._open is not None:
            xid = self._open
            tail = [self._op(xid) for _ in range(sh.straddle_ops - sh.straddle_ops // 2)]
            tail.append(self._marker("C", xid))
            out.append(("\n".join(tail) + "\n").encode())
            commit_xids.append(xid)
            ops += sh.straddle_ops - sh.straddle_ops // 2
            self._open = None
        # 3. short transactions; the next straddling tx opens halfway through
        shorts: list[bytes] = []
        short_ops: list[int] = []
        for i in range(sh.short_txs):
            if sh.straddle_ops and i == sh.short_txs // 2:
                xid = self.xid
                self.xid += 1
                head = [self._marker("B", xid)]
                head.extend(self._op(xid) for _ in range(sh.straddle_ops // 2))
                out.append(("\n".join(head) + "\n").encode())
                ops += sh.straddle_ops // 2
                self._open = xid
            n = sh.ops_of(i)
            xid, lines = self._tx_lines(n)
            blob = ("\n".join(lines) + "\n").encode()
            out.append(blob)
            shorts.append(blob)
            short_ops.append(n)
            commit_xids.append(xid)
            ops += n
        self._prev_short, self._prev_short_ops = shorts, short_ops
        seg = Segment(
            index=self.index,
            data=b"".join(out),
            ops=ops,
            redelivered_ops=redelivered,
            commit_xids=commit_xids,
            open_xids=[self._open] if self._open is not None else [],
            # commit times run from the redelivered txs (previous segment)
            # to this segment's last marker
            buckets=set(range(self._prev_start_ms // 1000 // BUCKET_S,
                              self.clock_ms // 1000 // BUCKET_S + 1)),
        )
        self._prev_start_ms = first_ms
        self.index += 1
        return seg
