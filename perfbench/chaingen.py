"""Seeded Omni transaction stream in the engine's ``RAW_TX_SCHEMA``.

The chain is cut into sync batches of consecutive blocks.  The second
batch, and every ``REORG_EVERY``-th after it, is preceded by an
orphaned chain: different transactions at the first block heights of
that batch, which the true blocks then overwrite.

Every transaction type ``expand_deltas`` dispatches occurs, including
invalid transactions and the 185/186 freeze markers.  Senders and
receivers are drawn from a Zipf distribution over the address pool, so
a few exchange-like addresses carry most of the traffic.

Alongside the stream the generator keeps the expected supply of each
property — issued (50, 55, crowdsale tokens of -51) minus revoked (56)
minus burned (STO fees of 3) — which the engine's balances must add up
to: every other transaction type moves value without creating or
destroying it.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from omniengine_spark.pipeline import RAW_TX_SCHEMA

COIN = 10**8
FIRST_BLOCK = 800_000
TEST_ECOSYSTEM_FIRST = 2_147_483_651
EXODUS = "1EXoDusjGwvnjZUyKkxZ4UHEf77z6A5S4P"

# Traffic shape.  Every value below is an unverified assumption: the
# repository holds no measured Omni traffic (no tx-type shares, block
# sizes, address skew or reorg rate), and none is taken from a cited
# source.  Only the set of types is sourced: the types
# ``expand_deltas`` dispatches, as listed in FIXTURES.md.  The reorg
# rate is far above a real chain's on purpose, to run the overwrite
# path in every run; its orphan syncs are kept out of the headline
# metrics (see run.end_to_end).
#
# weights of the transaction types drawn after the genesis block
TYPE_WEIGHTS = {
    0: 34, 3: 3, 4: 3, 20: 5, 22: 4, -22: 4, 25: 6, 26: 1, 27: 1, 28: 1,
    50: 1, 51: 1, -51: 4, 53: 1, 54: 1, 55: 5, 56: 2, 70: 1, 73: 1, 74: 1,
    185: 1, 186: 1, 200: 3, 65533: 1, 65534: 1,
}
INVALID_SHARE = 0.04
BLOCKS_PER_BATCH = 4
TXS_PER_BLOCK = 40
# 5, not less: a run's four timed batches (2-5) then sync no orphan
REORG_EVERY = 5
ORPHAN_BLOCKS = 2
N_ADDRESSES = 3000
ZIPF_S = 1.1
FIELDS = [f.name for f in RAW_TX_SCHEMA.fields]


@dataclass
class Batch:
    """One sync batch: its block heights and, when a reorg precedes
    it, the orphaned blocks that land first."""

    heights: list[int]
    blocks: dict[int, list[dict]]
    orphan: dict[int, list[dict]] | None
    # expected supply change (property id → base units) of the batch
    supply: dict[int, int]

    @property
    def n_txs(self) -> int:
        return sum(len(b) for b in self.blocks.values())


class ChainGenerator:
    """The true chain and its orphans, one batch at a time."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self._rng = np.random.default_rng(seed)
        self.addresses = [_address(seed, i) for i in range(N_ADDRESSES)]
        ranks = np.arange(1, N_ADDRESSES + 1, dtype=np.float64)
        self._addr_cdf = np.cumsum(ranks ** -ZIPF_S)
        self._addr_cdf /= self._addr_cdf[-1]
        # property id → (divisible, issuer); OMNI and TOMNI pay STO fees
        self.props: dict[int, tuple[bool, str]] = {}
        self._next_pid = {False: 3, True: TEST_ECOSYSTEM_FIRST}
        self._next_height = FIRST_BLOCK
        self._batches = 0
        self._txn = 0
        self._types = np.array(list(TYPE_WEIGHTS), dtype=np.int64)
        self._type_cdf = np.cumsum(list(TYPE_WEIGHTS.values()), dtype=np.float64)
        self._type_cdf /= self._type_cdf[-1]

    # --- public -----------------------------------------------------
    def next_batch(self) -> Batch:
        """Generate the next batch of the true chain (and its orphans)."""
        supply: dict[int, int] = defaultdict(int)
        heights = list(
            range(self._next_height, self._next_height + BLOCKS_PER_BATCH)
        )
        self._next_height += BLOCKS_PER_BATCH
        orphan = None
        if self._batches % REORG_EVERY == 1:
            # the orphaned fork draws from the same generator but its
            # supply effects are discarded: they go to a throwaway dict
            orphan = {
                h: self._block(h, defaultdict(int))
                for h in heights[:ORPHAN_BLOCKS]
            }
        blocks = {}
        for h in heights:
            if h == FIRST_BLOCK:
                blocks[h] = self._genesis_block(h, supply)
            else:
                blocks[h] = self._block(h, supply)
        self._batches += 1
        return Batch(heights, blocks, orphan, dict(supply))

    # --- blocks -----------------------------------------------------
    def _genesis_block(self, height: int, supply) -> list[dict]:
        """OMNI/TOMNI plus a first set of fixed-issuance properties."""
        txs = []
        for pid in (1, 2):
            self.props[pid] = (True, EXODUS)
            amt = 5_000_000 * COIN
            txs.append(self._tx(height, len(txs), 50, EXODUS, None, pid, True,
                                amount=_fmt(amt, True)))
            supply[pid] += amt
        for _ in range(10):
            txs.append(self._issue(height, len(txs), supply, test=False))
        for _ in range(4):
            txs.append(self._issue(height, len(txs), supply, test=True))
        while len(txs) < TXS_PER_BLOCK:
            txs.append(self._draw(height, len(txs), supply))
        return txs

    def _block(self, height: int, supply) -> list[dict]:
        # every block carries at least one valid simple send, so each
        # block height yields delta rows (a reorg overwrites every
        # orphaned block partition)
        txs = [self._make(0, height, 0, supply)]
        while len(txs) < TXS_PER_BLOCK:
            txs.append(self._draw(height, len(txs), supply))
        return txs

    def _draw(self, height, pos, supply) -> dict:
        t = int(self._types[_draw_index(self._rng, self._type_cdf)])
        valid = self._rng.random() >= INVALID_SHARE
        tx = self._make(t, height, pos, supply if valid else defaultdict(int))
        tx["valid"] = valid
        return tx

    # --- helpers ----------------------------------------------------
    def _addr(self) -> str:
        return self.addresses[_draw_index(self._rng, self._addr_cdf)]

    def _pair(self) -> tuple[str, str]:
        a = self._addr()
        b = self._addr()
        while b == a:
            b = self._addr()
        return a, b

    def _pid(self) -> int:
        pids = [p for p in self.props if p > 2]
        return int(pids[int(self._rng.integers(len(pids)))])

    def _units(self, pid: int, hi_coins: int = 500) -> int:
        div = self.props[pid][0]
        if div:
            return int(self._rng.integers(1, hi_coins * COIN))
        return int(self._rng.integers(1, hi_coins))

    def _tx(self, height, pos, type_int, sender, ref, pid, divisible, **kw):
        self._txn += 1
        tx = dict.fromkeys(FIELDS)
        tx.update(
            txid=hashlib.sha256(f"{self.seed}:{self._txn}".encode()).hexdigest(),
            block=height,
            position_in_block=pos,
            type_int=type_int,
            valid=True,
            sending_address=sender,
            reference_address=ref,
            propertyid=pid,
            divisible=divisible,
        )
        tx.update(kw)
        return tx

    def _issue(self, height, pos, supply, test: bool) -> dict:
        pid = self._next_pid[test]
        self._next_pid[test] += 1
        div = bool(self._rng.random() < 0.6)
        issuer = self._addr()
        self.props[pid] = (div, issuer)
        amt = (10**6 * COIN) if div else 10**7
        supply[pid] += amt
        return self._tx(height, pos, 50, issuer, None, pid, div,
                        amount=_fmt(amt, div))

    def _make(self, t, height, pos, supply) -> dict:
        """One transaction of type ``t``; books its supply effect."""
        if t == 50:
            return self._issue(height, pos, supply,
                               test=bool(self._rng.random() < 0.2))
        pid = self._pid()
        div, issuer = self.props[pid]
        s, r = self._pair()
        amt = self._units(pid)
        A = lambda u, d=div: _fmt(u, d)  # noqa: E731
        if t == 0:
            return self._tx(height, pos, 0, s, r, pid, div, amount=A(amt))
        if t == 3:
            recips = [
                {"address": self._addr(), "amount": A(self._units(pid, 20))}
                for _ in range(int(self._rng.integers(2, 6)))
            ]
            fee_pid = 2 if pid >= TEST_ECOSYSTEM_FIRST else 1
            fee = int(self._rng.integers(1, COIN // 100))
            supply[fee_pid] -= fee
            return self._tx(height, pos, 3, s, None, pid, div,
                            recipients=recips, sto_fee=_fmt(fee, True))
        if t == 4:
            subs = []
            for q in {self._pid() for _ in range(int(self._rng.integers(1, 4)))}:
                subs.append({"propertyid": q, "divisible": self.props[q][0],
                             "amount": _fmt(self._units(q), self.props[q][0])})
            return self._tx(height, pos, 4, s, r, None, None, subsends=subs)
        if t == 20:
            sub = ["new", "update", "cancel"][int(self._rng.integers(3))]
            rem = A(self._units(pid, 50)) if sub != "new" else None
            return self._tx(height, pos, 20, s, None, pid, div, amount=A(amt),
                            subaction=sub, remainder=rem,
                            amount_desired=_fmt(self._units(1, 5), True),
                            time_limit=10)
        if t == 22:
            return self._tx(height, pos, 22, s, r, pid, div, amount=A(amt))
        if t == -22:
            purchases = [
                {"reference_address": self._addr(), "propertyid": pid,
                 "divisible": div, "amount_bought": A(self._units(pid, 50)),
                 "valid": bool(self._rng.random() < 0.8)}
                for _ in range(int(self._rng.integers(1, 3)))
            ]
            return self._tx(height, pos, -22, s, None, 1, True,
                            amount=_fmt(COIN, True), purchases=purchases)
        if t == 25:
            want = self._pid()
            wdiv = self.props[want][0]
            matches = [
                {"address": self._addr(),
                 "amount_sold": A(self._units(pid, 20)),
                 "amount_received": _fmt(self._units(want, 20), wdiv)}
                for _ in range(int(self._rng.integers(0, 3)))
            ]
            return self._tx(height, pos, 25, s, None, pid, div, amount=A(amt),
                            propertyid_desired=want, divisible_desired=wdiv,
                            matches=matches, amount_forsale=A(amt))
        if t in (26, 27, 28):
            cancels = [
                {"txid": hashlib.md5(f"{self.seed}:c{self._txn}:{i}".encode())
                 .hexdigest(), "propertyid": pid, "divisible": div,
                 "amount_unreserved": A(self._units(pid, 20))}
                for i in range(int(self._rng.integers(1, 3)))
            ]
            return self._tx(height, pos, t, s, None, pid, div,
                            cancellations=cancels)
        if t == -51:
            tok = self._pid()
            tdiv = self.props[tok][0]
            ptok = self._units(tok, 100)
            itok = int(self._rng.integers(0, 3)) * ptok // 10
            supply[tok] += ptok + itok
            return self._tx(height, pos, -51, s, self.props[tok][1], 1, True,
                            amount=_fmt(self._units(1, 5), True),
                            purchased_propertyid=tok, purchased_divisible=tdiv,
                            purchased_tokens=_fmt(ptok, tdiv),
                            issuer_tokens=_fmt(itok, tdiv))
        if t == 55:
            supply[pid] += amt
            grantee = r if self._rng.random() < 0.7 else None
            return self._tx(height, pos, 55, issuer, grantee, pid, div,
                            amount=A(amt))
        if t == 56:
            supply[pid] -= amt
            return self._tx(height, pos, 56, issuer, None, pid, div,
                            amount=A(amt))
        if t in (51, 53, 54, 70, 73, 74, 185, 186):
            return self._tx(height, pos, t, issuer, r, pid, div)
        if t == 200:
            return self._tx(height, pos, 200, s, r, pid, div)
        return self._tx(height, pos, t, s, None, pid, div)  # 65533/65534


def _draw_index(rng: np.random.Generator, cdf: np.ndarray) -> int:
    return min(int(np.searchsorted(cdf, rng.random(), side="right")),
               len(cdf) - 1)


def _address(seed: int, i: int) -> str:
    return "1" + hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()[:33]


def _fmt(units: int, divisible: bool) -> str:
    """Base units → the decoder's amount string."""
    if not divisible:
        return str(units)
    sign = "-" if units < 0 else ""
    u = abs(units)
    return f"{sign}{u // COIN}.{u % COIN:08d}"


def arrow_schema():
    """``RAW_TX_SCHEMA`` as an Arrow schema, for landing parquet files
    that Spark reads back with the engine's schema."""
    import pyarrow as pa
    from pyspark.sql import types as T

    def conv(dt):
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.BooleanType):
            return pa.bool_()
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        if isinstance(dt, T.StructType):
            return pa.struct([(f.name, conv(f.dataType)) for f in dt.fields])
        raise TypeError(f"no Arrow type for {dt}")

    return pa.schema([(f.name, conv(f.dataType)) for f in RAW_TX_SCHEMA.fields])


def land_block(directory: Path, height: int, txs: list[dict], schema) -> Path:
    """Write one block's transactions as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir(parents=True, exist_ok=True)
    path = directory / f"block-{height}.parquet"
    pq.write_table(pa.Table.from_pylist(txs, schema=schema), path)
    return path
