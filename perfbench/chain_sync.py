"""``chain_sync``: the write path, the reference's block-sync loop.

A seeded Omni transaction stream (``perfbench.chaingen``) lands one
parquet file per block.  Closed loop, one batch of blocks at a time:
read the batch → ``stamp_serials_distributed`` (serials offset to
continue across batches) → ``expand_deltas`` → ``write_partitioned``
into the delta warehouse (partitioned by block) → balance refresh with
``build_full_balances`` over the whole warehouse → ``per_block_consensus``
for the batch's blocks.  Every few batches an orphaned fork lands first
and the true blocks then overwrite its block partitions (a reorg).

Checks, outside the timed region: the final balances and every
block's consensus hash equal a one-shot rebuild over the whole true
stream, and each property's supply (available + reserved + frozen)
equals the generator's issued − revoked − burned.
"""

from __future__ import annotations

import time
from collections import defaultdict
from pathlib import Path

from perfbench.chaingen import ChainGenerator, arrow_schema, land_block

# warm-up syncs the chain's first batches; the second is preceded by
# an orphaned fork (chaingen.REORG_EVERY), so every run reorgs
WARMUP_BATCHES = 2
MIN_BATCHES = 4
BAL_COLS = ["address", "propertyid", "available", "reserved", "accepted",
            "frozen"]


class ChainSync:
    item = "transactions"

    def __init__(self, work: Path, seed: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.wh = work / "warehouse"
        self.schema = None
        self.gen: ChainGenerator | None = None
        self.base = 0  # serials of the transactions synced so far
        self.consensus: dict[int, int] = {}
        self.true_files: list[str] = []
        self.supply: dict[int, int] = defaultdict(int)
        self.traced_txs = 0  # transactions in the traced syncs

    def prepare(self) -> None:
        self.schema = arrow_schema()
        self.gen = ChainGenerator(seed=self.seed)

    def instrument(self, spark) -> None:
        pass

    # --- one sync batch ---------------------------------------------
    def _sync(self, spark, wh: Path, files: list[str], heights: list[int],
              base_serial: int) -> dict[int, int]:
        from pyspark.sql import functions as F

        from omniengine_spark.operators.reconcile import per_block_consensus
        from omniengine_spark.pipeline import (
            RAW_TX_SCHEMA,
            build_full_balances,
            expand_deltas,
            stamp_serials_distributed,
        )
        from omniengine_spark.sources.sinks import (
            read_warehouse,
            write_partitioned,
        )

        tr = self.tracer
        with tr.span("pipeline.batch", blocks=len(heights)):
            with tr.span("pipeline.plan_build"):
                txs = spark.read.schema(RAW_TX_SCHEMA).parquet(*files)
                stamped = stamp_serials_distributed(txs).withColumn(
                    "serial", F.col("serial") + F.lit(base_serial)
                )
                deltas = expand_deltas(stamped)
            with tr.span("sources.write") as w:
                write_partitioned(deltas, str(wh / "deltas"), ["block"])
            if w is not None:
                w.attrs["files"] = sum(
                    1 for h in heights
                    for _ in (wh / "deltas" / f"block={h}").glob("*.parquet")
                )
            with tr.span("pipeline.balances"):
                history = read_warehouse(spark, str(wh / "deltas"))
                write_partitioned(
                    build_full_balances(history), str(wh / "balances"), []
                )
            with tr.span("operators.consensus"):
                rows = per_block_consensus(
                    history.select(
                        "address", "propertyid", "block",
                        F.col("delta_base_units").alias("delta"),
                    )
                ).filter(F.col("block") >= min(heights)).collect()
        return {r["block"]: r["consensus_hash"] for r in rows}

    def _land(self, directory: Path, blocks: dict[int, list[dict]]) -> list[str]:
        return [str(land_block(directory, h, txs, self.schema))
                for h, txs in sorted(blocks.items())]

    def _next_syncs(self) -> list[tuple[str, list[int], list[str], int]]:
        """Land the next batch of the chain and return its syncs as
        (kind, heights, files, transactions): the orphaned fork first,
        when one precedes the batch, then the true blocks, which
        overwrite it, so the warehouse never ends on the wrong chain."""
        b = self.gen.next_batch()
        true_files = self._land(self.work / "landing", b.blocks)
        syncs = []
        if b.orphan:
            heights = sorted(b.orphan)
            syncs.append(("orphan", heights, self._land(
                self.work / f"orphan-{b.heights[0]}", b.orphan),
                sum(len(b.orphan[h]) for h in heights)))
        syncs.append(("batch", b.heights, true_files, b.n_txs))
        self.true_files += true_files
        for pid, v in b.supply.items():
            self.supply[pid] += v
        return syncs

    def warmup(self, spark) -> None:
        """Sync the first batches of the run's own chain, the reorg
        that precedes the second batch included.  The first sync
        compiles everything; syncs keep getting faster over the next
        two (measured on 4 cores: 25 s, then 5.3 s and 5.2 s, then
        3.7-4.0 s), so the timed batches start on a warm JVM and the
        first of them is no longer 25-30 % slower than the rest, which
        moved the median with the batch count.  The freeze markers of the
        genesis batch start the Python workers of the ordered
        replay."""
        for _ in range(WARMUP_BATCHES):
            for _kind, heights, files, n_tx in self._next_syncs():
                self.consensus.update(
                    self._sync(spark, self.wh, files, heights, self.base))
            self.base += n_tx

    def run(self, spark, seconds: float, traced_op) -> list[dict]:
        ops = []
        end = time.perf_counter() + seconds
        # at least MIN_BATCHES regular batches: with three, over ten
        # seeds items_per_s spread 0.16 of its median
        batches = 0
        while time.perf_counter() < end or batches < MIN_BATCHES:
            for kind, heights, files, n_tx in self._next_syncs():
                traced = traced_op.next(kind)
                with traced_op(traced):
                    t0 = time.perf_counter()
                    try:
                        hashes = self._sync(spark, self.wh, files, heights,
                                            self.base)
                        err = None
                    except Exception as e:  # noqa: BLE001 — counted as failed
                        hashes, err = {}, f"{type(e).__name__}: {e}"[:300]
                    lat = time.perf_counter() - t0
                self.consensus.update(hashes)
                ops.append({"kind": kind, "latency_s": lat, "items": n_tx,
                            "ok": err is None, "error": err,
                            "traced": traced, "headline": kind == "batch"})
                if traced:
                    self.traced_txs += n_tx
            # the last sync of a batch is its true blocks
            self.base += n_tx
            batches += 1
        return ops

    def check(self, spark, ops: list[dict]) -> dict[str, str]:
        """Incremental state vs a one-shot rebuild and the generator's
        supply; check name → problem.  Every batch built the final
        state, so a problem fails them all."""
        from pyspark.sql import functions as F

        from omniengine_spark.operators.reconcile import per_block_consensus
        from omniengine_spark.pipeline import (
            RAW_TX_SCHEMA,
            build_full_balances,
            expand_deltas,
            stamp_serials_distributed,
        )

        problems = {}
        got = _rows(spark.read.parquet(str(self.wh / "balances")))
        deltas = expand_deltas(stamp_serials_distributed(
            spark.read.schema(RAW_TX_SCHEMA).parquet(*self.true_files)))
        want = _rows(build_full_balances(deltas))
        if got != want:
            problems["balances"] = (
                f"{len(set(got) ^ set(want))} rows differ from the one-shot "
                f"rebuild ({len(got)} vs {len(want)} rows)")
        cons = per_block_consensus(deltas.select(
            "address", "propertyid", "block",
            F.col("delta_base_units").alias("delta"))).collect()
        want_cons = {r["block"]: r["consensus_hash"] for r in cons}
        if want_cons != self.consensus:
            bad = [h for h in want_cons if want_cons[h] != self.consensus.get(h)]
            problems["consensus"] = f"{len(bad)} block hashes differ"
        supply = defaultdict(int)
        for r in got:
            supply[r[1]] += r[2] + r[3] + r[5]
        bad = {p for p in set(supply) | set(self.supply)
               if supply.get(p, 0) != self.supply.get(p, 0)}
        if bad:
            problems["supply"] = f"{len(bad)} properties off, e.g. {sorted(bad)[:3]}"
        if problems:
            for o in ops:
                o["ok"] = False
        return problems

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        tr = self.tracer
        batches = [s for s in tr.spans if s.name == "pipeline.batch"
                   and not tr.is_under_layer(s, "session")]
        mine = tr.subtree(batches)
        n = max(1, len(batches))

        def spans(name):
            return [s for s in mine if s.name == name]

        def jobsum(name, key):
            return sum(j[key] for s in spans(name) for j in s.jobs)

        new_deltas = jobsum("sources.write", "output_records")
        txs = self.traced_txs
        return {
            "pipeline.plan_build_s": sum(
                s.duration for s in spans("pipeline.plan_build")) / n,
            "pipeline.balances_s": sum(
                s.duration for s in spans("pipeline.balances")) / n,
            "pipeline.deltas_per_tx": new_deltas / txs if txs else 0.0,
            # one row per key out of the ordered replay (MapInPandas)
            "pipeline.replay_keys": jobsum(
                "pipeline.balances", "pandas_rows") / n,
            "pipeline.rows_folded_per_new_delta": (
                jobsum("pipeline.balances", "input_records") / new_deltas
                if new_deltas else 0.0),
            "operators.consensus_s": sum(
                s.duration for s in spans("operators.consensus")) / n,
            "sources.write_s": sum(s.duration for s in spans("sources.write")) / n,
            "sources.write_bytes": jobsum("sources.write", "output_bytes") / n,
            "sources.files_written": sum(
                s.attrs.get("files", 0) for s in spans("sources.write")) / n,
            "sources.scan_bytes": sum(
                j["input_bytes"] for s in mine for j in s.jobs) / n,
            "sources.scan_records": sum(
                j["input_records"] for s in mine for j in s.jobs) / n,
        }


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.select(*BAL_COLS).collect()), key=repr)
