#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload chain_sync --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  The line before it carries the workload's own
figures (sample counts, the tail percentile the sample supports,
error rate) for people reading the log.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402
from perfbench.stats import percentile, summarize  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

WORKLOADS = ("chain_sync", "wallet_api")


class OpTracing:
    """Which operations a run traces.  A traced run traces every other
    operation of each kind, the first one included, and leaves the
    rest untraced, so the two halves of one run give the tracing
    overhead."""

    def __init__(self, tracer: Tracer, trace: bool) -> None:
        self.tracer = tracer
        self.trace = trace
        self._seen: Counter[str] = Counter()

    def next(self, kind: str) -> bool:
        """Whether the next operation of ``kind`` is traced."""
        n = self._seen[kind]
        self._seen[kind] += 1
        return self.trace and n % 2 == 0

    @contextmanager
    def __call__(self, traced: bool):
        self.tracer.enabled = traced
        try:
            yield
        finally:
            self.tracer.enabled = self.trace


def program_present() -> str | None:
    """Why the engine cannot be benchmarked here, or None."""
    for rel in ("omniengine_spark/__init__.py", "tools/gen_testdata.py",
                "tools/driver_sim.py"):
        if not (harness.ROOT / rel).is_file():
            return f"missing {rel}: run from the root of a checkout"
    return None


def make_workload(name: str, work: Path, seed: int, tracer: Tracer):
    if name == "chain_sync":
        from perfbench.chain_sync import ChainSync

        return ChainSync(work, seed, tracer)
    from perfbench.wallet_api import WalletApi

    return WalletApi(work, seed, tracer)


def end_to_end(ops: list[dict], setup_s: float, peak_rss: int) -> dict:
    """Latency and throughput over the headline operations, failed ones
    included: a failed one took its time too, and ``failed`` reports
    it.  (``chain_sync``'s orphan syncs are not headline operations.)"""
    head = [o for o in ops if o["headline"]]
    busy = sum(o["latency_s"] for o in head)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {
            "value": percentile([o["latency_s"] * 1000 for o in head], 50),
            "unit": "ms"},
        "items_per_s": {
            "value": sum(o["items"] for o in head) / busy, "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def tracing_overhead_pct(ops: list[dict]) -> float:
    """Traced vs untraced operations of the same kind: the count-weighted
    ratio of their medians, as a percentage above 1."""
    kinds = {o["kind"] for o in ops}
    num = den = 0.0
    for k in kinds:
        on = [o["latency_s"] for o in ops if o["kind"] == k and o["traced"]]
        off = [o["latency_s"] for o in ops if o["kind"] == k and not o["traced"]]
        if on and off:
            w = len(on) + len(off)
            num += w * percentile(on, 50)
            den += w * percentile(off, 50)
    return 100.0 * (num / den - 1.0) if den else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    why = program_present()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    work = harness.WORK_ROOT / f"p{os.getpid()}"
    harness.isolate(work)
    tracer = Tracer(enabled=bool(args.trace))
    optr = OpTracing(tracer, bool(args.trace))
    engine = harness.Engine(work)
    rss = harness.RssSampler()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        wl = make_workload(args.workload, work, args.seed, tracer)
        wl.prepare()

        phases["prepare_s"] = time.perf_counter() - t_start

        # --- set-up: engine import, session start, warm-up ------------
        t0 = time.perf_counter()
        import omniengine_spark.plans  # noqa: F401 — registers every plan

        with tracer.span("session.start"):
            spark = engine.start()
        tracer.bind(spark)
        if args.trace:
            wl.instrument(spark)
        rss.start(engine.jvm_pid())
        with tracer.span("session.warmup"):
            wl.warmup(spark)
        setup_s = time.perf_counter() - t0

        # --- timed region ---------------------------------------------
        t1 = time.perf_counter()
        ops = wl.run(spark, args.seconds, optr)
        phases["run_s"] = time.perf_counter() - t1

        # --- checks and trace collection, untimed ---------------------
        t2 = time.perf_counter()
        tracer.enabled = bool(args.trace)
        problems = wl.check(spark, ops)
        tracer.harvest(spark)
        rss.stop()
        phases["check_s"] = time.perf_counter() - t2
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        t3 = time.perf_counter()
        _teardown(engine, rss, work)
        phases["teardown_s"] = time.perf_counter() - t3

    if not any(o["headline"] for o in ops):
        print("perfbench: no operation finished in the run", file=sys.stderr)
        return 1
    failed = sum(1 for o in ops if not o["ok"])
    for name, msg in problems.items():
        print(f"perfbench: check {name} failed: {msg}", file=sys.stderr)
    for o in ops:
        if o["error"]:
            print(f"perfbench: {o['kind']} failed: {o['error']}", file=sys.stderr)

    detail = {
        "workload": args.workload, "seed": args.seed,
        "item": wl.item, "setup_s": setup_s, "phases": phases,
        "peak_rss_mb": rss.breakdown_mb(),
        "error_rate": failed / len(ops),
        "latency": summarize([o["latency_s"] for o in ops]),
        "latencies_ms": [round(o["latency_s"] * 1000, 1) for o in ops],
        "by_kind": {
            k: summarize([o["latency_s"] for o in ops if o["kind"] == k])
            for k in sorted({o["kind"] for o in ops})},
        "checks": problems or "ok",
    }
    if args.trace:
        metrics = layer_metrics(wl, tracer, ops)
        harness.TRACE_DIR.mkdir(exist_ok=True)
        tracer.dump(harness.TRACE_DIR / f"{args.workload}-seed{args.seed}.json")
    else:
        metrics = end_to_end(ops, setup_s, rss.peak_bytes)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(wl, tracer: Tracer, ops: list[dict]) -> dict:
    from perfbench.spec import per_layer_names

    traced = sum(1 for o in ops if o["traced"])
    session = [s for s in tracer.spans if s.layer == "session"
               and s.parent is None]
    out = {
        "session.start_s": sum(s.duration for s in session
                               if s.name == "session.start"),
        "session.warmup_s": sum(s.duration for s in session
                                if s.name == "session.warmup"),
        "trace.overhead_pct": tracing_overhead_pct(ops),
        "trace.spans": float(len(tracer.spans)),
    }
    out.update(wl.layer_metrics(ops))
    for k, v in tracer.layer_counters(harness.cores()).items():
        # per operation, except the one-off set-up layer
        if not k.endswith(".cpu_util") and not k.startswith("session."):
            v /= max(1, traced)
        out[k] = v
    units = per_layer_names()
    return {k: {"value": float(out.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def _teardown(engine, rss, work: Path) -> None:
    rss.stop()
    try:
        engine.shutdown()
    except Exception:  # noqa: BLE001 — fall back to killing the JVM
        traceback.print_exc()
    harness.stop_children()
    harness.remove_run_files(work)


if __name__ == "__main__":
    sys.exit(main())
