"""``wallet_api``: the Omniwallet user's read path.

One client, closed loop: each request is one registered plan (six
serving plans and one streaming live view), built and collected (``QUERIES[name](spark, dir).collect()``), and the
next request is sent when the previous one returns.  The plan sequence
is a seeded shuffle of decks holding each plan once.  Inputs are a seeded
``tools/gen_testdata.gen`` directory at the smallest scale factor, so
planning, job launch and scan set-up dominate each request, as they do
for point lookups.

Checks: every timed request must return the rows its plan returned in
warm-up, and those rows must match the plan's DuckDB oracle from
``__spark_entry__.oracle_sql()``; both run outside the timed region,
and a plan that fails the oracle fails all of its requests.
"""

from __future__ import annotations

import contextlib
import random
import sys
import time
from collections.abc import Iterator
from pathlib import Path

from perfbench.harness import import_tool
from perfbench.tracing import stream_metrics

# request mix (requests per deck).  The repository holds no measured
# Omniwallet request log, so no plan is weighted above another: each
# runs once per deck of 7, and a run of 7 or more requests sends all
# of them.  The stream request is the live view: a Structured Streaming
# query (watermark and window state) drained over the events table,
# the one request that reaches the engine's ``streaming`` layer.
MIX = {
    "serve_address_portfolio": 1,
    "serve_address_tx_history": 1,
    "serve_wallet_balances": 1,
    "serve_property_holders": 1,
    "serve_cached_rates": 1,
    "x3b_pending_union": 1,
    "x1_stream_hourly_counts": 1,
}
SF = 0.001
WARMUP_PASSES = 1
MIN_DECKS = 2
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def request_sequence(seed: int) -> Iterator[str]:
    """Seeded endless order of requests: consecutive shuffled decks that
    each hold the mix exactly, so every run, however short, sends nearly
    the same mix."""
    rng = random.Random(seed)
    deck = [name for name, k in MIX.items() for _ in range(k)]
    while True:
        rng.shuffle(deck)
        yield from deck


def headline_whole_decks(ops: list[dict]) -> None:
    """Leave the requests after the last whole deck out of the headline
    metrics (they still count as attempted): the headline then holds
    every plan equally often in every run, and the plans differ several
    times over in cost, so a part-deck that the deadline cut at a
    seeded point would move the median from seed to seed."""
    deck = sum(MIX.values())
    for o in ops[len(ops) // deck * deck:]:
        o["headline"] = False


def generate_inputs(data: Path, seed: int) -> None:
    # the generator reports each table on stdout, which carries the result
    with contextlib.redirect_stdout(sys.stderr):
        import_tool("gen_testdata").gen(SF, data, seed=seed)


def canonical(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


class WalletApi:
    item = "requests"

    def __init__(self, work: Path, seed: int, tracer) -> None:
        self.data = work / "data"
        self.seed = seed
        self.tracer = tracer
        self.reference: dict[str, list[tuple]] = {}
        self.schemas = {}
        self.rows_returned = 0
        self.progress = None  # traced runs: StreamProgress listener
        self.run_start = 0.0  # epoch seconds, start of the timed region

    def prepare(self) -> None:
        generate_inputs(self.data, self.seed)

    def instrument(self, spark) -> None:
        """Traced runs: wrap the engine's table loads, versioned commits
        and streaming drains, which the plans call internally, in
        spans, and record every streaming micro-batch's progress."""
        from perfbench.tracing import StreamProgress

        import omniengine_spark
        from omniengine_spark.sources import catalog, versioned
        from omniengine_spark.streaming import jobs

        wrap_everywhere(omniengine_spark, catalog.load_table,
                        self.tracer, "sources.load_table")
        wrap_everywhere(omniengine_spark, versioned.commit,
                        self.tracer, "sources.commit")
        wrap_everywhere(omniengine_spark, jobs.run_available_now,
                        self.tracer, "streaming.drain")
        self.progress = StreamProgress()
        spark.streams.addListener(self.progress)

    def warmup(self, spark) -> None:
        """Run every plan ``WARMUP_PASSES`` times: the first call fills
        the engine's construction memos and compiles; on 4 cores the
        second call of a plan is already within ~10 % of later ones.
        Records each plan's rows."""
        for _ in range(WARMUP_PASSES):
            for name in MIX:
                rows, _, self.schemas[name] = self._request(spark, name)
                self.reference[name] = canonical(rows)

    def _request(self, spark, name: str):
        from omniengine_spark.plans import QUERIES

        tr = self.tracer
        with tr.span("plans.request", plan=name):
            with tr.span("plans.build"):
                df = QUERIES[name](spark, str(self.data))
            with tr.span("plans.execute"):
                rows = df.collect()
        return rows, len(rows), df.schema

    def run(self, spark, seconds: float, traced_op) -> list[dict]:
        ops = []
        seq = request_sequence(self.seed)
        self.run_start = time.time()
        end = time.perf_counter() + seconds
        # at least MIN_DECKS whole decks, so every plan is sent twice
        # (one sample of each left the median to 7 requests of 7
        # plans, which spread 0.21 of it over ten seeds), and in a
        # traced run has a traced and an untraced request for the
        # tracing overhead
        least = sum(MIX.values()) * MIN_DECKS
        while time.perf_counter() < end or len(ops) < least:
            name = next(seq)
            traced = traced_op.next(name)
            with traced_op(traced):
                t0 = time.perf_counter()
                try:
                    rows, n, _ = self._request(spark, name)
                    err = None
                except Exception as e:  # noqa: BLE001 — a failed request is counted
                    rows, n, err = None, 0, f"{type(e).__name__}: {e}"[:300]
                lat = time.perf_counter() - t0
            ok = err is None and canonical(rows) == self.reference[name]
            ops.append({"kind": name, "latency_s": lat, "items": 1,
                        "ok": ok, "error": err, "traced": traced,
                        "headline": True})
            if ok and traced:
                self.rows_returned += n
        headline_whole_decks(ops)
        return ops

    def check(self, spark, ops: list[dict]) -> dict[str, str]:
        """Oracle check of each plan's rows; plan name → problem.  The
        requests of a plan that fails its oracle fail with it."""
        import duckdb

        from omniengine_spark.plans import ORACLES

        frames_match = import_tool("driver_sim").frames_match
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'"
                )
            problems = {}
            for name in MIX:
                # the collected rows, back through the plan's schema, so
                # they convert to pandas exactly as the plan would
                got = spark.createDataFrame(
                    self.reference[name], self.schemas[name]).toPandas()
                want = con.execute(ORACLES[name]).fetchdf()
                bad = frames_match(got, want)
                if bad:
                    problems[name] = "; ".join(bad)
            for o in ops:
                if o["kind"] in problems:
                    o["ok"] = False
            return problems
        finally:
            con.close()

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        tr = self.tracer
        traced = [o for o in ops if o["traced"]]
        n = max(1, len(traced))
        mine = tr.subtree([s for s in tr.spans if s.name == "plans.request"
                           and not tr.is_under_layer(s, "session")])
        builds = [s for s in mine if s.name == "plans.build"]
        jobs = [j for s in mine for j in s.jobs]
        scanned = sum(j["input_records"] for j in jobs)
        # the listener sees every stream query of the timed region,
        # traced or not
        timed = [r for r in (self.progress.reports if self.progress else [])
                 if r["start"] >= self.run_start]
        return stream_metrics(timed) | {
            "plans.build_s": sum(
                b.duration - tr.subtree_job_seconds(b) for b in builds) / n,
            "plans.execute_s": sum(
                s.duration for s in mine if s.name == "plans.execute") / n,
            "plans.jobs_per_request": len(jobs) / n,
            "plans.rows_scanned_per_row_returned": (
                scanned / self.rows_returned if self.rows_returned else 0.0),
            "sources.load_table_s": sum(
                s.duration for s in mine if s.name == "sources.load_table") / n,
            "sources.commit_s": sum(
                s.duration for s in mine if s.name == "sources.commit") / n,
            "sources.scan_bytes": sum(j["input_bytes"] for j in jobs) / n,
            "sources.scan_records": scanned / n,
        }


def wrap_everywhere(package, fn, tracer, span_name: str) -> None:
    """Replace ``fn`` by a span-recording wrapper in every loaded module
    of ``package`` that holds a reference to it."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    prefix = package.__name__ + "."
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package.__name__
                               or mod_name.startswith(prefix)):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)
