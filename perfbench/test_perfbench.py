"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import re
import statistics
from collections import Counter, defaultdict

import numpy as np
import pytest

from perfbench import spec
from perfbench.chaingen import (
    BLOCKS_PER_BATCH,
    FIRST_BLOCK,
    ORPHAN_BLOCKS,
    TYPE_WEIGHTS,
    ChainGenerator,
)
from perfbench.run import OpTracing, end_to_end, layer_metrics, tracing_overhead_pct
from perfbench.stats import highest_supported_percentile, percentile, summarize
from perfbench.tracing import Span, Tracer, stream_metrics, union_length
from perfbench.wallet_api import (
    MIN_DECKS,
    MIX,
    headline_whole_decks,
    request_sequence,
)

# --- seeded inputs ----------------------------------------------------


def _batches(seed: int, n: int = 6):
    g = ChainGenerator(seed=seed)
    return [g.next_batch() for _ in range(n)]


def test_chain_generator_same_seed_same_stream():
    a, b = _batches(7), _batches(7)
    assert [x.blocks for x in a] == [x.blocks for x in b]
    assert [x.orphan for x in a] == [x.orphan for x in b]
    assert [x.supply for x in a] == [x.supply for x in b]
    assert [x.blocks for x in _batches(8)] != [x.blocks for x in a]


def test_chain_generator_covers_every_dispatched_type_and_reorgs():
    batches = _batches(3, n=30)
    types = Counter(
        tx["type_int"] for b in batches for txs in b.blocks.values() for tx in txs
    )
    assert set(TYPE_WEIGHTS) <= set(types)
    assert any(not tx["valid"] for b in batches for txs in b.blocks.values()
               for tx in txs)
    reorgs = [b for b in batches if b.orphan]
    assert reorgs
    for b in reorgs:
        # an orphaned block is always overwritten by a true block
        assert set(b.orphan) <= set(b.heights)


def test_chain_generator_blocks_are_contiguous_and_ordered():
    batches = _batches(5)
    heights = [h for b in batches for h in b.heights]
    assert heights == list(range(heights[0], heights[0] + len(heights)))
    for b in batches:
        for h, txs in b.blocks.items():
            assert [t["position_in_block"] for t in txs] == list(range(len(txs)))
            assert {t["block"] for t in txs} == {h}
            if h != FIRST_BLOCK:
                assert txs[0]["type_int"] == 0 and txs[0]["valid"]


def test_chain_supply_books_issuance_revocation_and_burns():
    batches = _batches(11, n=10)
    booked = defaultdict(int)
    for b in batches:
        for pid, v in b.supply.items():
            booked[pid] += v
    expect = defaultdict(int)
    for b in batches:
        for txs in b.blocks.values():
            for t in txs:
                if not t["valid"]:
                    continue
                if t["type_int"] in (50, 55):
                    expect[t["propertyid"]] += _units(t["amount"], t["divisible"])
                elif t["type_int"] == 56:
                    expect[t["propertyid"]] -= _units(t["amount"], t["divisible"])
                elif t["type_int"] == -51:
                    d = t["purchased_divisible"]
                    expect[t["purchased_propertyid"]] += (
                        _units(t["purchased_tokens"], d)
                        + _units(t["issuer_tokens"], d))
                elif t["type_int"] == 3:
                    fee_pid = 2 if t["propertyid"] >= 2_147_483_651 else 1
                    expect[fee_pid] -= _units(t["sto_fee"], True)
    assert {k: v for k, v in booked.items() if v} == {
        k: v for k, v in expect.items() if v}


def _units(s: str, divisible: bool) -> int:
    if not divisible:
        return int(s)
    whole, frac = s.split(".")
    return int(whole) * 10**8 + int(frac)


def test_wallet_sequence_is_seeded_and_keeps_the_mix():
    def first(seed, n=200):
        return list(itertools.islice(request_sequence(seed), n))

    a = first(3)
    assert a == first(3)
    assert a != first(4)
    deck = sum(MIX.values())
    for i in range(0, 200 - deck + 1, deck):
        assert Counter(a[i:i + deck]) == Counter(MIX)


def test_testdata_generator_same_seed_same_tables(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.wallet_api import generate_inputs

    generate_inputs(tmp_path / "a", 5)
    generate_inputs(tmp_path / "b", 5)
    generate_inputs(tmp_path / "c", 6)
    for t in ("events", "customer", "orders"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "events.parquet").equals(
        pq.read_table(tmp_path / "c" / "events.parquet"))


@pytest.mark.parametrize("trace", [False, True])
def test_wallet_run_sends_whole_decks(monkeypatch, tmp_path, trace):
    from perfbench.wallet_api import WalletApi

    tr = Tracer(enabled=trace)
    wl = WalletApi(tmp_path, 1, tr)
    wl.reference = {name: [] for name in MIX}
    monkeypatch.setattr(wl, "_request", lambda spark, name: ([], 0, None))
    ops = wl.run(None, 0.0, OpTracing(tr, trace))
    assert Counter(o["kind"] for o in ops) == {k: MIN_DECKS for k in MIX}
    assert all(o["ok"] and o["headline"] for o in ops)
    # every plan has a traced and an untraced request in a traced run
    assert sum(o["traced"] for o in ops) == (len(MIX) if trace else 0)


def test_wallet_headline_leaves_out_a_part_deck():
    deck = sum(MIX.values())
    ops = [{"headline": True} for _ in range(2 * deck + 3)]
    headline_whole_decks(ops)
    assert [o["headline"] for o in ops] == [True] * 2 * deck + [False] * 3


def test_chain_warmup_reorgs_and_run_syncs_regular_batches(
        monkeypatch, tmp_path):
    from perfbench.chain_sync import MIN_BATCHES, ChainSync

    tr = Tracer(enabled=False)
    cs = ChainSync(tmp_path, 1, tr)
    cs.prepare()
    synced = []
    monkeypatch.setattr(
        cs, "_sync", lambda spark, wh, files, heights, base:
        synced.append((len(files), base)) or {})
    cs.warmup(None)
    # the genesis batch, then the second batch after its orphaned fork
    assert [n for n, _ in synced] == [BLOCKS_PER_BATCH, ORPHAN_BLOCKS,
                                      BLOCKS_PER_BATCH]
    # serials continue across batches; the fork shares its batch's offset
    assert synced[1][1] == synced[2][1] > 0
    ops = cs.run(None, 0.0, OpTracing(tr, False))
    assert [o["kind"] for o in ops] == ["batch"] * MIN_BATCHES
    assert all(o["headline"] for o in ops)
    assert len(cs.true_files) == BLOCKS_PER_BATCH * (2 + MIN_BATCHES)


# --- percentiles and sample counts ------------------------------------


@pytest.mark.parametrize("n", [1, 2, 5, 10, 37, 100])
def test_percentile_matches_numpy_and_statistics(n):
    rng = np.random.default_rng(n)
    xs = list(rng.exponential(size=n))
    for q in (0, 10, 25, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    if n >= 2:
        qs = statistics.quantiles(xs, n=4, method="inclusive")
        assert [percentile(xs, q) for q in (25, 50, 75)] == pytest.approx(qs)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


@pytest.mark.parametrize("n,label", [
    (0, None), (19, None), (20, 50), (99, 50), (100, 90), (999, 90),
    (1000, 99), (10_000, 999)])
def test_tail_percentile_needs_ten_samples_beyond(n, label):
    assert highest_supported_percentile(n) == label


def test_summarize_counts_and_converts_to_ms():
    s = summarize([0.001 * i for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50_ms"] == pytest.approx(50.5)
    assert s["p90_ms"] == pytest.approx(90.1)
    assert "p99_ms" not in s
    assert summarize([]) == {"n": 0}
    assert set(summarize([0.5] * 5)) == {"n", "p50_ms", "max_ms"}


# --- tracing ----------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def _span(tr, sid, name, parent, start, end, jobs=()):
    s = Span(sid, name, parent, parent or sid, start, end, jobs=list(jobs))
    tr.spans.append(s)
    return s


def _job(t0, t1, **kw):
    j = {k: 0 for k in ("tasks", "executor_cpu_ns", "gc_ms",
                        "shuffle_write_bytes", "spill_bytes", "input_bytes",
                        "input_records", "output_bytes", "output_records",
                        "pandas_rows")}
    j.update(kw, submitted=t0, completed=t1)
    return j


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    root = _span(tr, "a", "plans.request", None, 0.0, 10.0)
    _span(tr, "b", "plans.build", "a", 1.0, 4.0)
    _span(tr, "c", "sources.load_table", "b", 2.0, 3.0)
    _span(tr, "d", "plans.execute", "a", 4.0, 9.0,
          jobs=[_job(4.5, 8.5, tasks=8, executor_cpu_ns=2e9)])
    st = tr.self_times()
    assert st == pytest.approx({"a": 2.0, "b": 2.0, "c": 1.0, "d": 5.0})
    assert tr.subtree_job_seconds(root) == pytest.approx(4.0)
    assert [s.id for s in tr.subtree([tr.spans[1]])] == ["b", "c"]
    assert tr.is_under_layer(tr.spans[2], "plans")
    assert not tr.is_under_layer(tr.spans[2], "session")
    # warm-up work counts as set-up, whichever layer ran it
    _span(tr, "w", "session.warmup", None, 20.0, 30.0)
    _span(tr, "x", "plans.request", "w", 21.0, 29.0,
          jobs=[_job(22.0, 23.0, tasks=5)])
    c = tr.layer_counters(cores=4)
    assert c["session.tasks"] == 5
    assert c["plans.tasks"] == 8
    assert c["plans.executor_cpu_s"] == pytest.approx(2.0)
    # 2 s of CPU over 9 s of plans self time on 4 cores
    assert c["plans.cpu_util"] == pytest.approx(2.0 / (9.0 * 4))


def test_job_of_another_group_goes_to_innermost_open_span():
    tr = Tracer(enabled=True)
    _span(tr, "a", "plans.request", None, 0.0, 10.0)
    _span(tr, "b", "plans.build", "a", 1.0, 6.0)
    _span(tr, "c", "streaming.drain", "b", 2.0, 5.0)
    _span(tr, "d", "plans.execute", "a", 6.0, 9.0)
    assert tr.open_at(3.0).id == "c"
    assert tr.open_at(5.5).id == "b"
    assert tr.open_at(7.0).id == "d"
    assert tr.open_at(11.0) is None


def test_op_tracing_traces_every_other_op_of_each_kind():
    tr = Tracer(enabled=True)
    optr = OpTracing(tr, trace=True)
    kinds = ["a", "a", "b", "a", "b", "c", "a"]
    assert [optr.next(k) for k in kinds] == [
        True, False, True, True, False, True, False]
    with optr(False):
        assert not tr.enabled
    assert tr.enabled
    off = OpTracing(Tracer(enabled=False), trace=False)
    assert not any(off.next(k) for k in kinds)


def _progress(run_id, batch, rows, trigger, state_rows, late=0):
    return {"run_id": run_id, "batch": batch, "start": 100.0 + batch,
            "input_rows": rows, "trigger_ms": trigger, "add_batch_ms": trigger / 2,
            "planning_ms": 10, "state_rows": state_rows,
            "state_bytes": state_rows * 100, "late_rows": late}


def test_stream_metrics_are_per_query():
    reports = [_progress("q1", 0, 600, 1000, 5),
               _progress("q1", 1, 400, 1000, 8, late=3),
               _progress("q2", 0, 1000, 2000, 10)]
    m = stream_metrics(reports)
    assert m["streaming.micro_batches"] == pytest.approx(1.5)
    assert m["streaming.trigger_ms"] == pytest.approx(2000)
    assert m["streaming.add_batch_ms"] == pytest.approx(1000)
    assert m["streaming.planning_ms"] == pytest.approx(15)
    # the state each query ended with
    assert m["streaming.state_rows"] == pytest.approx((8 + 10) / 2)
    assert m["streaming.state_bytes"] == pytest.approx((800 + 1000) / 2)
    assert m["streaming.late_rows_dropped"] == pytest.approx(1.5)
    assert m["streaming.rows_per_s"] == pytest.approx(2000 / 4.0)
    assert stream_metrics([]) == {}


def test_replay_keys_come_from_the_replay_operator(tmp_path):
    from perfbench.chain_sync import ChainSync

    tr = Tracer(enabled=True)
    cs = ChainSync(tmp_path, 1, tr)
    for i in range(2):
        t = 10.0 * i
        _span(tr, f"b{i}", "pipeline.batch", None, t, t + 9)
        _span(tr, f"w{i}", "sources.write", f"b{i}", t + 1, t + 2,
              jobs=[_job(t + 1, t + 2, output_records=100)])
        _span(tr, f"f{i}", "pipeline.balances", f"b{i}", t + 3, t + 6,
              jobs=[_job(t + 3, t + 4, input_records=300 * (i + 1)),
                    _job(t + 4, t + 5, pandas_rows=i + 1)])
    cs.traced_txs = 80
    m = cs.layer_metrics([])
    assert m["pipeline.replay_keys"] == pytest.approx(1.5)
    assert m["pipeline.deltas_per_tx"] == pytest.approx(200 / 80)
    assert m["pipeline.rows_folded_per_new_delta"] == pytest.approx(900 / 200)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("plans.request") as s:
        assert s is None
    assert tr.spans == []


def test_tracing_overhead_compares_same_kind():
    ops = [{"kind": "a", "latency_s": 1.1, "traced": True},
           {"kind": "a", "latency_s": 1.0, "traced": False},
           {"kind": "b", "latency_s": 2.2, "traced": True},
           {"kind": "b", "latency_s": 2.0, "traced": False},
           {"kind": "c", "latency_s": 9.0, "traced": True}]
    assert tracing_overhead_pct(ops) == pytest.approx(10.0)


# --- the printed metrics are the declared ones ------------------------


def test_end_to_end_metrics_are_declared_with_their_units():
    ops = [{"kind": "a", "latency_s": 0.5, "items": 3, "headline": True},
           {"kind": "a", "latency_s": 1.5, "items": 3, "headline": True},
           {"kind": "a", "latency_s": 4.0, "items": 3, "headline": True},
           # left out of latency and throughput
           {"kind": "b", "latency_s": 0.1, "items": 9, "headline": False},
           {"kind": "b", "latency_s": 0.2, "items": 9, "headline": False}]
    got = end_to_end(ops, setup_s=12.5, peak_rss=512 * 2**20)
    assert {k: v["unit"] for k, v in got.items()} == spec.end_to_end_names()
    assert got["op_p50_ms"]["value"] == pytest.approx(1500.0)
    assert got["items_per_s"]["value"] == pytest.approx(1.5)
    assert got["peak_rss_mb"]["value"] == pytest.approx(512.0)


@pytest.mark.parametrize("workload", ["chain_sync", "wallet_api"])
def test_layer_metrics_are_all_declared(workload, tmp_path):
    from perfbench.run import make_workload

    tr = Tracer(enabled=True)
    wl = make_workload(workload, tmp_path, 1, tr)
    for i, layer in enumerate(["session", "plans", "sources", "pipeline",
                               "operators", "streaming"]):
        _span(tr, f"s{i}", f"{layer}.x", None, i, i + 1.0,
              jobs=[_job(i, i + 0.5, tasks=1)])
    if workload == "wallet_api":
        wl.progress = type("P", (), {"reports": [
            _progress("q", 0, 1000, 900, 50)]})()
    ops = [{"kind": "k", "latency_s": 1.0, "traced": True},
           {"kind": "k", "latency_s": 1.0, "traced": False}]
    declared = spec.per_layer_names()
    computed = set(wl.layer_metrics(ops)) | set(tr.layer_counters(4))
    assert computed <= set(declared)
    out = layer_metrics(wl, tr, ops)
    assert {k: v["unit"] for k, v in out.items()} == declared


def test_benchmark_json_is_well_formed():
    s = spec.load()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in s[k]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert 2 <= len(s["workloads"]) <= 8
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert unit.match(m["unit"]) and 0 < m["bound"] <= 0.25
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert 1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int)
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
