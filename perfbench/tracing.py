"""In-memory spans around the benchmark's calls into each engine layer.

A span records its name, start, end, parent and the root span of its
request (the trace id).  While a span is open, the Spark job group of
the calling thread is the span's id, so every Spark job the call
launches is tagged with the innermost open span.  After the run the
Spark status store is read once and each job's stage counters are
attached to the span that launched it.  A job in another group (a
streaming query runs its micro-batches under its own run id) goes to
the innermost span open when it was submitted.

Layer names are the first dotted component of a span name
(``plans.build`` belongs to ``plans``), matching the engine's
package names.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Spark stage counters summed per job; names are StageData getters.
STAGE_COUNTERS = {
    "tasks": "numTasks",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
}


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    trace: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.harvest: one dict per Spark job the span launched
    jobs: list = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder for one benchmark process.

    ``enabled=False`` makes every ``span`` a no-op, so the untraced
    run executes the same benchmark code without tracing cost.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the (possibly restarted) Spark session."""
        self._sc = spark.sparkContext if spark is not None else None

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"pb{next(self._ids)}"
        rec = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            trace=parent.trace if parent else sid,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def harvest(self, spark) -> None:
        """Attach the stage counters of every finished Spark job to the
        span whose id is the job's group.  Call before the session
        stops: the status store dies with it."""
        if not self.enabled or not self.spans:
            return
        by_id = {s.id: s for s in self.spans}
        for job in spark_jobs(spark):
            span = by_id.get(job.pop("group")) or self.open_at(job["submitted"])
            if span is not None:
                span.jobs.append(job)

    def open_at(self, t: float) -> Span | None:
        """The innermost span open at time ``t``: spans nest on the one
        client thread, so it is the latest one started."""
        best = None
        for s in self.spans:  # in start order
            if s.start <= t <= s.end:
                best = s
        return best

    def self_times(self) -> dict[str, float]:
        """Span id → duration minus the time its child spans cover."""
        kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        return {
            s.id: max(0.0, s.duration - union_length(kids[s.id]))
            for s in self.spans
        }

    def is_under_layer(self, span: Span, layer: str) -> bool:
        """Whether an ancestor of ``span`` belongs to ``layer``."""
        by_id = {s.id: s for s in self.spans}
        while span.parent is not None:
            span = by_id[span.parent]
            if span.layer == layer:
                return True
        return False

    def subtree(self, roots: list[Span]) -> list[Span]:
        """``roots`` and every span below them."""
        ids = {s.id for s in roots}
        for s in self.spans:  # spans are appended in start order
            if s.parent in ids:
                ids.add(s.id)
        return [s for s in self.spans if s.id in ids]

    def subtree_job_seconds(self, span: Span) -> float:
        """Wall time during which Spark jobs launched by ``span`` or any
        span below it were running."""
        intervals = [
            (j["submitted"], j["completed"])
            for s in self.subtree([span])
            for j in s.jobs
        ]
        return union_length(intervals)

    def layer_counters(self, cores: int) -> dict[str, float]:
        """Per-layer Spark counters over the jobs each layer's spans
        launched themselves (self attribution, like self time).  Work
        done below a ``session`` span (the warm-up) counts as set-up,
        not as the layer that did it."""
        selft = self.self_times()
        out: dict[str, float] = {}
        sums: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        for s in self.spans:
            layer = "session" if self.is_under_layer(s, "session") else s.layer
            acc = sums[layer]
            acc["self_s"] += selft[s.id]
            for j in s.jobs:
                for k in STAGE_COUNTERS:
                    acc[k] += j[k]
        for layer, acc in sums.items():
            cpu_s = acc["executor_cpu_ns"] / 1e9
            out[f"{layer}.tasks"] = acc["tasks"]
            out[f"{layer}.executor_cpu_s"] = cpu_s
            out[f"{layer}.gc_s"] = acc["gc_ms"] / 1000.0
            out[f"{layer}.shuffle_write_bytes"] = acc["shuffle_write_bytes"]
            out[f"{layer}.spill_bytes"] = acc["spill_bytes"]
            out[f"{layer}.cpu_util"] = (
                cpu_s / (acc["self_s"] * cores) if acc["self_s"] > 0 else 0.0
            )
        return out

    def dump(self, path) -> None:
        """Write every span, with self time and job counters, as JSON."""
        selft = self.self_times()
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = selft[s.id]
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)


def spark_jobs(spark) -> list[dict]:
    """Every job in the session's status store with its group, times
    (epoch seconds) and stage counters.  A stage shared by several
    jobs (a reused shuffle shows as skipped in later jobs) counts
    once, for the first job that ran it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = jsc.statusStore()
    jobs = sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId())
    pandas_rows = sql_pandas_rows(spark)
    seen: set[int] = set()
    out = []
    for j in jobs:
        rec = {k: 0 for k in STAGE_COUNTERS}
        for sid in conv.asJava(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted
                continue
            for k, getter in STAGE_COUNTERS.items():
                rec[k] += getattr(st, getter)()
        group = j.jobGroup()
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        rec.update(
            group=group.get() if group.isDefined() else None,
            job_id=j.jobId(),
            pandas_rows=pandas_rows.get(j.jobId(), 0),
            submitted=sub.get().getTime() / 1000.0,
            completed=done.get().getTime() / 1000.0,
        )
        out.append(rec)
    return out


def sql_pandas_rows(spark) -> dict[int, int]:
    """Job id → rows that came out of the Python operators
    (``MapInPandas``, ``FlatMapGroupsInPandas``, ...) of the SQL query
    the job ran for, read from the SQL status store.  A query's rows
    count once, for its first job."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, int] = {}
    for ex in conv.asJava(store.executionsList()):
        job_ids = list(conv.asJava(ex.jobs()).keySet())
        if not job_ids:
            continue
        eid = ex.executionId()
        values = conv.asJava(store.executionMetrics(eid))
        rows = 0
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            if not node.name().endswith("InPandas"):
                continue
            for m in conv.asJava(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v:
                    rows += int(v.split()[0].replace(",", ""))
        if rows:
            first = min(job_ids)
            out[first] = out.get(first, 0) + rows
    return out


class StreamProgress(StreamingQueryListener):
    """Collects the progress report of every micro-batch of every
    streaming query in the session (the listener runs on Spark's
    listener bus, so reports arrive shortly after each batch)."""

    def __init__(self) -> None:
        self.reports: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        state = p.stateOperators
        self.reports.append({
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": datetime.fromisoformat(p.timestamp).timestamp(),
            "input_rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_bytes": sum(s.memoryUsedBytes for s in state),
            "late_rows": sum(s.numRowsDroppedByWatermark for s in state),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def stream_metrics(reports: list[dict]) -> dict[str, float]:
    """``streaming.*`` figures per streaming query: micro-batches, the
    summed trigger, add-batch and planning times of its batches, the
    state it ended with and the rows its watermark dropped; and input
    rows per second of trigger time over all of them."""
    by_run: dict[str, list[dict]] = defaultdict(list)
    for r in reports:
        by_run[r["run_id"]].append(r)
    n = len(by_run)
    if not n:
        return {}
    last = [max(rs, key=lambda r: r["batch"]) for rs in by_run.values()]
    trigger_ms = sum(r["trigger_ms"] for r in reports)
    return {
        "streaming.micro_batches": len(reports) / n,
        "streaming.rows_per_s": (
            sum(r["input_rows"] for r in reports) / (trigger_ms / 1000.0)
            if trigger_ms else 0.0),
        "streaming.trigger_ms": trigger_ms / n,
        "streaming.add_batch_ms": sum(r["add_batch_ms"] for r in reports) / n,
        "streaming.planning_ms": sum(r["planning_ms"] for r in reports) / n,
        "streaming.state_rows": sum(r["state_rows"] for r in last) / n,
        "streaming.state_bytes": sum(r["state_bytes"] for r in last) / n,
        "streaming.late_rows_dropped": sum(r["late_rows"] for r in reports) / n,
    }
