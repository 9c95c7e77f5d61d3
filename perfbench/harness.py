"""Process-level plumbing shared by the workloads: temp-file isolation
inside the checkout, the Spark session's lifetime, memory sampling and
clean-up of what the run leaves behind."""

from __future__ import annotations

import os
import re
import shutil
import signal
import sys
import tempfile
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"
TRACE_DIR = ROOT / ".perfbench_traces"
# the engine writes sink and index output under <repo>/.scratch/p<pid>-*
ENGINE_SCRATCH = ROOT / ".scratch"


def import_tool(name: str):
    """Import a module from the repository's ``tools/`` directory."""
    import importlib

    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    return importlib.import_module(name)


def java_options(work: Path) -> str:
    """JVM flags that keep a JVM's temp and perf-data files out of /tmp."""
    return f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: Path) -> None:
    """Point every temp and scratch location at ``work`` so the run reads
    and writes only inside the checkout.  Must run before pyspark starts
    the JVM: the driver JVM and its Python workers inherit this
    environment."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit first runs a launcher JVM; keep its files in the
    # checkout too (the driver JVM gets the same through its conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = java_options(work)
    os.environ["SPARK_GRAFT_STREAM_CHECKPOINT"] = str(work / "checkpoints")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # deployment setting, not the engine's default (60 % of RAM): a
    # fixed 2 GiB heap keeps the benchmark a good neighbour on a shared
    # host and its memory figures comparable between hosts; the inputs
    # need far less.  peak_rss_mb, GC and spill are measured at this
    # heap, so a memory regression shows in peak_rss_mb only up to it.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON") or sys.executable


class Engine:
    """The engine's Spark session, started through its own factory
    (``omniengine_spark.session.get_spark``) on ``local[<cores>]``."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None

    def start(self):
        from omniengine_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
                "spark.driver.extraJavaOptions": java_options(self.work),
                # the traced run reads every job back from the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM (and with
        it every Python worker it forked) has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired; escalate
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Peak resident memory of this process, the driver JVM and its
    Python workers: the sum of each process's high-water mark
    (``VmHWM``), which the kernel keeps, so a short peak between two
    samples is not missed.  Sampling only has to see each process once
    before it exits.  Other children of the JVM (shell commands Hadoop
    runs) are left out: between fork and exec they report the JVM's
    whole footprint as their own."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self._hwm.values())

    def breakdown_mb(self) -> dict[str, float]:
        """Peak per role: this process, the JVM, the Python workers."""
        me, jvm = os.getpid(), self._root
        workers = sum(v for p, v in self._hwm.items() if p not in (me, jvm))
        return {"benchmark": self._hwm.get(me, 0) / 2**20,
                "jvm": self._hwm.get(jvm, 0) / 2**20,
                "workers": workers / 2**20,
                "worker_processes": len(self._hwm) - 2}

    def start(self, jvm_pid: int | None) -> None:
        self._root = jvm_pid
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self._sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        pids = [os.getpid()]
        if self._root is not None:
            pids.append(self._root)
            pids += [p for p in process_tree(self._root)[1:]
                     if _is_python_worker(p)]
        for pid in pids:
            hwm = _hwm_bytes(pid)
            if hwm > self._hwm.get(pid, 0):
                self._hwm[pid] = hwm


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def remove_run_files(work: Path) -> None:
    """Delete the run's inputs and temp files, and the engine scratch
    directories this process created."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        WORK_ROOT.rmdir()  # only when no other run is using it
    except OSError:
        pass
    if ENGINE_SCRATCH.is_dir():
        mine = re.compile(rf"p{os.getpid()}-")
        for entry in ENGINE_SCRATCH.iterdir():
            if mine.match(entry.name):
                shutil.rmtree(entry, ignore_errors=True)
        try:
            ENGINE_SCRATCH.rmdir()  # only when empty
        except OSError:
            pass


def stop_children() -> None:
    """After a failed shutdown: kill every process this one started that
    is still running, and reap them."""
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return
