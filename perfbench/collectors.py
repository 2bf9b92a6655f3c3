"""Outside-in collectors for the benchmark.

Everything here observes the program from outside its modules:

- ``Spans``: a span (name, start, end, parent) around each call the
  benchmark makes into a layer's public function, kept in memory; in a
  traced run each span also tags the Spark jobs it launches with
  ``setJobGroup``.
- ``StatusReader``: job and stage data from Spark's ``AppStatusStore``
  (readable with ``spark.ui.enabled=false``).
- ``PhaseListener``: a py4j ``QueryExecutionListener`` that sums the
  Catalyst phase times of every executed query.
- ``BatchListener``: a ``StreamingQueryListener`` that keeps each
  micro-batch's progress (``durationMs`` per phase).
- ``ProcSampler``: one thread sampling CPU time and RSS of the process
  tree (driver Python, JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import datetime
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Spans:
    """In-memory span recorder. Disabled (the default), ``span`` only
    yields."""

    def __init__(self, spark):
        self.enabled = False
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(rec)
        # Job groups are thread-local in the JVM: tag only from the main
        # thread. Spans opened on a callback thread (a foreachBatch
        # function runs on the stream's thread) attribute jobs by time.
        tag = threading.current_thread() is threading.main_thread()
        rec["tagged"] = tag
        if tag:
            self.sc.setJobGroup(self.group(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if tag:
                if self._stack:
                    self.sc.setJobGroup(self.group(self._stack[-1]),
                                        self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def group(rec: dict) -> str:
        return f"perfbench-{rec['id']}"


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def drain_bus(spark) -> None:
    """Wait until the listener bus has delivered every posted event, so
    the status store and the listeners below are complete."""
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()


def _seq(s):
    """Python list of a Scala Seq."""
    it, out = s.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusReader:
    """Jobs and stages from the JVM's AppStatusStore."""

    STAGE_FIELDS = {
        "tasks": "numCompleteTasks", "failed_tasks": "numFailedTasks",
        "executor_run_ms": "executorRunTime", "executor_cpu_ns": "executorCpuTime",
        "jvm_gc_ms": "jvmGcTime", "input_bytes": "inputBytes",
        "output_bytes": "outputBytes", "output_records": "outputRecords",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "memory_spill_bytes": "memoryBytesSpilled",
        "disk_spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sparkContext().statusStore()
        self.gw = spark.sparkContext._gateway
        self.seen_job = -1

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, with their stage totals."""
        drain_bus(self.spark)
        jobs = []
        for j in _seq(self.store.jobsList(None)):
            jid = j.jobId()
            if jid <= self.seen_job:
                continue
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            jobs.append({
                "id": jid, "group": _opt(j.jobGroup()),
                "start": sub.getTime() / 1000.0 if sub is not None else None,
                "end": done.getTime() / 1000.0 if done is not None else None,
                "stage_ids": _seq(j.stageIds()),
            })
        if jobs:
            self.seen_job = max(j["id"] for j in jobs)
        wanted = {s for j in jobs for s in j["stage_ids"]}
        stages = self._stages(wanted)
        for j in jobs:
            j["stages"] = [stages[s] for s in j["stage_ids"] if s in stages]
        return sorted(jobs, key=lambda j: j["id"])

    def _stages(self, wanted: set) -> dict:
        out: dict[int, dict] = {}
        if not wanted:
            return out
        quantiles = self.gw.new_array(self.gw.jvm.double, 0)
        for s in _seq(self.store.stageList(None, False, False, quantiles,
                                           None)):
            sid = s.stageId()
            if sid not in wanted or s.status().toString() == "SKIPPED":
                continue
            acc = out.setdefault(sid, {k: 0 for k in self.STAGE_FIELDS})
            for k, getter in self.STAGE_FIELDS.items():
                acc[k] += getattr(s, getter)()
        return out


class PhaseListener:
    """Sums ``qe.tracker().phases()`` of every executed query. Events
    arrive on the listener bus; call drain_bus() before take()."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.ms = {p: 0 for p in self.PHASES}
        self._lock = threading.Lock()

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802,N803
        self._add(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802,N803
        self._add(qe)

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        got = {}
        for p in self.PHASES:
            o = phases.get(p)
            if o.isDefined():
                got[p] = o.get().durationMs()
        with self._lock:
            for p, v in got.items():
                self.ms[p] += v

    def take(self) -> dict:
        """Seconds per phase since the last call."""
        with self._lock:
            out = {p: v / 1000.0 for p, v in self.ms.items()}
            self.ms = {p: 0 for p in self.PHASES}
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_listener(spark) -> PhaseListener:
    """A PhaseListener ready to register with the session's
    ``listenerManager()`` (starts py4j's callback server)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    return PhaseListener()


class BatchListener(StreamingQueryListener):
    """Keeps the progress of every micro-batch that read input, in arrival
    order: rows, ``durationMs`` per phase, and the trigger's wall-clock
    window [start, end] for attributing Spark jobs to it."""

    def __init__(self):
        self._batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if not p.numInputRows:
            return
        ms = dict(p.durationMs)
        start = datetime.datetime.fromisoformat(
            p.timestamp.replace("Z", "+00:00")).timestamp()
        with self._lock:
            self._batches.append({
                "batch_id": p.batchId, "rows": p.numInputRows,
                "duration_ms": ms, "start": start,
                "end": start + ms.get("triggerExecution", 0) / 1000.0})

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def count(self) -> int:
        with self._lock:
            return len(self._batches)

    def since(self, n: int) -> list[dict]:
        """Batches after the first ``n``. Drain the listener bus first."""
        with self._lock:
            return list(self._batches[n:])


class ProcSampler:
    """CPU seconds and RSS of the process tree rooted at this process,
    read from /proc. One daemon thread samples RSS every ``INTERVAL``
    seconds for the peak; CPU is read on demand with ``cpu_s``.

    CPU is utime+stime of every live process in the tree plus the
    cutime+cstime its members have reaped, so it does not drop when a
    Python worker exits."""

    INTERVAL = 0.25

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._worker_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-proc")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[dict]:
        procs = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    raw = f.read().decode()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1:raw.rindex(")")]
            fields = raw[raw.rindex(")") + 2:].split()
            procs[int(name)] = {
                "ppid": int(fields[1]), "comm": comm,
                "cpu": sum(int(x) for x in fields[11:15]) / _TICK,
                "rss": int(fields[21]) * _PAGE}
        tree, frontier = [], [self.root]
        while frontier:
            pid = frontier.pop()
            if pid not in procs:
                continue
            p = procs[pid]
            p["pid"] = pid
            tree.append(p)
            frontier.extend(c for c, q in procs.items() if q["ppid"] == pid)
        return tree

    def _python_workers(self, tree: list[dict]) -> list[dict]:
        """Python processes below the JVM: the PySpark daemon and workers."""
        jvm = {p["pid"] for p in tree if p["comm"] == "java"}
        below, frontier = [], list(jvm)
        while frontier:
            pid = frontier.pop()
            kids = [p for p in tree if p["ppid"] == pid]
            below.extend(kids)
            frontier.extend(k["pid"] for k in kids)
        return [p for p in below if p["comm"].startswith("python")]

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def sample(self) -> tuple[float, int]:
        tree = self._tree()
        rss = sum(p["rss"] for p in tree)
        wrss = sum(p["rss"] for p in self._python_workers(tree))
        with self._lock:
            self._peak = max(self._peak, rss)
            self._worker_peak = max(self._worker_peak, wrss)
        return sum(p["cpu"] for p in tree), rss

    def cpu_s(self) -> float:
        return self.sample()[0]

    def take_peaks(self) -> tuple[int, int]:
        """(tree, Python-worker) peak RSS in bytes since the last call."""
        self.sample()
        with self._lock:
            out = (self._peak, self._worker_peak)
            self._peak = self._worker_peak = 0
        return out
