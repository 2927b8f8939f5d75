"""Shared machinery of the rollspark benchmark: the Spark session, the
closed-loop operation recorder, spans, process-tree RSS sampling, Spark
status-store counters and the summary statistics.

Nothing here imports ``roll_spark`` at module level; ``run.py`` checks the
package is importable before any of this runs.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpus() -> int:
    return min(4, nproc())


def start_session(workdir: str, tag: str):
    """``get_spark`` on local[min(4, nproc)] with a pinned driver heap.

    Python workers get the package root on their path, so the benchmark
    runs from any working directory; every scratch file Spark writes stays
    under ``workdir``.
    """
    from roll_spark.session import get_spark

    local_dir = os.path.join(workdir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.executorEnv.PYTHONPATH": REPO,
        # pandas deprecation chatter from pyspark's own serializers
        "spark.executorEnv.PYTHONWARNINGS": "ignore::FutureWarning",
        "spark.local.dir": local_dir,
        # a heap touched in full at start: how much of it GC timing has
        # touched by the peak would otherwise swing peak memory by ~10%
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local_dir} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every execution and stage back from the
        # status stores; keep all of them in both modes so the two runs
        # configure Spark identically
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(cpus=cpus(), app_name=f"perfbench-{tag}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, parent, trace, name, start, end).

    Spans nest through a stack, so the parent of a span is the one open
    when it started. ``start``/``end`` are ``time.time()`` seconds, the
    clock Spark's status stores stamp executions with.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> None:
        self.trace_id += 1

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace_id, "name": name, "start": time.time(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def busy(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"].startswith(prefix))

    def count(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s["name"].startswith(prefix))


# ---------------------------------------------------------------------------
# closed-loop recorder
# ---------------------------------------------------------------------------


class Recorder:
    """Runs operations one at a time and keeps each one's wall time."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn, sample: bool = True):
        """Time ``fn()`` as one operation; a raise counts as a failed one.
        With ``sample=False`` a success records nothing: the caller adds the
        samples itself (a stream drain is many micro-batches)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.attempted += 1
            self.failed += 1
            print(f"[perfbench] operation {name} failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        if sample:
            self.add_sample(name, time.perf_counter() - t0)
        return out

    def add_sample(self, name: str, seconds: float) -> None:
        """Record an operation timed elsewhere (a stream micro-batch)."""
        self.attempted += 1
        self.samples.append((name, seconds))


def tail(values: list[float]) -> tuple[int, float]:
    """(level, value): the highest whole percentile with at least ten
    samples beyond it; p50 when there are fewer than 20 samples."""
    n = len(values)
    level = max(50, int(100 * (1 - 10 / n))) if n else 50
    if n < 2:
        return level, values[0]
    return level, statistics.quantiles(values, n=100, method="inclusive")[level - 1]


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of ``root`` (default: this process) and all its
    descendants. PSS splits shared pages among the processes mapping them,
    so forked Python workers are not counted once per copy of the daemon
    they share pages with."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Peak resident memory (PSS) of this process plus every descendant
    (JVM, Python workers), sampled every 100 ms on a daemon thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())


# ---------------------------------------------------------------------------
# TierStore instrumentation (traced pass only)
# ---------------------------------------------------------------------------


def _day_dirs(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {d: os.stat(os.path.join(path, d)).st_ino
            for d in os.listdir(path) if d.startswith("_day=")}


def instrument_tierstore(tracer: Tracer):
    """Wrap ``TierStore.upsert``/``expire``/``read`` in spans and count the
    day partitions, files and bytes each upsert rewrites (a day directory
    is rewritten when its inode changes). The wrappers are installed on the
    class, so upserts inside a stream's foreachBatch drain are seen too.
    Returns (counters, restore)."""
    from roll_spark.streaming.rollup import TierStore

    counters = {"upsert_calls": 0, "days_rewritten": 0, "files_written": 0,
                "bytes_written": 0}
    orig = {n: getattr(TierStore, n) for n in ("upsert", "expire", "read")}

    def upsert(self, updated):
        before = _day_dirs(self.path)
        with tracer.span("tierstore.upsert"):
            orig["upsert"](self, updated)
        counters["upsert_calls"] += 1
        for day, ino in _day_dirs(self.path).items():
            if before.get(day) == ino:
                continue
            counters["days_rewritten"] += 1
            d = os.path.join(self.path, day)
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            counters["files_written"] += len(files)
            counters["bytes_written"] += sum(
                os.path.getsize(os.path.join(d, f)) for f in files)

    def expire(self, *a, **kw):
        with tracer.span("tierstore.expire"):
            return orig["expire"](self, *a, **kw)

    def read(self):
        with tracer.span("tierstore.read"):
            return orig["read"](self)

    TierStore.upsert, TierStore.expire, TierStore.read = upsert, expire, read

    def restore():
        for n, f in orig.items():
            setattr(TierStore, n, f)

    return counters, restore


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_log(spark):
    """Register and return a StreamingQueryListener that keeps every
    progress event of every query, keyed by query id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.progress: dict[str, list] = {}
            self._done: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            with self._cv:
                self.started.append(str(event.id))
                self._cv.notify_all()

        def onQueryProgress(self, event):
            with self._cv:
                self.progress.setdefault(str(event.progress.id), []).append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self._done.add(str(event.id))
                self._cv.notify_all()

        def nth_started(self, n: int, timeout: float = 60.0) -> str:
            """Id of the n-th query started since the listener was added."""
            with self._cv:
                if not self._cv.wait_for(lambda: len(self.started) > n, timeout):
                    raise TimeoutError(f"query #{n} never started")
                return self.started[n]

        def wait_terminated(self, qid: str, timeout: float = 60.0) -> list:
            """Progress events of ``qid`` once its termination event (which
            the listener bus delivers after the last progress) arrived."""
            with self._cv:
                if not self._cv.wait_for(lambda: qid in self._done, timeout):
                    raise TimeoutError(f"no termination event for query {qid}")
                return self.progress.get(qid, [])

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A status-store metric string -> number (bytes, seconds or count).

    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    plain ones are the bare value.
    """
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _jlist(spark, seq):
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def sql_executions(spark, since: float) -> list[dict]:
    """Every SQL execution submitted at or after ``since`` (epoch s), with
    its plan nodes' metrics summed per node name."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    for e in _jlist(spark, store.executionsList()):
        submitted = e.submissionTime() / 1000.0
        if submitted < since:
            continue
        eid = e.executionId()
        values = conv.asJava(store.executionMetrics(eid))
        nodes: dict[str, dict[str, float]] = {}
        counts: dict[str, int] = {}
        for node in _jlist(spark, store.planGraph(eid).allNodes()):
            name = node.name()
            counts[name] = counts.get(name, 0) + 1
            acc = nodes.setdefault(name, {})
            for m in _jlist(spark, node.metrics()):
                acc[m.name()] = acc.get(m.name(), 0.0) + parse_metric(
                    values.get(m.accumulatorId()))
        out.append({"id": eid, "submitted": submitted, "nodes": nodes,
                    "node_counts": counts})
    return out


def stage_stats(spark, since: float) -> dict[str, float]:
    """Task skew and spill over the stages submitted at or after ``since``.

    ``task_skew`` is sum over stages of the slowest task's run time over
    sum of the median task's: how much longer a stage's critical path is
    than its typical task (DS2's max/median, weighted by stage time).
    """
    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    empty = gw.jvm.java.util.ArrayList()
    app = spark._jsc.sc().statusStore()
    med_sum = max_sum = spill = 0.0
    stages = 0
    for s in _jlist(spark, app.stageList(empty, False, False, quantiles, empty)):
        sub = s.submissionTime()
        if sub.isEmpty() or sub.get().getTime() / 1000.0 < since:
            continue
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        summary = app.taskSummary(s.stageId(), s.attemptId(), quantiles)
        if summary.isEmpty() or s.numCompleteTasks() < 2:
            continue
        med, mx = _jlist(spark, summary.get().executorRunTime())
        med_sum += med
        max_sum += mx
        stages += 1
    return {"task_skew": max_sum / med_sum if med_sum else 1.0,
            "spill_bytes": spill, "stages": stages}


def attribute(executions: list[dict], spans: list[dict]) -> dict[str, list[dict]]:
    """Executions grouped by the layer prefix of the innermost non-op span
    open when they were submitted (e.g. ``window_ops`` for a span named
    ``window_ops.roll_mean``)."""
    layered = [s for s in spans if not s["name"].startswith("op.")]
    out: dict[str, list[dict]] = {}
    for e in executions:
        best = None
        for s in layered:
            if s["start"] <= e["submitted"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        layer = best["name"].split(".", 1)[0] if best else "other"
        out.setdefault(layer, []).append(e)
    return out


def node_total(executions: list[dict], node_prefix: str, metric: str) -> float:
    return sum(v.get(metric, 0.0) for e in executions
               for name, v in e["nodes"].items() if name.startswith(node_prefix))


def node_count(executions: list[dict], node_name: str) -> int:
    return sum(e["node_counts"].get(node_name, 0) for e in executions)


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
