"""rollspark benchmark: one command, seeded closed-loop workloads.

    python3 perfbench/run.py --workload rolling_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --smoke      # tiny sizes, one pass each

Workloads (see LAYERS.md for why each exists and what it should move):
``rolling_batch`` (module rolling_batch) and ``tier_lifecycle`` (modules
retention_lifecycle then stream_ingest); ``all`` runs both in one process and
one Spark session.

Each run: start the session, generate and cache the inputs from ``--seed``
three times and keep the median, make one warm-up pass, then run operations one at a time until ``--seconds`` have passed, then
check what the warm-up pass produced against references computed here. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is non-zero when an operation or a check
failed, or when ``roll_spark`` cannot be imported.

A traced run spends a quarter of its time untraced, half with spans on, then
another quarter untraced; the gap in rows/s between the traced and untraced
passes is the tracing overhead. Spans go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's own modules, then the package under test at the checkout root
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402
from harness import REPO, PeakMemory, Recorder, Tracer  # noqa: E402

# workload -> the modules whose passes it runs, one after the other, in
# every set-up, warm-up and iteration
WORKLOADS = {
    "rolling_batch": ("rolling_batch",),
    "tier_lifecycle": ("retention_lifecycle", "stream_ingest"),
}
SETUP_REPEATS = 3
WORK_ROOT = os.path.join(REPO, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "window_ops.calls": "count",
    "window_ops.busy_s": "s",
    "window_ops.exchanges": "count",
    "window_ops.sorts": "count",
    "window_ops.shuffle_bytes": "B",
    "moments.busy_s": "s",
    "time_windows.busy_s": "s",
    "arrow_ops.calls": "count",
    "arrow_ops.busy_s": "s",
    "arrow_ops.python_total_s": "s",
    "arrow_ops.python_init_s": "s",
    "arrow_ops.python_boot_s": "s",
    "arrow_ops.bytes_to_python": "B",
    "arrow_ops.bytes_from_python": "B",
    "arrow_ops.exchanges": "count",
    "arrow_ops.shuffle_bytes": "B",
    "arrow_ops.broadcast_bytes": "B",
    "kernels.conv_busy_s": "s",
    "kernels.online_busy_s": "s",
    "tiers.rollup_busy_s": "s",
    "tiers.merge_busy_s": "s",
    "tiers.read_busy_s": "s",
    "tiers.rows_out": "count",
    "tiers.shuffle_bytes": "B",
    "chunks.compress_busy_s": "s",
    "chunks.read_busy_s": "s",
    "chunks.count": "count",
    "chunks.points_per_chunk": "count",
    "compression.encode_mpts": "Mpts/s",
    "compression.decode_mpts": "Mpts/s",
    "compression.bytes_per_point": "B",
    "tierstore.upsert_calls": "count",
    "tierstore.upsert_busy_s": "s",
    "tierstore.days_rewritten": "count",
    "tierstore.files_written": "count",
    "tierstore.bytes_written": "B",
    "tierstore.expire_busy_s": "s",
    "tierstore.read_busy_s": "s",
    "storage.bytes_per_row": "B/row",
    **{f"{q}.{m}": u for q in ("stream_roll", "stream_tier") for m, u in (
        ("batches", "count"), ("rows_in", "count"), ("add_batch_ms_p50", "ms"),
        ("trigger_ms_p50", "ms"), ("wal_commit_ms_p50", "ms"),
        ("state_bytes", "B"), ("state_rows", "count"))},
    "spark.task_skew": "ratio",
    "spark.spill_bytes": "B",
    **{f"self_s.{layer}": "s" for layer in (
        "op", "window_ops", "moments", "time_windows", "arrow_ops", "tiers",
        "chunks", "tierstore", "streaming")},
    "trace.spans": "count",
    "trace.overhead": "ratio",
}


def git_commit() -> str:
    """HEAD of the checkout, read from .git without running git."""
    try:
        with open(os.path.join(REPO, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(REPO, ".git", ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(REPO, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment(args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": harness.nproc(), "master": f"local[{harness.cpus()}]",
        "driver_memory": harness.DRIVER_MEMORY, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__, "commit": git_commit(), "seed": args.seed,
        "seconds": args.seconds, "traced": bool(args.trace), "smoke": args.smoke,
    }


def closed_loop(w, rec: Recorder, seconds: float, min_iters: int) -> tuple[float, int, int]:
    """Run whole iterations, at least ``min_iters``, until ``seconds`` have
    passed; returns (timed wall, rows consumed, iterations)."""
    deadline = time.perf_counter() + seconds
    wall = rows = iters = 0
    while iters < min_iters or time.perf_counter() < deadline:
        w.tracer.new_trace()
        dw, dr = w.iteration(rec)
        wall, rows, iters = wall + dw, rows + dr, iters + 1
    return wall, rows, iters


class Combined:
    """One benchmark workload made of parts: their passes run back to back,
    their samples, rows, checks and layer metrics pooled."""

    def __init__(self, parts: list):
        self.parts = parts
        self.tracer = parts[0].tracer
        self.min_iterations = min(p.min_iterations for p in parts)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()
        self.rows = sum(p.rows for p in self.parts)

    def warmup(self, rec: Recorder) -> None:
        for p in self.parts:
            p.warmup(rec)

    def checks(self) -> list:
        return [c for p in self.parts for c in p.checks()]

    def iteration(self, rec: Recorder) -> tuple[float, int]:
        walls, rows = zip(*(p.iteration(rec) for p in self.parts))
        return sum(walls), sum(rows)

    def stored_bytes(self) -> int:
        return sum(p.stored_bytes() for p in self.parts)

    def layer_metrics(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics().items()}

    def close(self) -> None:
        for p in self.parts:
            p.close()


def run_workload(spark, name: str, args, workdir: str, session_start_s: float,
                 rss: PeakMemory) -> dict:
    tracer = Tracer(enabled=False)
    w = Combined([importlib.import_module(m).Workload(
        spark, args.seed, args.smoke, os.path.join(workdir, m), tracer)
        for m in WORKLOADS[name]])
    # input generation + caching is repeated and its median kept; the
    # warm-up pass runs once, since only the first pass after session
    # start pays the cold costs (JIT, Python worker start, imports). The
    # output checks read what the warm-up pass produced.
    setups = []
    for _ in range(1 if args.smoke else SETUP_REPEATS):
        t0 = time.perf_counter()
        w.setup()
        setups.append(time.perf_counter() - t0)
    warm = Recorder(tracer)
    t0 = time.perf_counter()
    w.warmup(warm)
    warmup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    checks = w.checks()
    checks_s = time.perf_counter() - t0

    rec = Recorder(tracer)
    out: dict = {"setup_samples_s": setups, "warmup_s": warmup_s, "checks_s": checks_s}
    pre = Recorder(tracer)
    if args.trace:
        # untraced, traced, untraced: the untraced passes on both sides
        # cancel the drift of a run that is still warming up
        wall_a, rows_a, _ = closed_loop(w, pre, args.seconds / 4, 1)
        tracer.enabled = True
        counters, restore = harness.instrument_tierstore(tracer)
        since = time.time()
        try:
            wall, rows, iters = closed_loop(w, rec, args.seconds / 2, 1)
        finally:
            restore()
            tracer.enabled = False
        layers = per_layer(spark, tracer, since, session_start_s, counters, w)
        wall_b, rows_b, _ = closed_loop(w, pre, args.seconds / 4, 1)
        layers["trace.overhead"] = 1.0 - (rows / wall) / ((rows_a + rows_b) / (wall_a + wall_b))
        out["layers"] = layers
        out["self_times"] = tracer.self_times()
    else:
        wall, rows, iters = closed_loop(w, rec, args.seconds,
                                        1 if args.smoke else w.min_iterations)

    times = [s for _, s in rec.samples]
    level, tail_v = harness.tail(times)
    out.update({
        "iterations": iters, "samples": len(times), "tail_level": level,
        "samples_s": times,
        "per_op_s": {k: statistics.median(s for n, s in rec.samples if n == k)
                     for k in dict.fromkeys(n for n, _ in rec.samples)},
        "attempted": warm.attempted + pre.attempted + rec.attempted + len(checks),
        "failed": (warm.failed + pre.failed + rec.failed
                   + sum(not ok for _, ok, _ in checks)),
        "checks": [{"check": c, "ok": ok, "detail": d} for c, ok, d in checks],
        "e2e": {
            "setup_s": session_start_s + statistics.median(setups) + warmup_s,
            "rows_per_s": rows / wall,
            "op_s_p50": statistics.median(times),
            "op_s_tail": tail_v,
            "peak_rss_mb": max(rss.peak, harness.tree_pss_bytes()) / 2**20,
        },
        "stored_bytes": w.stored_bytes(),
        "spans": tracer.spans,
    })
    w.close()
    return out


def per_layer(spark, tracer: Tracer, since: float, session_start_s: float,
              counters: dict, w) -> dict:
    ex = harness.sql_executions(spark, since)
    by = harness.attribute(ex, tracer.spans)
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_start_s

    def per_call(layer, value):
        calls = tracer.count(f"{layer}.")
        return value / calls if calls else 0.0

    wo = by.get("window_ops", [])
    m.update({
        "window_ops.calls": tracer.count("window_ops."),
        "window_ops.busy_s": tracer.busy("window_ops."),
        "window_ops.exchanges": per_call("window_ops", harness.node_count(wo, "Exchange")),
        "window_ops.sorts": per_call("window_ops", harness.node_count(wo, "Sort")),
        "window_ops.shuffle_bytes": per_call(
            "window_ops", harness.node_total(wo, "Exchange", "shuffle bytes written")),
        "moments.busy_s": tracer.busy("moments."),
        "time_windows.busy_s": tracer.busy("time_windows."),
    })
    ao = by.get("arrow_ops", [])
    py = lambda metric: harness.node_total(ao, "", metric)  # noqa: E731
    m.update({
        "arrow_ops.calls": tracer.count("arrow_ops."),
        "arrow_ops.busy_s": tracer.busy("arrow_ops."),
        "arrow_ops.python_total_s": py("time to run Python workers"),
        "arrow_ops.python_init_s": py("time to initialize Python workers"),
        "arrow_ops.python_boot_s": py("time to start Python workers"),
        "arrow_ops.bytes_to_python": py("data sent to Python workers"),
        "arrow_ops.bytes_from_python": py("data returned from Python workers"),
        "arrow_ops.exchanges": per_call("arrow_ops", harness.node_count(ao, "Exchange")),
        "arrow_ops.shuffle_bytes": per_call(
            "arrow_ops", harness.node_total(ao, "Exchange", "shuffle bytes written")),
        "arrow_ops.broadcast_bytes": per_call(
            "arrow_ops", harness.node_total(ao, "BroadcastExchange", "data size")),
        "tiers.rollup_busy_s": tracer.busy("tiers.rollup"),
        "tiers.merge_busy_s": tracer.busy("tiers.merge"),
        "tiers.read_busy_s": tracer.busy("tiers.read"),
        "tiers.shuffle_bytes": harness.node_total(
            by.get("tiers", []), "Exchange", "shuffle bytes written"),
        "chunks.compress_busy_s": tracer.busy("chunks.compress"),
        "chunks.read_busy_s": tracer.busy("chunks.read"),
        "tierstore.upsert_busy_s": tracer.busy("tierstore.upsert"),
        "tierstore.expire_busy_s": tracer.busy("tierstore.expire"),
        "tierstore.read_busy_s": tracer.busy("tierstore.read"),
        **{f"tierstore.{k}": v for k, v in counters.items()},
        "storage.bytes_per_row": w.stored_bytes() / w.rows,
        "trace.spans": len(tracer.spans),
    })
    stages = harness.stage_stats(spark, since)
    m["spark.task_skew"] = stages["task_skew"]
    m["spark.spill_bytes"] = stages["spill_bytes"]
    for name, own in tracer.self_times().items():
        key = f"self_s.{name.split('.', 1)[0]}"
        if key in m:
            m[key] += own
    m.update(w.layer_metrics())
    return m


def print_report(name: str, res: dict, trace: bool) -> None:
    print(f"== {name}: {res['iterations']} iterations, {res['samples']} timed "
          f"operations, op_s_tail = p{res['tail_level']}; "
          f"{res['failed']} of {res['attempted']} attempted failed "
          f"(error_rate {res['failed'] / res['attempted']:.4f})")
    metrics = res["layers"] if trace else res["e2e"]
    units = PER_LAYER if trace else END_TO_END
    for k, v in metrics.items():
        print(f"   {k:34s} {v:16.6g} {units[k]}")
    print(f"   input setups {[round(x, 2) for x in res['setup_samples_s']]} s, "
          f"warm-up {res['warmup_s']:.1f} s, checks {res['checks_s']:.1f} s")
    print("   per operation (median s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in res["per_op_s"].items()))
    print("   samples: " + " ".join(f"{s:.3f}" for s in sorted(res["samples_s"])))
    for c in res["checks"]:
        if not c["ok"]:
            print(f"   CHECK FAILED: {c['check']}: {c['detail']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one setup and one timed pass per workload")
    args = ap.parse_args(argv)
    if args.smoke:
        args.seconds = 0.0

    if importlib.util.find_spec("roll_spark") is None:
        print(f"perfbench: no roll_spark package in {REPO}", file=sys.stderr)
        return 2

    workdir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # before pyspark is imported: it makes temp files for the JVM launch
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    try:
        with PeakMemory() as rss:
            t0 = time.perf_counter()
            spark = harness.start_session(workdir, args.workload)
            session_start_s = time.perf_counter() - t0
            try:
                for name in names:
                    results[name] = run_workload(spark, name, args, workdir,
                                                 session_start_s, rss)
            finally:
                harness.stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    env = environment(args)
    if args.trace:
        trace_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        for name, res in results.items():
            with open(os.path.join(trace_dir, f"{name}-seed{args.seed}.json"), "w") as f:
                json.dump({"env": env, **res}, f, indent=1, default=str)
    for name, res in results.items():
        print_report(name, res, bool(args.trace))
    print(json.dumps({"env": env}))

    key, units = ("layers", PER_LAYER) if args.trace else ("e2e", END_TO_END)
    metrics = {}
    for name, res in results.items():
        prefix = "" if len(results) == 1 else f"{name}."
        for k, v in res[key].items():
            metrics[prefix + k] = {"value": float(v), "unit": units[k]}
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
