"""stream_ingest, the second part of the tier_lifecycle workload: the
streaming twins, draining time-ordered parquet files.

The telemetry of retention_lifecycle, cut into one file per hour of event
time (every series' slice of that hour). Two queries drain the files with
``availableNow`` and ``maxFilesPerTrigger=1``, one after the other:

- ``run_stream_to_tier`` into a 1m ``TierStore`` (many small day-local
  upserts, beside the few bulk ones of retention_lifecycle);
- ``stream_roll`` with ``op="mean"`` w10 into a ``noop`` sink.

An operation is one hour file through both queries: the ``triggerExecution``
of the tier query's micro-batch plus that of the ``stream_roll`` micro-batch
for the same file. The loop is closed: every stream use in the package is
an ``availableNow`` backfill, and a backfill repeats far better on a shared
4-core box than a fixed-rate open loop does.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Recorder, Tracer, dir_bytes, progress_log
from telemetry import SCHEMA, make_telemetry, stats_mismatches

N_SERIES = 50
HOURS = 5
# the warm-up pass drains only the first hours: enough for a cross-batch
# carry, without paying a cold drain of every file
WARM_HOURS = 2
SMOKE_SERIES = 4
SMOKE_HOURS = 2
BY = "series"
WIDTH = 10
QUERIES = ("stream_tier", "stream_roll")
CHECK_TABLE = "perfbench_stream_roll_check"


class Workload:
    min_iterations = 1

    def __init__(self, spark, seed: int, smoke: bool, workdir: str, tracer: Tracer):
        self.spark, self.seed, self.smoke, self.tracer = spark, seed, smoke, tracer
        self.workdir = workdir
        self.src = os.path.join(workdir, "src")
        self.warm_src = os.path.join(workdir, "warm-src")
        self.log = progress_log(spark)
        self.traced_events: dict[str, list] = {q: [] for q in QUERIES}

    def setup(self) -> None:
        n_series, hours = (SMOKE_SERIES, SMOKE_HOURS) if self.smoke else (N_SERIES, HOURS)
        self.pdf = make_telemetry(self.seed, n_series, hours)
        self.rows = len(self.pdf)
        hour = self.pdf["ts"].dt.floor("h")
        self.warm_pdf = self.pdf[hour < hour.min() + np.timedelta64(WARM_HOURS, "h")]
        for src, pdf in ((self.src, self.pdf), (self.warm_src, self.warm_pdf)):
            shutil.rmtree(src, ignore_errors=True)
            os.makedirs(src)
            now = time.time()
            for i, (_, part) in enumerate(pdf.groupby(pdf["ts"].dt.floor("h"))):
                path = os.path.join(src, f"slice-{i:04d}.parquet")
                pq.write_table(pa.Table.from_pandas(
                    part.assign(ts=part["ts"].dt.tz_localize("UTC")), preserve_index=False), path)
                # the file source drains in modification-time order
                os.utime(path, (now - 1000 + i, now - 1000 + i))

    def _drain(self, rec: Recorder, query: str, start) -> tuple[float, int, list[float]]:
        """Run one drain: (wall, rows consumed, triggerExecution s per batch)."""
        n = len(self.log.started)
        t0 = time.perf_counter()
        if rec.op(query, lambda: self._in_span(query, start), sample=False) is None:
            return time.perf_counter() - t0, 0, []
        wall = time.perf_counter() - t0
        events = self.log.wait_terminated(self.log.nth_started(n))
        if self.tracer.enabled:
            self.traced_events[query].extend(events)
        return (wall, sum(e["numInputRows"] for e in events),
                [e["durationMs"]["triggerExecution"] / 1000.0 for e in events])

    def _in_span(self, query, start):
        with self.tracer.span(f"streaming.{query}"):
            start()
        return True

    def iteration(self, rec: Recorder, sink: str = "noop", warm: bool = False) -> tuple[float, int]:
        from roll_spark.streaming.rolling import stream_roll
        from roll_spark.streaming.rollup import run_stream_to_tier

        src = self.warm_src if warm else self.src
        for d in os.listdir(self.workdir):
            if not d.endswith("src"):
                shutil.rmtree(os.path.join(self.workdir, d))
        self.store = os.path.join(self.workdir, "store")

        def tier():
            run_stream_to_tier(self.spark, src, SCHEMA, "value", "ts", BY, tier="1m",
                               store_path=self.store,
                               checkpoint_dir=os.path.join(self.workdir, "ckpt-tier"),
                               max_files_per_trigger=1)

        def roll():
            sdf = (self.spark.readStream.schema(SCHEMA)
                   .option("maxFilesPerTrigger", 1).parquet(src))
            writer = (stream_roll(sdf, "value", BY, "ts", WIDTH, op="mean", out="m")
                      .writeStream.outputMode("append").format(sink)
                      .option("checkpointLocation", os.path.join(self.workdir, "ckpt-roll"))
                      .trigger(availableNow=True))
            if sink == "memory":
                writer = writer.queryName(CHECK_TABLE)
            writer.start().awaitTermination()

        w1, r1, tier_s = self._drain(rec, "stream_tier", tier)
        w2, r2, roll_s = self._drain(rec, "stream_roll", roll)
        # one operation = one file through both queries: the tier batch and
        # the stream_roll batch that consumed it. Pooling the two queries'
        # batches one by one would put the median on the seam between their
        # two modes; a trailing no-data batch joins the last file's operation.
        files = min(len(tier_s), len(roll_s))
        for i in range(files):
            extra = sum(tier_s[files:]) + sum(roll_s[files:]) if i == files - 1 else 0.0
            rec.add_sample("stream_file", tier_s[i] + roll_s[i] + extra)
        return w1 + w2, r1 + r2

    def warmup(self, rec: Recorder) -> None:
        """One drain of each query over the first WARM_HOURS files;
        ``stream_roll`` goes to a memory sink so the checks can read what it
        emitted."""
        self.iteration(rec, sink="memory", warm=True)

    def checks(self) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F
        from roll_spark import roll_mean
        from roll_spark.plans import tiers as T
        from roll_spark.streaming.rollup import TierStore

        batch = self.spark.createDataFrame(self.warm_pdf, SCHEMA)
        diff = stats_mismatches(TierStore(self.spark, self.store, BY, "1m").read(),
                                T.rollup_raw(batch, "value", "ts", BY, "1m"), [BY, "bucket_ts"])
        out = [("drained 1m store equals batch rollup_raw 1m", not diff, diff)]
        got = self.spark.table(CHECK_TABLE).select(BY, "ts", F.col("m").alias("got"))
        want = roll_mean(batch, "value", BY, "ts", WIDTH, min_obs=1, out="want")
        j = got.join(want.select(BY, "ts", "want"), [BY, "ts"], "full_outer")
        bad = (F.col("got").isNull() | F.col("want").isNull()
               | (F.abs(F.col("got") - F.col("want"))
                  > 1e-9 * F.greatest(F.abs("want"), F.lit(1.0))))
        row = j.agg(F.count(F.lit(1)), F.sum(F.when(bad, 1).otherwise(0))).first()
        out.append(("streamed mean equals batch roll_mean row by row",
                    row[1] == 0 and row[0] == len(self.warm_pdf),
                    f"{row[1]} of {row[0]} rows differ, {len(self.warm_pdf)} expected"))
        return out

    def stored_bytes(self) -> int:
        return dir_bytes(self.store)

    def layer_metrics(self) -> dict[str, float]:
        """Progress of the traced drains, plus ``kernels.online_busy_s``: the
        ``online_mean`` kernel ``stream_roll`` folds each series' slice
        through, run single-core here on the same per-file arrays."""
        from roll_spark.operators import kernels as K

        m: dict[str, float] = {}
        for q, events in self.traced_events.items():
            dur = lambda k: statistics.median(e["durationMs"].get(k, 0) for e in events)  # noqa: E731
            last = events[-1]["stateOperators"] if events else []
            m.update({
                f"{q}.batches": len(events),
                f"{q}.rows_in": sum(e["numInputRows"] for e in events),
                f"{q}.add_batch_ms_p50": dur("addBatch"),
                f"{q}.trigger_ms_p50": dur("triggerExecution"),
                f"{q}.wal_commit_ms_p50": dur("walCommit"),
                f"{q}.state_bytes": sum(s["memoryUsedBytes"] for s in last),
                f"{q}.state_rows": sum(s["numRowsTotal"] for s in last),
            })
        hour = self.pdf["ts"].dt.floor("h")
        t0 = time.perf_counter()
        carry: dict[str, dict] = {}
        for _, part in self.pdf.groupby(hour):
            for s, g in part.groupby(BY):
                _, carry[s] = K.online_mean(g.sort_values("ts")["value"].to_numpy(np.float64),
                                            WIDTH, min_obs=1, state=carry.get(s))
        m["kernels.online_busy_s"] = time.perf_counter() - t0
        return m

    def close(self) -> None:
        self.spark.streams.removeListener(self.log)
