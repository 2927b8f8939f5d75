"""retention_lifecycle, the first part of the tier_lifecycle workload: the
raw -> 1m -> 1h -> 1d lifecycle on dense telemetry.

One iteration, each step one timed operation, on fresh stores:

1. cascade: ``tiers.rollup_raw`` 1m, then ``tiers.merge_tier`` 1h and 1d,
   each materialized once and upserted into its ``TierStore``;
2. ``chunks.compress_policy`` on every day but the last, chunks and hot
   rows written to disk;
3. ``TierStore.expire`` of the 1m days the 1h store covers;
4. reads: ``tiered_read`` -> 1h ``rollup_raw``, ``gapfill`` locf over the
   1h store, ``ohlc_bars`` 1h, and ``tier_histogram`` 1m ->
   ``tier_quantile_from_histogram`` p90 1h.

Writes run beside reads on the tier and cold-storage layers, so a write-side
gain that costs a read, or bytes on disk, shows here. Rolling kernels do no
work; only chunk encode and decode cross the Python boundary.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import Recorder, Tracer, dir_bytes
from telemetry import HIST_BINS, HIST_HI, HIST_LO, SCHEMA, make_telemetry, stats_mismatches

N_SERIES = 4
DAYS = 4
SMOKE_SERIES = 3
SMOKE_DAYS = 2
BY = "series"


class Workload:
    min_iterations = 1

    def __init__(self, spark, seed: int, smoke: bool, workdir: str, tracer: Tracer):
        self.spark, self.seed, self.smoke, self.tracer = spark, seed, smoke, tracer
        self.workdir = workdir
        self.raw = None
        self.cached: list = []

    def setup(self) -> None:
        if self.raw is not None:
            self.raw.unpersist(blocking=True)
        n_series, days = (SMOKE_SERIES, SMOKE_DAYS) if self.smoke else (N_SERIES, DAYS)
        self.pdf = make_telemetry(self.seed, n_series, days * 24)
        self.days = sorted({str(d) for d in self.pdf["ts"].dt.date})
        self.raw = self.spark.createDataFrame(self.pdf, SCHEMA).cache()
        self.rows = self.raw.count()

    # -- one lifecycle ------------------------------------------------------

    def iteration(self, rec: Recorder) -> tuple[float, int]:
        from roll_spark.streaming.rollup import TierStore

        for df in self.cached:
            df.unpersist()
        self.cached = []
        shutil.rmtree(self.workdir, ignore_errors=True)
        self.paths = {k: os.path.join(self.workdir, k) for k in ("1m", "1h", "1d", "chunks", "hot")}
        self.stores = {t: TierStore(self.spark, self.paths[t], BY, t) for t in ("1m", "1h", "1d")}
        self.tier_rows = 0
        self.tier_stats = {}
        steps = [
            ("cascade_1m", lambda: self._cascade("1m", None)),
            ("cascade_1h", lambda: self._cascade("1h", "1m")),
            ("cascade_1d", lambda: self._cascade("1d", "1h")),
            ("compress", self._compress),
            ("expire", self._expire),
            ("read_tiered_1h", self._read_tiered),
            ("read_gapfill_1h", self._read_gapfill),
            ("read_ohlc_1h", self._read_ohlc),
            ("read_p90_1h", self._read_p90),
        ]
        wall = 0.0
        for name, step in steps:
            t0 = time.perf_counter()
            rec.op(name, step)
            wall += time.perf_counter() - t0
        return wall, self.rows

    def warmup(self, rec: Recorder) -> None:
        self.iteration(rec)

    def _cascade(self, tier: str, finer: str | None) -> None:
        from roll_spark.plans import tiers as T

        if finer is None:
            with self.tracer.span("tiers.rollup_raw"):
                stats = T.rollup_raw(self.raw, "value", "ts", BY, tier).cache()
                self.tier_rows += stats.count()
        else:
            with self.tracer.span("tiers.merge_tier"):
                stats = T.merge_tier(self.tier_stats[finer], BY, tier).cache()
                self.tier_rows += stats.count()
        self.cached.append(stats)
        self.tier_stats[tier] = stats
        self.stores[tier].upsert(stats)

    def _compress(self) -> None:
        from roll_spark.plans.chunks import compress_policy

        with self.tracer.span("chunks.compress_policy"):
            chunks, hot = compress_policy(self.raw, "value", "ts", BY, before=self.days[-1])
            chunks.write.parquet(self.paths["chunks"])
            hot.write.parquet(self.paths["hot"])

    def _expire(self) -> None:
        self.expired = self.stores["1m"].expire(self.days[-1], coverage=self.stores["1h"])

    def _tiered(self):
        from roll_spark.plans.chunks import tiered_read

        read = self.spark.read.parquet
        return tiered_read(read(self.paths["chunks"]), read(self.paths["hot"]), "value", "ts", BY)

    def _read_tiered(self) -> None:
        from roll_spark.plans import tiers as T

        with self.tracer.span("chunks.read_tiered"):
            _noop(T.rollup_raw(self._tiered(), "value", "ts", BY, "1h"))

    def _read_gapfill(self) -> None:
        from roll_spark.plans import tiers as T

        with self.tracer.span("tiers.read_gapfill"):
            stats = T.finalize(self.stores["1h"].read())
            _noop(T.gapfill(stats, BY, "1h", value="mean_x", method="locf"))

    def _read_ohlc(self) -> None:
        from roll_spark.plans import tiers as T

        with self.tracer.span("tiers.read_ohlc"):
            _noop(T.ohlc_bars(self.raw, "value", "ts", BY, "1h"))

    def _read_p90(self) -> None:
        from roll_spark.plans import tiers as T

        with self.tracer.span("tiers.read_p90"):
            hist = T.tier_histogram(self.raw, "value", "ts", BY, "1m",
                                    lo=HIST_LO, hi=HIST_HI, n_bins=HIST_BINS)
            _noop(T.tier_quantile_from_histogram(hist, BY, "1h", 0.9, lo=HIST_LO,
                                                 hi=HIST_HI, n_bins=HIST_BINS))

    # -- checks, on what the warm-up iteration left behind -----------------

    def checks(self) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F
        from roll_spark.plans import tiers as T

        def digest(df):
            h = F.xxhash64(BY, F.unix_micros(F.col("ts").cast("timestamp")), "value")
            return tuple(df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first())

        got, want = digest(self._tiered()), digest(self.raw)
        out = [("tiered_read is row-identical to the raw input", got == want,
                f"(rows, hash) {got} vs {want}")]
        diff = stats_mismatches(self.stores["1h"].read(),
                                T.rollup_raw(self.raw, "value", "ts", BY, "1h"),
                                [BY, "bucket_ts"])
        out.append(("cascaded 1h store equals rollup_raw 1h from raw", not diff, diff))
        left = sorted(d[len("_day="):] for d in os.listdir(self.paths["1m"]))
        ok = self.expired == self.days[:-1] and left == self.days[-1:]
        out.append(("expire drops exactly the covered 1m days", ok,
                    f"dropped {self.expired}, left {left}"))
        return out

    def stored_bytes(self) -> int:
        return dir_bytes(*self.paths.values())

    def layer_metrics(self) -> dict[str, float]:
        """Chunk counts from the chunk store, and the Gorilla codec timed
        single-core here on the same series-day chunks the policy encodes."""
        from pyspark.sql import functions as F
        from roll_spark.compression import decode_chunk_auto, encode_chunk_v2

        row = self.spark.read.parquet(self.paths["chunks"]).agg(
            F.count(F.lit(1)), F.sum("n")).first()
        cold = self.pdf[self.pdf["ts"] < np.datetime64(self.days[-1])]
        groups = [(g["ts"].to_numpy().astype("datetime64[us]").astype(np.int64),
                   g["value"].to_numpy())
                  for _, g in cold.groupby([BY, cold["ts"].dt.date])]
        t0 = time.perf_counter()
        blobs = [encode_chunk_v2(ts, v) for ts, v in groups]
        enc_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for b in blobs:
            decode_chunk_auto(b)
        dec_s = time.perf_counter() - t0
        points = len(cold)
        return {
            "chunks.count": row[0],
            "chunks.points_per_chunk": row[1] / row[0],
            "compression.encode_mpts": points / enc_s / 1e6,
            "compression.decode_mpts": points / dec_s / 1e6,
            "compression.bytes_per_point": sum(map(len, blobs)) / points,
            "tiers.rows_out": self.tier_rows,
        }

    def close(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.raw.unpersist()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
