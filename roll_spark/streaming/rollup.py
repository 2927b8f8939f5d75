"""Structured Streaming ingestion for the retention-tier cascade.

The reference package has no streaming runtime ("online" in roll means
the O(1)-per-row algorithm, not a stream — SURVEY.md §2.3); this module
is the engine's extension for continuously-arriving transcripts. The
design reuses the batch tier algebra unchanged:

- the stream aggregates to the SAME mergeable sufficient statistics
  as ``roll_spark.plans.tiers.rollup_raw`` (n, sum_x, m2, min, max,
  first/last), keyed by (series, event-time window), inside Structured
  Streaming's state store with a watermark bounding per-key state;
- update-mode emits carry the CUMULATIVE aggregate for every window a
  micro-batch touched, so foreachBatch upserts them into a persistent
  tier store (replace by (series, bucket) key — NOT a merge, which
  would double-count). Once the source is drained the store EQUALS a
  cold batch recomputation from raw (asserted in
  tests/test_streaming.py);
- coarser tiers (1h/1d) are derived from the stored 1m tier with the
  existing batch Chan-merge cascade.

Scale notes: the upsert is idempotent under micro-batch replay
(at-least-once foreachBatch semantics converge), the same property the
batch checkpoint layer provides (roll_spark.plans.checkpoint). On an
object store the tmp-swap below becomes an Iceberg MERGE INTO keyed on
(series, bucket_ts).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from roll_spark.operators.base import Cols, _as_list
from roll_spark.plans import tiers as T

_WINDOW_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

_DURATION_US = {
    "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def _parse_duration_us(s: str) -> int:
    """Parse a Spark CalendarInterval-style delay to µs — including the
    multi-unit ('1 hour 30 minutes') and week forms Spark accepts."""
    toks = s.strip().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"cannot parse watermark duration: {s!r}")
    total = 0
    for amount, unit in zip(toks[::2], toks[1::2]):
        try:
            total += int(amount) * _DURATION_US[unit.rstrip("s").lower()]
        except (KeyError, ValueError) as e:
            raise ValueError(f"cannot parse watermark duration: {s!r}") from e
    return total


def _us(ts) -> int:
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1, tzinfo=ts.tzinfo)
    return int((ts - epoch).total_seconds() * 1_000_000)


def stream_rollup_raw(
    sdf: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming raw -> tier sufficient stats (same columns as
    ``tiers.rollup_raw``).

    Uses ``F.window`` on the watermarked event-time column — the form
    Structured Streaming tracks for state eviction — rather than
    ``date_trunc``; ``window.start`` is identical to the batch
    ``date_trunc`` bucket for aligned durations.

    The WATERMARK IS A CORRECTNESS CONTRACT, not a tuning knob: any
    event arriving in a later micro-batch more than ``watermark`` behind
    the observed max event time is silently dropped, and the store then
    does NOT equal the batch recomputation this module promises. For a
    continuous stream, size it to the source's maximum event-time
    disorder. For availableNow backfills over unordered files there is
    no safe small value — ``watermark=None`` therefore defaults to a
    drain-safe 3650 days (state is bounded by the drain itself, so the
    huge watermark costs nothing).
    """
    if watermark is None:
        watermark = "3650 days"
    # watermarks require TIMESTAMP; TIMESTAMP_NTZ sources reinterpret as
    # session-TZ instants (the engine pins the session to UTC, so this
    # matches the batch path's date_trunc bucketing exactly)
    if dict(sdf.dtypes).get(ts) == "timestamp_ntz":
        sdf = sdf.withColumn(ts, F.col(ts).cast("timestamp"))
    v = F.col(value)
    n = F.count(v)
    first_struct = F.min(F.when(v.isNotNull(), F.struct(F.col(ts).alias("t"), v.alias("v"))))
    last_struct = F.max(F.when(v.isNotNull(), F.struct(F.col(ts).alias("t"), v.alias("v"))))
    return (
        sdf.withWatermark(ts, watermark)
        .groupBy(*_as_list(by), F.window(F.col(ts), _WINDOW_DURATION[tier]).alias("_w"))
        .agg(
            n.alias("n"),
            n.cast("double").alias("sum_w"),
            F.sum(v).alias("sum_x"),
            F.coalesce(F.var_samp(v) * (n - 1), F.lit(0.0)).alias("m2"),
            F.min(v).alias("min_x"),
            F.max(v).alias("max_x"),
            first_struct.getField("t").alias("first_ts"),
            first_struct.getField("v").alias("first_x"),
            last_struct.getField("t").alias("last_ts"),
            last_struct.getField("v").alias("last_x"),
        )
        .withColumn(T.BUCKET, F.col("_w.start"))
        .drop("_w")
    )


HIST_STAT_COLS = ["cnt", "first_ts", "last_ts"]


def stream_histogram_raw(
    sdf: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    lo: float,
    hi: float,
    n_bins: int,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming raw -> per-(series, bucket, bin) equi-width histogram
    counts — the distribution tier's streaming twin (same bin algebra
    as ``tiers.tier_histogram``: floor((v-lo)/step) clamped to the edge
    bins). Update-mode rows are CUMULATIVE per (series, bucket, bin),
    so the store upsert replaces by that 3-part key; counts stay
    mergeable by addition for the coarser-tier cascade. ``first_ts`` /
    ``last_ts`` event-time extremes ride along for the drain loop's
    watermark-horizon guard (same contract as the moment tiers)."""
    if not (n_bins > 0 and hi > lo):
        raise ValueError("need n_bins > 0 and hi > lo")
    if watermark is None:
        watermark = "3650 days"
    if dict(sdf.dtypes).get(ts) == "timestamp_ntz":
        sdf = sdf.withColumn(ts, F.col(ts).cast("timestamp"))
    v = F.col(value)
    step = (float(hi) - float(lo)) / int(n_bins)
    raw_bin = F.floor((v - F.lit(float(lo))) / F.lit(step))
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(int(n_bins) - 1))
    return (
        sdf.filter(v.isNotNull())
        .withWatermark(ts, watermark)
        .groupBy(
            *_as_list(by),
            F.window(F.col(ts), _WINDOW_DURATION[tier]).alias("_w"),
            bin_.cast("int").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("last_ts"),
        )
        .withColumn(T.BUCKET, F.col("_w.start"))
        .drop("_w")
    )


class TierStore:
    """Parquet-backed store of one tier's sufficient statistics,
    DAY-PARTITIONED (`_day=YYYY-MM-DD/` directories) with an exact
    idempotent merge that rewrites ONLY the days a micro-batch touches —
    O(batch event-time span), never O(store history). Day swaps are
    rename-aside (`day -> day__old; new -> day; rm day__old`), so a
    crash at any point leaves at least one complete copy of every day;
    ``read`` heals interrupted swaps. Production form on an object
    store is an Iceberg MERGE INTO keyed on (series, bucket_ts) over the
    same day partitioning."""

    def __init__(self, spark: SparkSession, path: str, by: Cols, tier: str,
                 *, extra_keys: tuple[str, ...] = (),
                 stat_cols: tuple[str, ...] | None = None):
        """``extra_keys`` extends the replace-by key beyond
        (series, bucket_ts) — e.g. ``("bin",)`` for a histogram tier
        whose update-mode rows are cumulative PER BIN; ``stat_cols``
        overrides the stored value columns (default: the moment tiers'
        sufficient statistics). Defaults preserve the original
        moment-store behavior exactly."""
        self.spark = spark
        self.path = path
        self.by = _as_list(by)
        self.tier = tier
        self.extra_keys = list(extra_keys)
        self.stat_cols = list(stat_cols) if stat_cols is not None else list(T.STAT_COLS)

    # -- layout helpers ----------------------------------------------------

    def _day_dirs(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return [d for d in os.listdir(self.path) if d.startswith("_day=")]

    def _recover(self) -> None:
        """Heal an interrupted swap: a ``_day=D__old`` with no ``_day=D``
        means the crash hit between the two renames — the old copy is
        complete, restore it. With both present the new copy is fully
        written — drop the old one."""
        if not os.path.isdir(self.path):
            return
        for d in os.listdir(self.path):
            if d.startswith("expired__"):
                # a crash between expire()'s rename-aside and its rmtree:
                # the rename already committed the drop (the dir no longer
                # matches _day=*, so read() ignores it) — finish deleting.
                shutil.rmtree(os.path.join(self.path, d))
                continue
            if not d.endswith("__old"):
                continue
            old = os.path.join(self.path, d)
            live = os.path.join(self.path, d[: -len("__old")])
            if os.path.exists(live):
                shutil.rmtree(old)
            else:
                os.replace(old, live)

    def read(self) -> DataFrame | None:
        self._recover()
        days = self._day_dirs()
        if not days:
            return None
        return (
            self.spark.read.option("basePath", self.path)
            .parquet(*[os.path.join(self.path, d) for d in days])
            .drop("_day")
        )

    def _read_days(self, days: list[str]) -> DataFrame | None:
        """Read only the given day partitions (partition pruning by
        construction: untouched days' files are never opened)."""
        self._recover()
        paths = [
            os.path.join(self.path, f"_day={d}")
            for d in days
            if os.path.exists(os.path.join(self.path, f"_day={d}"))
        ]
        if not paths:
            return None
        return (
            self.spark.read.option("basePath", self.path)
            .parquet(*paths)
            .drop("_day")
        )

    def upsert(self, updated: DataFrame) -> None:
        """Replace the store's rows for every (series, bucket) key present
        in ``updated`` — update-mode rows are cumulative aggregates, so
        replacement (not moment-merging) is the exact operation, and
        replaying a micro-batch is a no-op (idempotent recovery). Only
        the day partitions present in the batch are read, rewritten and
        swapped; every other day's files are untouched."""
        cols = [*self.by, T.BUCKET, *self.extra_keys, *self.stat_cols]
        new = updated.select(*cols).withColumn(
            "_day", F.date_format(T.BUCKET, "yyyy-MM-dd")
        )
        days = sorted(r[0] for r in new.select("_day").distinct().collect())
        if not days:
            return
        cur = self._read_days(days)
        if cur is not None:
            keys = [*self.by, T.BUCKET, *self.extra_keys]
            kept = cur.join(new.select(*keys), on=keys, how="left_anti").withColumn(
                "_day", F.date_format(T.BUCKET, "yyyy-MM-dd")
            )
            new = kept.select(new.columns).unionByName(new)
        tmp = self.path + "__tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        new.write.partitionBy("_day").mode("overwrite").parquet(tmp)
        os.makedirs(self.path, exist_ok=True)
        for d in days:
            src = os.path.join(tmp, f"_day={d}")
            dst = os.path.join(self.path, f"_day={d}")
            old = dst + "__old"
            if not os.path.exists(src):
                # key-only day with every row replaced away cannot happen
                # (new rows always carry their own day); guard anyway
                continue
            if os.path.exists(dst):
                os.replace(dst, old)
            os.replace(src, dst)
            if os.path.exists(old):
                shutil.rmtree(old)
        shutil.rmtree(tmp)

    def expire(self, before_day: str,
               coverage: "TierStore | None" = None) -> list[str]:
        """Retention policy — the TimescaleDB ``drop_chunks`` analog for
        this store: drop every ``_day=D`` partition with D strictly
        before ``before_day`` (``YYYY-MM-DD``). PARTITION-LEVEL deletion:
        directory renames only, no data is scanned or rewritten — at
        100 TB this is the Iceberg DROP PARTITION / expire-snapshots
        metadata operation, O(days dropped), never O(rows).

        If ``coverage`` is given (the COARSER tier's store, e.g. the 1h
        store when expiring raw/1m days), a day is only dropped when the
        coverage store has that day partition too — the "continuous
        aggregate must cover the chunk before the chunk may drop" safety
        TimescaleDB retention policies pair with caggs. If any doomed day
        has no coverage partition, ValueError is raised before anything
        is dropped, so a mis-ordered pipeline (expire before rollup)
        fails loudly instead of silently losing data.

        The guard is a directory listing on both sides (metadata-only):
        it checks that each day is PRESENT in the coverage store, not
        that it is COMPLETE. A coverage day written from a partial
        rollup (say, an upsert of only the day's first batch) passes,
        and the rows it lacks are lost with the expired day. Upsert
        every batch of a day into the coverage store before expiring it.

        Crash-safe: each dropped day is renamed to ``expired__day=D``
        (atomic; the prefix no longer matches ``_day=*`` so a reader
        never sees a half-deleted partition) and then removed;
        ``_recover`` finishes the removal after a crash. Returns the
        dropped day names.

        ``before_day`` must be a real ``YYYY-MM-DD`` date: days compare
        as strings, so ``'2024-1-5'`` sorts after every day of 2024-01
        to 2024-09 and would drop them all. A malformed cutoff raises before anything is
        touched."""
        if not (isinstance(before_day, str)
                and re.fullmatch(r"\d{4}-\d{2}-\d{2}", before_day, re.ASCII)):
            raise ValueError(
                f"expire({before_day!r}): cutoff must be YYYY-MM-DD")
        datetime.date.fromisoformat(before_day)  # rejects 2024-02-30
        self._recover()
        days = sorted(d[len("_day="):] for d in self._day_dirs())
        doomed = [d for d in days if d < before_day]
        if coverage is not None and doomed:
            covered = {c[len("_day="):] for c in coverage._day_dirs()}
            missing = [d for d in doomed if d not in covered]
            if missing:
                raise ValueError(
                    f"expire({before_day!r}): day(s) {missing} have rows in "
                    f"this store but no partition in the coverage store "
                    f"({coverage.path}) — roll them up before expiring"
                )
        for d in doomed:
            live = os.path.join(self.path, f"_day={d}")
            aside = os.path.join(self.path, f"expired__day={d}")
            os.replace(live, aside)
            shutil.rmtree(aside)
        return doomed


def run_stream_to_tier(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    value: str,
    ts: str,
    by: Cols,
    *,
    tier: str = "1m",
    store_path: str,
    checkpoint_dir: str,
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Consume a parquet directory as a stream and fold it into a tier
    store, micro-batch by micro-batch (availableNow: drains everything
    currently in the source, in bounded batches, then stops).

    Emits in update mode via foreachBatch so windows still above the
    watermark are upserted too — the store converges to the exact batch
    answer once the source is drained, PROVIDED no event was dropped by
    the watermark along the way. Parquet files drain in no particular
    event-time order, so ``watermark=None`` (the default) uses the
    drain-safe 3650-day value — see ``stream_rollup_raw``. Pass an
    explicit watermark ONLY for continuous sources, sized to the
    source's max event-time disorder; a too-small value silently drops
    late rows and breaks the store == batch-recompute equivalence.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(source_dir)
    stats = stream_rollup_raw(sdf, value, ts, by, tier, watermark=watermark)
    store = TierStore(spark, store_path, by, tier)
    _drain_stats_to_store(stats, store, checkpoint_dir, watermark)


def _drain_stats_to_store(stats: DataFrame, store: TierStore,
                          checkpoint_dir: str,
                          watermark: str | None) -> None:
    """Shared drain loop: update-mode foreachBatch upserts of a
    watermarked streaming aggregate into a TierStore, with the
    watermark-horizon guard. ``stats`` must carry ``first_ts`` /
    ``last_ts`` event-time extremes (all tier aggregates here do) —
    the guard compares event time, not bucket starts.
    """
    # The watermark is a correctness contract: an event arriving more
    # than ``watermark`` behind the observed max event time lands after
    # its window's state may have been EVICTED, so the re-aggregated
    # update holds only the late rows and the upsert would REPLACE a
    # complete bucket with a partial one (or, depending on the Spark
    # version, the row is dropped outright — either way the store no
    # longer equals the batch recomputation). Spark's own
    # numRowsDroppedByWatermark metric misses the partial-re-aggregation
    # mode, so the merge loop enforces the contract itself: refuse any
    # micro-batch whose oldest touched bucket is older than the
    # watermark horizon behind the newest bucket seen so far.
    delta_us = _parse_duration_us(watermark or "3650 days")
    seen = {"max": None, "violation": None}

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch re-executes the stateful aggregation per ACTION
        # (the guard agg here + the store's distinct-days / anti-join /
        # write): materialize the micro-batch ONCE. localCheckpoint, not
        # persist — persisting a foreachBatch frame trips attribute
        # re-resolution (NoSuchElementException on the grouping key),
        # while a local checkpoint returns a fresh-lineage DataFrame.
        batch_df = batch_df.localCheckpoint(eager=True)
        # the guard compares EVENT-time extremes (first_ts/last_ts ride
        # in the sufficient stats) — the same clock Spark's watermark
        # advances on; comparing bucket starts instead would leave a
        # blind window of up to one tier duration
        lo, hi = batch_df.agg(
            F.min("first_ts"), F.max("last_ts")
        ).first()
        if lo is not None:
            if seen["max"] is not None and _us(lo) < _us(seen["max"]) - delta_us:
                seen["violation"] = (
                    f"stream_to_tier: micro-batch {batch_id} contains an "
                    f"event at {lo}, older than the watermark horizon "
                    f"({watermark or 'default'} behind {seen['max']}); its "
                    "window state may have been evicted and the upsert "
                    "would corrupt the store. Use a watermark covering "
                    "the source's max event-time disorder (or the "
                    "drain-safe default for backfills)."
                )
                raise RuntimeError(seen["violation"])
            if seen["max"] is None or hi > seen["max"]:
                seen["max"] = hi
        store.upsert(batch_df)

    q = (
        stats.writeStream.outputMode("update")
        .foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as e:
        # foreachBatch runs in THIS driver process, so the closure flag
        # survives the py4j round-trip even though the wrapped
        # StreamingQueryException truncates the original message
        if seen["violation"] is not None:
            raise RuntimeError(seen["violation"]) from e
        raise


def run_stream_histogram_to_tier(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    value: str,
    ts: str,
    by: Cols,
    *,
    tier: str = "1m",
    lo: float,
    hi: float,
    n_bins: int,
    store_path: str,
    checkpoint_dir: str,
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a parquet directory as a stream into a per-bin histogram
    TierStore (replace-by-(series, bucket, bin) upserts). Once drained
    the store's counts EQUAL ``tiers.tier_histogram`` recomputed cold
    from raw, and coarser-tier distributions follow by the same bin-wise
    addition the batch path uses (tests/test_streaming.py). Same
    watermark contract / guard / crash-safe store as the moment-tier
    ingest."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(source_dir)
    stats = stream_histogram_raw(sdf, value, ts, by, tier,
                                 lo=lo, hi=hi, n_bins=n_bins,
                                 watermark=watermark)
    store = TierStore(spark, store_path, by, tier,
                      extra_keys=("bin",), stat_cols=tuple(HIST_STAT_COLS))
    _drain_stats_to_store(stats, store, checkpoint_dir, watermark)


def cascade_from_store(
    spark: SparkSession,
    store_path: str,
    by: Cols,
    tiers: tuple[str, ...] = ("1h", "1d"),
) -> dict[str, DataFrame]:
    """Derive coarser tiers from a streamed finest-tier store with the
    batch Chan-merge cascade."""
    cur = TierStore(spark, store_path, by, "1m").read()
    out: dict[str, DataFrame] = {}
    for tier in tiers:
        cur = T.merge_tier(cur, by, tier)
        out[tier] = cur
    return out
