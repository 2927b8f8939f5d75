"""Structured Streaming tier ingestion: the streamed 1m tier store must
EQUAL a cold batch recomputation from the same raw rows, micro-batching
and replay notwithstanding (continuous-aggregate correctness extended
to the streaming runtime)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from roll_spark.plans import tiers as T
from roll_spark.sources.transcripts import derive_series, generate_transcripts
from roll_spark.streaming.rollup import TierStore, cascade_from_store, run_stream_to_tier

SCHEMA = "conv_id string, turn_idx int, ts timestamp, text_len double"
KEYS = ["conv_id", "bucket_ts"]


def _stats_pdf(df) -> pd.DataFrame:
    out = (
        df.select("conv_id", "bucket_ts", "n", "sum_x", "m2", "min_x", "max_x",
                  "first_ts", "last_ts")
        .toPandas()
        .sort_values(KEYS)
        .reset_index(drop=True)
    )
    return out


def _assert_tier_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert len(got) == len(want)
    for c in ("conv_id", "bucket_ts", "n", "first_ts", "last_ts"):
        assert got[c].tolist() == want[c].tolist(), c
    for c in ("sum_x", "m2", "min_x", "max_x"):
        assert np.allclose(got[c], want[c], rtol=1e-9, atol=1e-9), c


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    """Raw transcript series written as MANY small parquet files so
    maxFilesPerTrigger=2 yields several micro-batches."""
    base = tmp_path_factory.mktemp("stream_src")
    df = derive_series(generate_transcripts(spark, n_convs=12, median_turns=30))
    df.select("conv_id", "turn_idx", "ts", "text_len").repartition(8).write.mode(
        "overwrite"
    ).parquet(str(base / "raw"))
    return str(base / "raw")


def test_stream_tier_equals_batch(spark, raw_dir, tmp_path):
    store_path = str(tmp_path / "tier_1m")
    run_stream_to_tier(
        spark, raw_dir, SCHEMA, "text_len", "ts", "conv_id",
        tier="1m", store_path=store_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        # the raw files are written in random (repartitioned) order, so the
        # watermark must cover the source's full time disorder or older
        # events in later micro-batches are dropped as late data — the
        # watermark is a correctness contract, not just a state bound
        watermark="3650 days", max_files_per_trigger=2,
    )
    got = _stats_pdf(spark.read.parquet(store_path))
    raw = spark.read.parquet(raw_dir)
    want = _stats_pdf(T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m"))
    _assert_tier_equal(got, want)

    # coarser tiers derived from the streamed store == batch cascade
    got_1h = _stats_pdf(cascade_from_store(spark, store_path, "conv_id", ("1h",))["1h"])
    want_1h = _stats_pdf(T.cascade(raw, "text_len", "ts", "conv_id", ("1m", "1h"))["1h"])
    _assert_tier_equal(got_1h, want_1h)


def test_store_upsert_idempotent(spark, raw_dir, tmp_path):
    """Replaying the same cumulative update must be a no-op — the
    recovery property foreachBatch's at-least-once semantics rely on."""
    store_path = str(tmp_path / "tier_store")
    raw = spark.read.parquet(raw_dir)
    stats = T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m")
    store = TierStore(spark, store_path, "conv_id", "1m")
    store.upsert(stats)
    once = _stats_pdf(store.read())
    store.upsert(stats)  # replay
    twice = _stats_pdf(store.read())
    _assert_tier_equal(twice, once)


def test_store_upsert_touches_only_batch_days(spark, raw_dir, tmp_path):
    """An upsert whose rows fall in ONE day must leave every other day
    partition's files byte-for-byte untouched — the property that makes
    the merge O(batch), not O(store history)."""
    import os

    from pyspark.sql import functions as F

    store_path = str(tmp_path / "tier_store_days")
    raw = spark.read.parquet(raw_dir)
    stats = T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m")
    store = TierStore(spark, store_path, "conv_id", "1m")
    store.upsert(stats)
    days = sorted(d for d in os.listdir(store_path) if d.startswith("_day="))
    assert len(days) >= 2, "fixture must span multiple days"
    target_day = days[0].split("=", 1)[1]

    def snapshot(skip_day):
        out = {}
        for d in os.listdir(store_path):
            if not d.startswith("_day=") or d == f"_day={skip_day}":
                continue
            for root, _, files in os.walk(os.path.join(store_path, d)):
                for f in sorted(files):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot(target_day)
    one_day = stats.filter(
        F.date_format("bucket_ts", "yyyy-MM-dd") == target_day
    )
    store.upsert(one_day)
    assert snapshot(target_day) == before
    # and the store still equals the full recomputation (replacement of
    # one day's cumulative rows is a no-op)
    _assert_tier_equal(_stats_pdf(store.read()), _stats_pdf(stats))


def test_store_read_heals_interrupted_swap(spark, raw_dir, tmp_path):
    """A crash between the two renames of a day swap leaves only
    ``_day=D__old`` — read() must restore it, never return an empty or
    partial store."""
    import os
    import shutil

    store_path = str(tmp_path / "tier_store_crash")
    raw = spark.read.parquet(raw_dir)
    stats = T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m")
    store = TierStore(spark, store_path, "conv_id", "1m")
    store.upsert(stats)
    want = _stats_pdf(store.read())
    day_dir = sorted(
        d for d in os.listdir(store_path) if d.startswith("_day=")
    )[0]
    live = os.path.join(store_path, day_dir)
    # simulate the crash window: the live copy was renamed aside and the
    # replacement never landed
    os.replace(live, live + "__old")
    healed = _stats_pdf(store.read())
    _assert_tier_equal(healed, want)
    assert os.path.exists(live) and not os.path.exists(live + "__old")


def test_small_watermark_fails_loudly(spark, tmp_path):
    """An event arriving beyond the watermark horizon lands after its
    window's state may have been evicted — depending on the Spark
    version it is silently dropped OR re-aggregated partially, and
    either way the store would no longer equal the batch recomputation.
    The ingest must RAISE, never return a silently-wrong store (the
    watermark-as-correctness-contract guarantee)."""
    import glob
    import os
    import shutil
    import time

    src = tmp_path / "src"
    os.makedirs(src)
    new = pd.DataFrame({
        "conv_id": ["c1"] * 5, "turn_idx": range(5),
        "ts": pd.date_range("2025-02-11", periods=5, freq="1min"),
        "text_len": [1.0] * 5,
    })
    old = pd.DataFrame({
        "conv_id": ["c1"] * 5, "turn_idx": range(5, 10),
        "ts": pd.date_range("2025-02-01", periods=5, freq="1min"),
        "text_len": [2.0] * 5,
    })

    def put(df, name, mtime):
        # the file stream drains files oldest-mtime first: pin mtimes so
        # the NEW file is consumed before the 10-days-older one
        d = tmp_path / ("w_" + name)
        spark.createDataFrame(df).coalesce(1).write.mode("overwrite").parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    put(new, "f_new", now - 100)
    put(old, "f_old", now)
    with pytest.raises(RuntimeError, match="watermark horizon"):
        run_stream_to_tier(
            spark, str(src), SCHEMA, "text_len", "ts", "conv_id",
            tier="1m", store_path=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            watermark="1 minute", max_files_per_trigger=1,
        )


def test_stream_killed_and_resumed_equals_batch(spark, raw_dir, tmp_path,
                                                monkeypatch):
    """Multi-day soak of the crash/resume surface: the ingest is KILLED
    mid-run — after two committed micro-batches, dying INSIDE a day swap
    (one live day renamed aside, replacement never landed) — then
    resumed from the same checkpoint. Structured Streaming replays the
    uncommitted batch (at-least-once), the upsert's replace-by-key
    idempotency absorbs the replay, and ``_recover`` heals the
    half-swapped day; the drained store must equal the cold batch
    recomputation, and the 1h/1d tiers cascaded from it must equal the
    batch cascade."""
    import os

    store_path = str(tmp_path / "tier_1m")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, raw_dir, SCHEMA, "text_len", "ts", "conv_id")
    kw = dict(tier="1m", store_path=store_path, checkpoint_dir=ckpt,
              watermark="3650 days", max_files_per_trigger=1)

    calls = {"n": 0}
    orig = TierStore.upsert

    def killer(self, df):
        calls["n"] += 1
        if calls["n"] == 3:
            live = sorted(
                os.path.join(store_path, d)
                for d in os.listdir(store_path) if d.startswith("_day=")
            )
            # die mid-swap: the oldest day's live copy was renamed aside
            # and the process never wrote the replacement
            if live:
                os.replace(live[0], live[0] + "__old")
            raise RuntimeError("injected kill")
        orig(self, df)

    monkeypatch.setattr(TierStore, "upsert", killer)
    with pytest.raises(Exception, match="injected kill"):
        run_stream_to_tier(*args, **kw)
    assert calls["n"] == 3, "kill must land after two committed batches"
    assert any(d.endswith("__old") for d in os.listdir(store_path)), \
        "fixture must leave a half-swapped day behind"

    # restart: same checkpoint, same store, healthy upsert
    monkeypatch.setattr(TierStore, "upsert", orig)
    run_stream_to_tier(*args, **kw)

    raw = spark.read.parquet(raw_dir)
    got = _stats_pdf(spark.read.parquet(store_path))
    want = _stats_pdf(T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m"))
    _assert_tier_equal(got, want)
    # fixture really is multi-day (the swap-crash surface needs >=2 days)
    days = {d for d in os.listdir(store_path) if d.startswith("_day=")}
    assert len(days) >= 3 and not any(d.endswith("__old") for d in days)

    got_c = cascade_from_store(spark, store_path, "conv_id", ("1h", "1d"))
    want_c = T.cascade(raw, "text_len", "ts", "conv_id", ("1m", "1h", "1d"))
    _assert_tier_equal(_stats_pdf(got_c["1h"]), _stats_pdf(want_c["1h"]))
    _assert_tier_equal(_stats_pdf(got_c["1d"]), _stats_pdf(want_c["1d"]))


def test_stream_histogram_tier_equals_batch(spark, raw_dir, tmp_path):
    """The distribution tier streams too: a drained per-bin histogram
    store EQUALS tiers.tier_histogram recomputed cold from raw at 1m;
    bin-wise addition to 1h equals the batch 1h histogram; and the
    percentile extracted from the STREAMED store is bit-identical to
    the batch extraction (identical merged inputs -> identical
    deterministic estimator)."""
    from roll_spark.streaming.rollup import run_stream_histogram_to_tier

    lo, hi, nb = 0.0, 400.0, 8
    store_path = str(tmp_path / "hist_1m")
    run_stream_histogram_to_tier(
        spark, raw_dir, SCHEMA, "text_len", "ts", "conv_id",
        tier="1m", lo=lo, hi=hi, n_bins=nb, store_path=store_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days", max_files_per_trigger=2,
    )
    store = TierStore(spark, store_path, "conv_id", "1m",
                      extra_keys=("bin",), stat_cols=("cnt",))
    raw = spark.read.parquet(raw_dir)

    got_1m = {(r.conv_id, r.bucket_ts, r.bin): r.cnt
              for r in store.read().collect()}
    want_1m = {(r.conv_id, r.bucket_ts, r.bin): r.cnt
               for r in T.tier_histogram(raw, "text_len", "ts", "conv_id",
                                         "1m", lo=lo, hi=hi,
                                         n_bins=nb).collect()}
    assert got_1m == want_1m

    # bin-wise addition to 1h == batch 1h histogram
    from pyspark.sql import functions as F
    merged = (store.read()
              .groupBy("conv_id", F.date_trunc("hour", "bucket_ts")
                       .alias("bucket_ts"), "bin")
              .agg(F.sum("cnt").alias("cnt")))
    got_1h = {(r.conv_id, r.bucket_ts, r.bin): r.cnt for r in merged.collect()}
    want_1h = {(r.conv_id, r.bucket_ts, r.bin): r.cnt
               for r in T.tier_histogram(raw, "text_len", "ts", "conv_id",
                                         "1h", lo=lo, hi=hi,
                                         n_bins=nb).collect()}
    assert got_1h == want_1h

    # percentile off the streamed store == off the batch histograms
    got_q = {(r.conv_id, r.bucket_ts): r.q for r in
             T.tier_quantile_from_histogram(
                 store.read(), "conv_id", "1h", 0.75,
                 lo=lo, hi=hi, n_bins=nb).collect()}
    want_q = {(r.conv_id, r.bucket_ts): r.q for r in
              T.tier_quantile_from_histogram(
                  T.tier_histogram(raw, "text_len", "ts", "conv_id", "1m",
                                   lo=lo, hi=hi, n_bins=nb),
                  "conv_id", "1h", 0.75, lo=lo, hi=hi, n_bins=nb).collect()}
    assert got_q == want_q


def test_store_expire_retention(spark, raw_dir, tmp_path):
    """Retention expiry (the drop_chunks analog): days strictly before
    the cutoff vanish, newer days' files are byte-untouched, the
    coverage guard refuses to drop a day the coarser tier hasn't rolled
    up, and an interrupted drop (the renamed-aside dir) is healed by
    read()."""
    import os
    import shutil

    from pyspark.sql import functions as F

    store_path = str(tmp_path / "tier_exp")
    raw = spark.read.parquet(raw_dir)
    stats = T.rollup_raw(raw, "text_len", "ts", "conv_id", "1m")
    store = TierStore(spark, store_path, "conv_id", "1m")
    store.upsert(stats)
    days = sorted(d.split("=", 1)[1] for d in os.listdir(store_path)
                  if d.startswith("_day="))
    assert len(days) >= 3, "fixture must span 3+ days"
    cutoff = days[1]  # drop exactly the oldest day

    # coverage guard: an EMPTY coarser store refuses the drop loudly
    empty_cov = TierStore(spark, str(tmp_path / "cov_none"), "conv_id", "1h")
    with pytest.raises(ValueError, match="roll them up before expiring"):
        store.expire(cutoff, coverage=empty_cov)
    assert sorted(d.split("=", 1)[1] for d in os.listdir(store_path)
                  if d.startswith("_day=")) == days  # nothing dropped

    # roll up to 1h, store it, then the same expire succeeds
    cov_path = str(tmp_path / "cov_1h")
    cov = TierStore(spark, cov_path, "conv_id", "1h")
    cov.upsert(T.merge_tier(store.read(), "conv_id", "1h"))
    dropped = store.expire(cutoff, coverage=cov)
    assert dropped == [days[0]]
    left = sorted(d.split("=", 1)[1] for d in os.listdir(store_path)
                  if d.startswith("_day="))
    assert left == days[1:]

    # surviving rows == batch rollup filtered at the cutoff
    got = _stats_pdf(store.read())
    want = _stats_pdf(
        stats.filter(F.date_format("bucket_ts", "yyyy-MM-dd") >= cutoff))
    _assert_tier_equal(got, want)

    # crash-heal: a lingering renamed-aside dir is removed on next read
    ghost = os.path.join(store_path, f"expired__day={days[1]}")
    os.makedirs(ghost)
    open(os.path.join(ghost, "part-zombie.parquet"), "w").close()
    store.read()
    assert not os.path.exists(ghost)
    # idempotent: nothing older than cutoff remains
    assert store.expire(cutoff, coverage=cov) == []


def test_store_expire_rejects_malformed_cutoff(spark, raw_dir, tmp_path):
    """A cutoff that is not a real YYYY-MM-DD date raises before any day
    is touched: days compare as strings, so '2025-1-5' would otherwise
    drop every day of the fixture (2025-01-01 onwards)."""
    import os

    store_path = str(tmp_path / "tier_bad_cutoff")
    store = TierStore(spark, store_path, "conv_id", "1m")
    store.upsert(T.rollup_raw(spark.read.parquet(raw_dir), "text_len", "ts",
                              "conv_id", "1m"))
    before = sorted(os.listdir(store_path))
    for cutoff in ("2024-1-5", "2025-1-5", "2024-02-30", "2024-01-05\n",
                   "20240105", None):
        with pytest.raises(ValueError):
            store.expire(cutoff)
        assert sorted(os.listdir(store_path)) == before, cutoff


def test_retention_lifecycle_equals_cold_batch(spark, raw_dir, tmp_path):
    """compress_policy -> 1m/1h cascade upserted into TierStores ->
    expire(cutoff, coverage=1h) -> tiered_read, chained on one set of
    stores. The seam under test: the expired 1m days' raw rows are
    already compressed, so the cascade reads them back through the chunk
    decode, and after the expiry every survivor still equals the cold
    batch pipeline over the original raw rows."""
    import os

    from pyspark.sql import functions as F

    from roll_spark.plans.chunks import compress_policy, tiered_read

    raw = spark.read.parquet(raw_dir)
    days = sorted(r[0] for r in raw.select(
        F.date_format("ts", "yyyy-MM-dd")).distinct().collect())
    assert len(days) >= 3, "fixture must span 3+ days"
    cutoff = days[-1]

    chunks, hot = compress_policy(raw, "text_len", "ts", "conv_id", before=cutoff)
    chunks.write.parquet(str(tmp_path / "chunks"))
    hot.write.parquet(str(tmp_path / "hot"))

    def tiered():
        return tiered_read(spark.read.parquet(str(tmp_path / "chunks")),
                           spark.read.parquet(str(tmp_path / "hot")),
                           "text_len", "ts", "conv_id")

    store_1m = TierStore(spark, str(tmp_path / "1m"), "conv_id", "1m")
    store_1h = TierStore(spark, str(tmp_path / "1h"), "conv_id", "1h")
    stats_1m = T.rollup_raw(tiered(), "value", "ts", "conv_id", "1m")
    store_1m.upsert(stats_1m)
    store_1h.upsert(T.merge_tier(store_1m.read(), "conv_id", "1h"))

    assert store_1m.expire(cutoff, coverage=store_1h) == days[:-1]
    left = sorted(d[len("_day="):] for d in os.listdir(str(tmp_path / "1m"))
                  if d.startswith("_day="))
    assert left == [cutoff]

    cold = T.cascade(raw, "text_len", "ts", "conv_id", ("1m", "1h"))
    _assert_tier_equal(
        _stats_pdf(store_1m.read()),
        _stats_pdf(cold["1m"].filter(
            F.date_format("bucket_ts", "yyyy-MM-dd") >= cutoff)))
    _assert_tier_equal(_stats_pdf(store_1h.read()), _stats_pdf(cold["1h"]))

    # the compressed days still serve raw reads and their 1h rollup
    got = tiered().toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    want = (raw.select("conv_id", "ts", F.col("text_len").alias("value"))
            .toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True))
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["ts"].tolist() == want["ts"].tolist()
    assert np.array_equal(got["value"].to_numpy(), want["value"].to_numpy(),
                          equal_nan=True)
    _assert_tier_equal(
        _stats_pdf(T.rollup_raw(tiered(), "value", "ts", "conv_id", "1h")),
        _stats_pdf(cold["1h"]))
