"""Continuous-aggregate retention tiers: raw -> 1m -> 1h -> 1d.

Design (SURVEY.md §7.6): every tier stores MERGEABLE sufficient
statistics, not displayed stats:

    (n, sum_w, sum_x, m2, min, max, first_ts, first_x, last_ts, last_x)

so the next-coarser tier is computed FROM THE PREVIOUS TIER by Chan et
al. parallel moment combination (Chan, Golub & LeVeque 1979 — the
textbook pairwise update; generalized here to g groups in one
aggregation):

    N   = sum n_i
    MU  = sum(n_i mu_i) / N
    M2  = sum m2_i + sum n_i mu_i^2 - N MU^2

which is algebraically exact, so tier outputs EQUAL direct
recomputation from raw (the continuous-aggregate correctness the
north_rule demands; verified in tests/test_tiers.py and by the
tier_1h_cascade driver query vs a direct DuckDB oracle).

Scale notes: each cascade step is a single groupBy on
(series, bucket) — partial aggregation (map-side combine) applies
because every field is an algebraic aggregate; data volume drops by
the bucket fan-in at every step, so the 10^12-turn raw table is
touched exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from roll_spark.operators.base import Cols, _as_list

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
# which tier feeds which in the cascade
CASCADE = [("raw", "1m"), ("1m", "1h"), ("1h", "1d")]

# every tier frame's bucket-start column (TierStore keys on it too)
BUCKET = "bucket_ts"

STAT_COLS = [
    "n", "sum_w", "sum_x", "m2", "min_x", "max_x",
    "first_ts", "first_x", "last_ts", "last_x",
]


def bucket_col(ts: Column, tier: str) -> Column:
    return F.date_trunc(TIERS[tier], ts)


def _raw_stats(v: Column, ts: Column) -> list[Column]:
    """The STAT_COLS aggregates of raw values ``v`` stamped ``ts``.

    m2 is the centered second moment sum((x-mu)^2); Spark's var_samp is
    Welford-based (numerically stable central moments in the JVM), so
    m2 = var_samp * (n-1), with the n==1 -> 0 edge handled explicitly.
    """
    n = F.count(v)
    first_struct = F.min(F.when(v.isNotNull(), F.struct(ts.alias("t"), v.alias("v"))))
    last_struct = F.max(F.when(v.isNotNull(), F.struct(ts.alias("t"), v.alias("v"))))
    return [
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
    ]


def rollup_raw(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
) -> DataFrame:
    """Tier-0 aggregation: raw rows -> per-(series, bucket) sufficient
    stats (see _raw_stats)."""
    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    return df.groupBy(*keys).agg(*_raw_stats(F.col(value), F.col(ts)))


def merge_tier(
    stats: DataFrame,
    by: Cols,
    tier: str,
) -> DataFrame:
    """Chan-merge finer-tier sufficient stats into a coarser tier.

    Exact moment combination across g sub-buckets:
    M2 = sum m2_i + sum(sum_x_i^2/n_i) - (sum sum_x_i)^2 / N.
    """
    keys = [*_as_list(by), bucket_col(F.col(BUCKET), tier).alias(BUCKET)]
    n = F.sum("n")
    sum_x = F.sum("sum_x")
    # sum n_i mu_i^2 = sum sum_x_i^2 / n_i
    sum_n_mu2 = F.sum(F.col("sum_x") * F.col("sum_x") / F.col("n"))
    m2 = F.sum("m2") + sum_n_mu2 - sum_x * sum_x / n
    first_struct = F.min(F.struct(F.col("first_ts").alias("t"), F.col("first_x").alias("v")))
    last_struct = F.max(F.struct(F.col("last_ts").alias("t"), F.col("last_x").alias("v")))
    return stats.groupBy(*keys).agg(
        n.alias("n"),
        F.sum("sum_w").alias("sum_w"),
        sum_x.alias("sum_x"),
        m2.alias("m2"),
        F.min("min_x").alias("min_x"),
        F.max("max_x").alias("max_x"),
        first_struct.getField("t").alias("first_ts"),
        first_struct.getField("v").alias("first_x"),
        last_struct.getField("t").alias("last_ts"),
        last_struct.getField("v").alias("last_x"),
    )


def finalize(stats: DataFrame) -> DataFrame:
    """Attach display stats derived from the sufficient statistics."""
    n = F.col("n")
    mean = F.col("sum_x") / n
    var = F.when(n > 1, F.col("m2") / (n - 1))
    return (
        stats.withColumn("mean_x", mean)
        .withColumn("var_x", var)
        .withColumn("sd_x", F.sqrt(F.when(var >= 0, var).otherwise(F.lit(0.0))))
    )


def cascade(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
) -> dict[str, DataFrame]:
    """Full retention cascade. Raw is scanned ONCE (for the finest tier);
    every coarser tier merges the previous tier's sufficient stats."""
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for tier in tiers:
        if prev is None:
            cur = rollup_raw(df, value, ts, by, tier)
        else:
            cur = merge_tier(prev, by, tier)
        out[tier] = cur
        prev = cur
    return out


# ---------------------------------------------------------------------------
# gap-fill
# ---------------------------------------------------------------------------


def gapfill(
    stats: DataFrame,
    by: Cols,
    tier: str,
    *,
    value: str = "mean_x",
    method: str = "locf",
) -> DataFrame:
    """Fill empty buckets of a tier with an as-of interpolated value.

    Generates each series' dense bucket grid between its first and last
    observed bucket (sequence + explode: no shuffle beyond the original
    grouping), left-joins observed stats, then:

    - ``locf``   last observation carried forward
                 (last(value, ignorenulls) over ordered window);
    - ``linear`` linear interpolation between the bracketing observed
                 points: prev + (next-prev) * (t-t_prev)/(t_next-t_prev).

    Output: (by, bucket_ts, value, <value>_filled, is_gap).
    """
    keys = _as_list(by)
    step = F.expr(f"INTERVAL {TIER_SECONDS[tier]} SECONDS")
    grid = (
        stats.groupBy(*keys)
        .agg(F.min(BUCKET).alias("_lo"), F.max(BUCKET).alias("_hi"))
        .select(*keys, F.explode(F.sequence("_lo", "_hi", step)).alias(BUCKET))
    )
    joined = grid.join(stats.select(*keys, BUCKET, value), [*keys, BUCKET], "left")

    from pyspark.sql import Window

    ow = Window.partitionBy(*keys).orderBy(BUCKET)
    prev_v = F.last(value, ignorenulls=True).over(
        ow.rowsBetween(Window.unboundedPreceding, 0)
    )
    if method == "locf":
        filled = prev_v
    elif method == "linear":
        fw = ow.rowsBetween(0, Window.unboundedFollowing)
        next_v = F.first(value, ignorenulls=True).over(fw)
        t = F.unix_timestamp(BUCKET).cast("double")
        prev_t = F.last(
            F.when(F.col(value).isNotNull(), t), ignorenulls=True
        ).over(ow.rowsBetween(Window.unboundedPreceding, 0))
        next_t = F.first(
            F.when(F.col(value).isNotNull(), t), ignorenulls=True
        ).over(fw)
        frac = F.when(next_t != prev_t, (t - prev_t) / (next_t - prev_t)).otherwise(
            F.lit(0.0)
        )
        filled = F.when(F.col(value).isNotNull(), F.col(value)).otherwise(
            F.when(
                prev_v.isNotNull() & next_v.isNotNull(), prev_v + (next_v - prev_v) * frac
            ).otherwise(prev_v)
        )
    else:
        raise ValueError(f"unknown gapfill method: {method}")
    return joined.withColumn(f"{value}_filled", filled).withColumn(
        "is_gap", F.col(value).isNull()
    )


def ohlc_bars(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
) -> DataFrame:
    """OHLC downsample bars per (series, tier bucket): open/high/low/
    close + count + mean — ONE groupBy with map-side partial
    aggregation, no window, no sort.

    Open/close use min_by/max_by on the timestamp (declarative
    aggregates -> HashAggregate, zero sorts) rather than rollup_raw's
    struct-min encoding, which falls back to SortAggregate (struct
    ordering is interpreted) — same values, cheaper plan; a NULL-value
    row contributes to no bar field (its ordering key is NULLed so
    min_by/max_by skip it). Bars stay Chan-mergeable to coarser tiers:
    open/close re-merge with min_by/max_by over (bar, bucket edge).
    """
    v = F.col(value)
    t_obs = F.when(v.isNotNull(), F.col(ts))
    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    n = F.count(v)
    return df.groupBy(*keys).agg(
        F.min_by(v, t_obs).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, t_obs).alias("close"),
        n.alias("n_obs"),
        (F.sum(v) / n).alias("mean_x"),
    )


def tier_top_values(
    df: DataFrame,
    cat: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    k: int = 1,
    out_count: str = "n_events",
    out_rank: str = "rank",
) -> DataFrame:
    """Top-k most frequent values of a categorical column per (series,
    tier bucket) — heavy-hitters per retention bucket ("which tool /
    event type dominated this hour"), fully deterministic: ties break
    to the lexicographically smallest value.

    Plan: one partial-agg groupBy on (series, bucket, value) — the
    shuffle carries one row per DISTINCT value per bucket, not raw rows
    — then a row_number window on (series, bucket). The count table is
    bounded by the category cardinality per bucket, so the rank stage
    is tiny regardless of raw volume; a 10^9-row hot bucket still
    reduces map-side first.
    """
    from pyspark.sql import Window

    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    counts = df.groupBy(*keys, F.col(cat)).agg(F.count("*").alias(out_count))
    w = Window.partitionBy(*_as_list(by), BUCKET).orderBy(
        F.col(out_count).desc(), F.col(cat).asc()
    )
    return (
        counts.withColumn(out_rank, F.row_number().over(w))
        .filter(F.col(out_rank) <= k)
    )


def realtime_view(
    raw: DataFrame,
    materialized: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    cutoff: str,
) -> DataFrame:
    """Real-time continuous aggregate (the TimescaleDB pattern): buckets
    strictly BEFORE the materialization watermark ``cutoff`` are served
    from the ``materialized`` tier store; the raw tail at/after the
    watermark is rolled up on the fly; the union is exactly equal to a
    full recomputation (driver-gated in tier_1h_realtime).

    ``cutoff`` is truncated to the tier bucket so no bucket ever
    straddles the seam — the one invariant that makes the union exact.

    Scale shape: the materialized side is a pruned tier-store scan
    (bucket predicate pushes down to the partition column of the tier
    sink); the fresh side aggregates ONLY the raw tail (hours of data,
    not years), which is the entire point at 10^12 turns: dashboards
    read mostly-materialized data yet always see the live edge.
    """
    cut = F.date_trunc(TIERS[tier], F.lit(cutoff).cast("timestamp"))
    old = materialized.filter(F.col(BUCKET) < cut)
    fresh = rollup_raw(raw.filter(F.col(ts) >= cut), value, ts, by, tier)
    return old.select(fresh.columns).unionByName(fresh)


def _histogram_bin(v: Column, lo: float, hi: float, n_bins: int) -> tuple[Column, float]:
    """The ``bin`` column of value ``v`` — floor((v - lo) / step)
    clamped to [0, n_bins-1] — and its bin width ``step``."""
    if not (n_bins > 0 and hi > lo):
        raise ValueError("need n_bins > 0 and hi > lo")
    step = (float(hi) - float(lo)) / int(n_bins)
    raw_bin = F.floor((v - F.lit(float(lo))) / F.lit(step))
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(int(n_bins) - 1))
    return bin_.cast("int").alias("bin"), step


def tier_histogram(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-(series, bucket) equi-width value histogram: bin index =
    floor((v - lo) / step) clamped to [0, n_bins-1] (out-of-range
    values land in the edge bins, so counts always total n).

    Histogram counts are MERGEABLE by addition — the same
    continuous-aggregate contract as the moment tiers: a 1h histogram
    is the bin-wise sum of its 1m histograms, so the distribution view
    cascades through retention tiers without touching raw again.

    Plan shape: ONE groupBy on (series, bucket, bin) with map-side
    partial aggregation; output is at most n_bins rows per (series,
    bucket) regardless of input size. The bin arithmetic is a single
    IEEE-double division + floor, identical on any engine — no
    binning-boundary drift vs the SQL oracle.
    """
    v = F.col(value)
    bin_, step = _histogram_bin(v, lo, hi, n_bins)
    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, bin_)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bin_lo", F.lit(float(lo)) + F.col("bin") * F.lit(step))
        .withColumn("bin_hi", F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(step))
    )


def tier_quantile_from_histogram(
    hist: DataFrame,
    by: Cols,
    tier: str,
    p: float,
    *,
    lo: float,
    hi: float,
    n_bins: int,
    out: str = "q",
) -> DataFrame:
    """Approximate p-quantile per (series, coarse bucket) extracted from
    a FINER tier's ``tier_histogram`` output — the TimescaleDB
    percentile-on-continuous-aggregate pattern: the distribution view
    cascades through retention tiers (bin-wise count addition), so a
    p90-per-hour query reads sketch-sized histogram rows and NEVER
    re-scans raw.

    Estimator: target rank k = p*n over the merged bins (cumulative in
    ascending bin order); the first bin whose cumulative count reaches k
    is linearly interpolated: q = bin_lo + step * (k - cum_before)/cnt.
    Within-bin uniformity is the only approximation, so (when lo/hi
    cover the data) the estimate is within one bin width of the exact
    inverse-CDF (type-1) quantile — the k=ceil(p*n) order statistic
    lives in the selected bin, whose span is one step (asserted in
    tests/test_tiers.py); the algebra itself is deterministic IEEE
    double arithmetic, replayable exactly by any engine (the driver
    oracle does).

    Plan shape: bin-merge groupBy + per-bucket pack groupBy (both
    sketch-sized inputs: at most n_bins rows per (series, fine bucket)),
    then pure JVM higher-order functions (sort_array + aggregate) — two
    small exchanges, zero sorts, zero windows, no join. ``lo/hi/n_bins``
    must match the histogram's construction (`hi` is unused by the
    algebra — bins are keyed by index — but kept so call sites carry
    the full histogram spec).
    """
    if not 0.0 < p < 1.0:
        raise ValueError("need 0 < p < 1")
    step = (float(hi) - float(lo)) / int(n_bins)
    keys = [*_as_list(by),
            bucket_col(F.col(BUCKET), tier).alias(BUCKET)]
    merged = (
        hist.groupBy(*keys, "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    packed = (
        merged.groupBy(*_as_list(by), BUCKET)
        .agg(
            F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("_bins"),
            F.sum("cnt").alias("_n"),
        )
    )
    k = F.lit(float(p)) * F.col("_n")  # double target rank
    zero = F.lit(0.0)
    init = F.struct(zero.alias("cum"),
                    F.lit(None).cast("double").alias("res"))
    step_l = F.lit(float(step))
    lo_l = F.lit(float(lo))

    def _merge(acc, s):
        cnt = s["cnt"].cast("double")
        hit = acc["res"].isNull() & (acc["cum"] + cnt >= k)
        interp = (lo_l + s["bin"].cast("double") * step_l
                  + step_l * ((k - acc["cum"]) / cnt))
        return F.struct(
            (acc["cum"] + cnt).alias("cum"),
            F.when(hit, interp).otherwise(acc["res"]).alias("res"),
        )

    return packed.select(
        *_as_list(by), BUCKET,
        F.aggregate("_bins", init, _merge, lambda a: a["res"]).alias(out),
    )


def tier_nunique(
    df: DataFrame,
    col: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    out: str = "n_unique",
) -> DataFrame:
    """EXACT distinct-value count per (series, bucket) — cardinality
    telemetry (distinct tools/event types per conversation-hour).

    Exact distincts are NOT additive across tiers; Catalyst plans this
    as the standard two-phase expand (partial dedup on (series, bucket,
    value) map-side, then count) so the shuffle carries one row per
    distinct value per partition, never the raw stream. For the
    mergeable-across-tiers version use tier_hll_sketch.
    """
    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    return df.groupBy(*keys).agg(F.count_distinct(F.col(col)).alias(out))


def tier_hll_sketch(
    df: DataFrame,
    col: str,
    ts: str,
    by: Cols,
    tier: str,
    *,
    lg_k: int = 12,
    out: str = "hll",
) -> DataFrame:
    """MERGEABLE cardinality per (series, bucket): Apache DataSketches
    HLL (Spark's built-in hll_sketch_agg) as a binary sketch column —
    the continuous-aggregate form of tier_nunique. Coarser tiers merge
    with :func:`merge_hll_tier` (hll_union_agg) WITHOUT touching raw,
    the same cascade shape as the moment tiers; estimates off merged
    sketches equal estimates computed directly at the coarser tier
    (tested in test_tiers). ~0.8% relative error at lg_k=12 / 2.5 KB
    per sketch.

    Type contract (Spark's hll_sketch_agg): ``col`` must be
    int/bigint/string/binary — cast integral-valued doubles to bigint,
    format true reals to strings, at the call site."""
    keys = [*_as_list(by), bucket_col(F.col(ts), tier).alias(BUCKET)]
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(out)
    )


def merge_hll_tier(
    sketches: DataFrame,
    by: Cols,
    tier: str,
    *,
    col: str = "hll",
) -> DataFrame:
    """Chan-merge twin for HLL sketches: union finer-tier sketches into
    the coarser bucket (one partial-agg groupBy, raw never re-read)."""
    keys = [*_as_list(by), bucket_col(F.col(BUCKET), tier).alias(BUCKET)]
    return sketches.groupBy(*keys).agg(F.hll_union_agg(F.col(col)).alias(col))


def hll_estimate(sketches: DataFrame, col: str = "hll",
                 out: str = "n_unique_est") -> DataFrame:
    """Attach the cardinality estimate column to a sketch tier."""
    return sketches.withColumn(out, F.hll_sketch_estimate(F.col(col)))
