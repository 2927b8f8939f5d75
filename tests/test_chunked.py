"""Chunked-overlap skew path: outputs must be IDENTICAL to the
unchunked pass for every operator family, including the skewed
conversations of the transcripts fixture."""

from __future__ import annotations

import numpy as np
import pytest

from roll_spark import roll_idxmax, roll_mean, roll_median, roll_var
from roll_spark.operators.chunked import roll_chunked
from roll_spark.sources.transcripts import derive_series, generate_transcripts


@pytest.fixture(scope="module")
def tdf(spark):
    # small but skewed: 2 conversations 30x longer than the median
    df = derive_series(
        generate_transcripts(spark, n_convs=6, median_turns=30, skew_factor=30)
    )
    return df.cache()


def _collect(df, out):
    rows = df.select("conv_id", "turn_idx", out).collect()
    return {(r[0], r[1]): (None if r[2] is None else round(float(r[2]), 9)) for r in rows}


@pytest.mark.parametrize(
    "op,kw",
    [
        (roll_mean, {"min_obs": 3}),
        (roll_var, {"min_obs": 3}),
        (roll_median, {"min_obs": 1}),
        (roll_idxmax, {"min_obs": 1}),
    ],
)
def test_chunked_equals_unchunked(spark, tdf, op, kw):
    width = 7
    plain = op(tdf, "text_len", "conv_id", "turn_idx", width, out="r", **kw)
    chunked = roll_chunked(
        tdf, op, "text_len", "conv_id", "turn_idx", width,
        chunk_rows=64, out="r", **kw,
    )
    a, b = _collect(plain, "r"), _collect(chunked, "r")
    assert a.keys() == b.keys()
    diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert not diff, f"{op.__name__}: {len(diff)} mismatches, e.g. {list(diff.items())[:3]}"


def test_chunked_row_count_preserved(spark, tdf):
    width = 7
    chunked = roll_chunked(
        tdf, roll_mean, "latency_s", "conv_id", "turn_idx", width,
        chunk_rows=64, out="r", min_obs=1,
    )
    assert chunked.count() == tdf.count()
    # per-turn text equality under stable ordering (BASELINE.json invariant)
    orig = tdf.select("conv_id", "turn_idx", "text").collect()
    after = chunked.select("conv_id", "turn_idx", "text").collect()
    assert {(r[0], r[1]): r[2] for r in orig} == {(r[0], r[1]): r[2] for r in after}


def test_chunked_arrow_dispatch(spark):
    """roll_chunked over a weighted roll_mean (the Arrow dispatch): one
    long series + many short ones — identical results to the unchunked
    pass, with the long series actually split into multiple independent
    groups (>1 task) while short series stay whole (zero pad rows)."""
    from pyspark.sql import functions as F

    from roll_spark.operators.chunked import chunk_pad

    big_n, small_n, width, bound = 100_000, 40, 10, 16_384
    big = spark.range(big_n).select(
        F.lit("big").alias("g"), F.col("id").alias("i"),
        (F.pmod(F.col("id") * 2654435761, 1000) / 10.0).alias("v"),
    )
    small = spark.range(small_n * 30).select(
        F.concat(F.lit("s"), (F.col("id") % small_n)).alias("g"),
        (F.col("id") / small_n).cast("long").alias("i"),
        (F.pmod(F.col("id") * 40503, 1000) / 10.0).alias("v"),
    )
    df = big.unionByName(small)
    wts = [float(0.97 ** k) for k in range(width, 0, -1)]
    plain = roll_mean(df, "v", "g", "i", width, weights=wts, min_obs=3, out="m")
    chunked = roll_chunked(df, roll_mean, "v", "g", "i", width,
                           chunk_rows=bound, out="m", weights=wts, min_obs=3)
    rnd = lambda x: None if x is None else round(x, 9)
    a = {(r["g"], r["i"]): rnd(r["m"]) for r in plain.collect()}
    b = {(r["g"], r["i"]): rnd(r["m"]) for r in chunked.collect()}
    assert a == b
    # the long series fans out into ceil(big_n / bound) groups; short
    # series stay in chunk 0 with no duplicated pad rows
    padded, keys = chunk_pad(df, "g", "i", width, bound)
    per_series = (
        padded.groupBy("g").agg(
            F.countDistinct("__rs_chunk").alias("nch"),
            F.sum(F.col("__rs_pad").cast("int")).alias("pads"),
        ).collect()
    )
    info = {r["g"]: (r["nch"], r["pads"]) for r in per_series}
    assert info["big"][0] == -(-big_n // bound) and info["big"][0] > 1
    assert all(v == (1, 0) for g, v in info.items() if g != "big")


def test_chunk_pad_validation(spark):
    from roll_spark.operators.chunked import chunk_pad

    df = spark.range(20).selectExpr("'a' AS g", "id AS i", "id * 1.0 AS v")
    with pytest.raises(ValueError):
        chunk_pad(df, "g", "i", 10, 10)
