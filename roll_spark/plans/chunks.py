"""Compressed chunk store: series -> Gorilla blobs and back.

Each (series, time-bucket) group becomes ONE row
``(series, chunk_start_ts, n, blob binary)`` — the storage layout for
cold tiers. Encoding runs per group inside applyInPandas (one Arrow
batch per chunk); a scan of the chunk table + decode restores the raw
rows exactly (bit-for-bit doubles, microsecond timestamps).

Chunk sizing matters more than codec speed: pick ``bucket`` so chunks
land at ~10^3-10^6 points (the Gorilla paper's 2h blocks assume dense
telemetry). Sparse series under a fine bucket produce millions of
near-empty chunks whose per-group scheduling overhead dwarfs the
encode; the rollup results are bucket-invariant, so the knob is purely
physical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from roll_spark.compression import decode_chunk_auto, encode_chunk_v2
from roll_spark.operators.base import Cols, _as_list


def compress_series(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    *,
    bucket: str = "day",
) -> DataFrame:
    """(by, ts, value) rows -> one compressed blob per (by, date_trunc(bucket))."""
    by_l = _as_list(by)
    keys = by_l + ["__rs_bucket"]
    src = df.select(
        *by_l,
        F.date_trunc(bucket, F.col(ts)).alias("__rs_bucket"),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__rs_us"),
        F.col(value).alias("__rs_v"),
    )
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema if f.name in keys
    )
    out_schema = f"{key_schema}, n long, blob binary"

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__rs_us", kind="stable")
        blob = encode_chunk_v2(
            pdf["__rs_us"].to_numpy("int64"),
            pdf["__rs_v"].to_numpy("float64", na_value=float("nan")),
        )
        head = {k: [pdf[k].iloc[0]] for k in keys}
        return pd.DataFrame({**head, "n": [len(pdf)], "blob": [blob]})

    return (
        src.groupBy(*keys)
        .applyInPandas(enc, schema=out_schema)
        .withColumnRenamed("__rs_bucket", "chunk_start_ts")
    )


def decompress_series(chunks: DataFrame, by: Cols) -> DataFrame:
    """Inverse of compress_series: blobs -> (by, ts, value) rows."""
    by_l = _as_list(by)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema if f.name in by_l
    )
    out_schema = f"{key_schema}, ts timestamp_ntz, value double"

    def dec(it):
        for pdf in it:
            frames = []
            for _, row in pdf.iterrows():
                ts_us, vals = decode_chunk_auto(row["blob"])
                frame = pd.DataFrame(
                    {
                        **{k: row[k] for k in by_l},
                        "ts": pd.to_datetime(ts_us, unit="us"),
                        "value": vals,
                    }
                )
                frames.append(frame)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return chunks.select(*by_l, "blob").mapInPandas(dec, schema=out_schema)


def compress_policy(
    df: DataFrame,
    value: str,
    ts: str,
    by: Cols,
    *,
    before,
    bucket: str = "day",
) -> tuple[DataFrame, DataFrame]:
    """Tiered-storage compression policy — the compress_chunks analog
    (TimescaleDB pairs it with retention + continuous aggregates; this
    engine's other two thirds are ``TierStore.expire`` and
    ``plans.tiers``): rows with ``ts < before`` become Gorilla chunk
    blobs (ONE row per (series, bucket) — the cold layout), rows at or
    after ``before`` stay raw (the hot layout). Returns
    ``(chunks, hot)``.

    Scale shape: the split is a partition-prunable predicate on the
    event-time column (a date-partitioned raw table never scans hot
    days to build cold chunks), the encode is one applyInPandas pass
    over only the cold rows, and nothing is ever decoded here — a
    policy run touches each cold byte exactly once."""
    cold_pred = F.col(ts) < F.lit(before).cast("timestamp")
    chunks = compress_series(df.filter(cold_pred), value, ts, by, bucket=bucket)
    return chunks, df.filter(~cold_pred)


def tiered_read(
    chunks: DataFrame,
    hot: DataFrame,
    value: str,
    ts: str,
    by: Cols,
) -> DataFrame:
    """Reader-facing union over a compress_policy split: decoded cold
    chunks + raw hot rows, one (by, ts, value) relation — queries are
    storage-oblivious, the same seam pattern as tiers.realtime_view.
    The chunk decode restores rows bit-for-bit (float64 XOR codec,
    microsecond timestamps), so this view is row-identical to the
    pre-policy table."""
    by_l = _as_list(by)
    cold_rows = decompress_series(chunks, by_l)
    hot_rows = hot.select(
        *by_l,
        F.col(ts).cast("timestamp_ntz").alias("ts"),
        F.col(value).cast("double").alias("value"),
    )
    return cold_rows.unionByName(hot_rows)
