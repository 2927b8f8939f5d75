"""Salted/chunked evaluation for skewed series.

Problem: the Window and mapInArrow paths put one whole series on one
task. A transcripts table at 10^12 turns has conversations 50-100x
longer than the median (FIXTURES.md §1); one 10^9-turn conversation
would pin a single executor core for the whole job.

Solution (SURVEY.md §7.7): split each series into fixed-size ordered
chunks and DUPLICATE the previous chunk's trailing ``width-1`` rows
into the next chunk as padding. Because every roll_* output depends on
at most the trailing ``width`` rows (the reference's own
no-memory-of-evicted-rows property, README.md:12), each padded chunk
evaluates its own rows EXACTLY as the unchunked series would:

- chunk 0 keeps its natural expanding head;
- chunk c>0 sees pad rows occupying the window slots its head rows
  need, so their windows have identical contents to the global pass;
- pad rows' own outputs are dropped afterwards.

This is stateless (no cross-task state carry), shuffle-parallel on
(series, chunk_id), and adds width-1 duplicated rows per chunk —
negligible when chunk_rows >> width. Streaming (streaming/rolling.py)
applies the same overlap identity sequentially: it carries the trailing
``width-1`` raw values across micro-batches instead of duplicating rows,
because micro-batches arrive in order rather than in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from roll_spark.operators.base import Cols, _as_list, ordered_window

_CHUNK = "__rs_chunk"
_PAD = "__rs_pad"


def chunk_pad(
    df: DataFrame,
    by: Cols,
    order: Cols,
    width: int,
    chunk_rows: int = 1 << 20,
) -> tuple[DataFrame, list[str]]:
    """Return (padded df, new grouping keys).

    The padded frame carries ``__rs_chunk`` (chunk id) and ``__rs_pad``
    (True for duplicated overlap rows). Group by ``by + [__rs_chunk]``
    and drop ``__rs_pad`` rows after evaluation. For the ops that take
    a ``RollSpec`` (``arrow_ops.roll_lm_k``, ``roll_cov_matrix``, …)::

        padded, keys = chunk_pad(df, "conv_id", "turn_idx", spec.width, 100_000)
        out = drop_pads(roll_lm_k(padded, ["x"], "y", keys, "turn_idx", spec))
    """
    if chunk_rows <= width:
        raise ValueError("chunk_rows must exceed width")
    by_l = _as_list(by)
    pos = F.row_number().over(ordered_window(by, order)) - 1
    base = df.withColumn("__rs_pos", pos)
    own = base.withColumn(_CHUNK, (F.col("__rs_pos") / chunk_rows).cast("long")) \
              .withColumn(_PAD, F.lit(False))
    # rows within width-1 of the END of their chunk also pad the NEXT chunk
    pad = (
        base.filter((F.col("__rs_pos") % chunk_rows) >= chunk_rows - (width - 1))
        .withColumn(_CHUNK, (F.col("__rs_pos") / chunk_rows).cast("long") + 1)
        .withColumn(_PAD, F.lit(True))
    )
    return own.unionByName(pad).drop("__rs_pos"), by_l + [_CHUNK]


def drop_pads(df: DataFrame) -> DataFrame:
    return df.filter(~F.col(_PAD)).drop(_PAD, _CHUNK)


def roll_chunked(
    df: DataFrame,
    op,
    value_cols: Cols,
    by: Cols,
    order: Cols,
    width: int,
    *,
    chunk_rows: int = 1 << 20,
    out: str = "roll",
    **op_kwargs,
) -> DataFrame:
    """Evaluate any roll_* operator over overlap-padded chunks.

    ``op`` is one of the public operators (window_ops or the weighted
    dispatch); it is invoked with ``by = (series, chunk)`` so every
    chunk is an independent window partition. Example::

        roll_chunked(df, roll_mean, "text_len", "conv_id", "turn_idx",
                     width=100, chunk_rows=100_000, out="m")

    Scale note: the min_obs/expanding semantics of chunk 0 are exact;
    later chunks' pad rows reconstruct each window bit-for-bit, verified
    in tests/test_chunked.py against the unchunked pass.
    """
    padded, keys = chunk_pad(df, by, order, width, chunk_rows)
    vals = _as_list(value_cols)
    res = op(padded, *vals, keys, order, width, out=out, **op_kwargs)
    return drop_pads(res)
