"""The Python boundary of the Arrow operators: what crosses it unchanged
(passthrough columns), how NULL and NaN map across it, how a sorted
partition is cut into series (series spanning record batches, NULL /
NaN / signed-zero / two-column / struct keys, empty and one-series
partitions), the plan shape, wide frames (payload columns stay in the
JVM; NULL and duplicate order keys, downstream filters, joins and
groupBys), the worker daemon, and executor imports from a foreign
working directory."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import re
import subprocess
import sys
import textwrap
import zipimport
from collections import Counter
from decimal import Decimal
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from roll_spark import _daemon
from roll_spark.operators.arrow_ops import _apply_kernel
from roll_spark.operators.base import ordered_window
from roll_spark.operators.moments import roll_spearman

REPO = Path(__file__).resolve().parents[1]

_SCHEMA = (
    "series string, ts timestamp, x double, n int, d decimal(18,6), "
    "tags array<string>, day date, attrs map<string,int>, "
    "pt struct<a:long,b:string>"
)


def _narrow(spark):
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for s, k in (("a", 5), ("b", 3)):
        for i in range(k):
            rows.append((
                s, t0 + dt.timedelta(minutes=7 * i + (1 if s == "b" else 0)),
                None if i == 1 else float(i), None if i == 2 else i,
                None if i == 3 else Decimal(f"{i}.125000"),
                None if i == 0 else [f"t{i}", None],
                None if i == 4 else dt.date(2025, 1, 1 + i),
                {"k": i}, (i * 10, None if i == 1 else f"s{i}"),
            ))
    return spark.createDataFrame(rows, _SCHEMA)


def _copy_x(cols):
    return {"y": cols["x"].copy()}


@contextlib.contextmanager
def _conf(spark, settings):
    """Set session confs for a block, then restore their values:
    ``unset`` would fall back to Spark's defaults, not the session's
    (200 shuffle partitions instead of ``get_spark``'s core count)."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_narrow_passthrough_values_and_types(spark):
    """Every non-input column of a narrow frame — string key, timestamp,
    decimal, array, date, map, struct, NULLs included — comes back from
    the Arrow pass with identical values and Spark types, and without
    a join."""
    df = _narrow(spark)
    res = _apply_kernel(df, ["x"], "series", "ts", [("y", "double")], _copy_x)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Join" not in plan
    assert res.schema.fields[:-1] == df.schema.fields
    key = ["series", "ts"]
    got = res.orderBy(*key).collect()
    want = df.orderBy(*key).collect()
    assert [r[:-1] for r in got] == [tuple(r) for r in want]
    assert [r.y for r in got] == [r.x for r in want]


def test_passthrough_under_large_var_types(spark):
    """Under useLargeVarTypes the JVM sends strings as large_string but
    checks the result against string: passthrough columns are cast back."""
    df = _narrow(spark)
    with _conf(spark, {"spark.sql.execution.arrow.useLargeVarTypes": "true"}):
        got = _apply_kernel(df, ["x"], "series", "ts", [("y", "double")],
                            _copy_x).orderBy("series", "ts").collect()
    assert [r[:-1] for r in got] == \
        [tuple(r) for r in df.orderBy("series", "ts").collect()]


def test_nan_output_is_null_and_null_input_is_nan(spark):
    """A kernel's NaN output arrives in Spark as NULL; a NULL input (of a
    double, int or decimal column) reaches the kernel as NaN, a stored
    NaN stays NaN on the way in, and a decimal arrives as the correctly
    rounded float64 (float(Decimal), as pandas converted it)."""
    df = spark.createDataFrame(
        [("a", 0, 1.0, 1, Decimal("1.001")), ("a", 1, None, None, None),
         ("a", 2, float("nan"), 3, Decimal("123.457")),
         ("a", 3, 4.0, 4, Decimal("-0.125"))],
        "series string, i int, x double, n int, d decimal(10,3)",
    )

    def kernel(cols):
        return {
            "x_nan": np.isnan(cols["x"]).astype(np.float64),
            "n_nan": np.isnan(cols["n"]).astype(np.float64),
            "d_in": cols["d"],
            "f64": np.full(len(cols["x"]), float(all(
                v.dtype == np.float64 for v in cols.values()))),
            "all_nan": np.full(len(cols["x"]), np.nan),
        }

    fields = [(c, "double") for c in ("x_nan", "n_nan", "d_in", "f64", "all_nan")]
    got = _apply_kernel(df, ["x", "n", "d"], "series", "i", fields, kernel) \
        .orderBy("i").collect()
    assert [r.x_nan for r in got] == [0.0, 1.0, 1.0, 0.0]
    assert [r.n_nan for r in got] == [0.0, 1.0, 0.0, 0.0]
    assert [r.d_in for r in got] == [1.001, None, 123.457, -0.125]
    assert all(r.f64 == 1.0 for r in got)
    assert all(r.all_nan is None for r in got)


# three-row record batches, so series span batches; no partition coalescing,
# so small frames keep empty partitions
_SMALL_BATCHES = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}
_STATS = [("pos", "double"), ("n", "double"), ("cs", "double")]


def _series_stats(cols):
    """Row position, series length and running sum: each depends on
    the whole series and its order."""
    n = len(cols["x"])
    return {"pos": np.arange(n, dtype=np.float64),
            "n": np.full(n, float(n)), "cs": np.cumsum(cols["x"])}


def _assert_series_match_group_by(spark, df, by):
    """_apply_kernel(by, order i) equals a per-series replay over the
    groups of ``groupBy(by)``, under three-row record batches, on the
    narrow frame and on its wide twin (a string payload column)."""
    wide = df.withColumn("text", F.concat(F.lit("p"), F.col("i").cast("string")))
    with _conf(spark, _SMALL_BATCHES):
        got, got_wide = (
            {r.i: (r.pos, r.n, r.cs) for r in _apply_kernel(
                frame, ["x"], by, "i", _STATS, _series_stats).collect()}
            for frame in (df, wide))
        groups = df.groupBy(*by).agg(F.sort_array(
            F.collect_list(F.struct("i", "x"))).alias("rows")).collect()
    want = {}
    for g in groups:
        for pos, r in enumerate(g.rows):
            want[r.i] = (float(pos), float(len(g.rows)),
                         float(sum(q.x for q in g.rows[:pos + 1])))
    assert len(groups) > 1
    assert got == got_wide == want


def _keyed_frame(spark, keys, schema):
    """Rows of ``keys`` (one entry per row) in shuffled order, with a
    shuffled unique order key i and small integer values x."""
    rng = np.random.default_rng(7)
    order = rng.permutation(len(keys))
    rows = [(*k, int(i), float(rng.integers(-9, 10)))
            for k, i in zip(keys, order)]
    rows = [rows[j] for j in rng.permutation(len(rows))]
    return spark.createDataFrame(rows, f"{schema}, i int, x double")


def test_double_key_series_match_group_by(spark):
    """NULL = NULL, NaN = NaN and -0.0 = 0.0: a double series key groups
    as groupBy does, and series of 1 to 12 rows span record batches."""
    nan = float("nan")
    keys = ([(0.0,), (-0.0,)] * 6 + [(nan,)] * 7 + [(None,)] * 5
            + [(1.5,)] + [(2.5,)] * 4)
    _assert_series_match_group_by(
        spark, _keyed_frame(spark, keys, "k double"), ["k"])


def test_two_column_key_series_match_group_by(spark):
    """A (string, int) key with NULL in either column."""
    keys = ([("a", 1)] * 6 + [("a", 2)] + [("b", 1)] * 4 + [(None, 1)] * 3
            + [("a", None)] * 5 + [(None, None)] * 2)
    _assert_series_match_group_by(
        spark, _keyed_frame(spark, keys, "s string, g int"), ["s", "g"])


def test_struct_key_series_match_group_by(spark):
    """A struct key (no Arrow equality kernel): NULL struct, NULL field."""
    keys = ([((1, "a"),)] * 5 + [((1, None),)] * 4 + [((2, "a"),)] * 2
            + [(None,)] * 3)
    _assert_series_match_group_by(
        spark, _keyed_frame(spark, keys, "k struct<a:int, b:string>"), ["k"])


def test_empty_and_one_series_partitions(spark):
    """One series over four shuffle partitions: three partitions arrive
    empty, one holds the whole series across four record batches."""
    df = _keyed_frame(spark, [("only",)] * 10, "s string")
    with _conf(spark, {**_SMALL_BATCHES, "spark.sql.shuffle.partitions": "4"}):
        res = _apply_kernel(df, ["x"], "s", "i", _STATS, _series_stats)
        assert sorted(res.rdd.glom().map(len).collect()) == [0, 0, 0, 10]
        got = res.orderBy("i").collect()
    xs = [r.x for r in df.orderBy("i").collect()]
    assert [(r.pos, r.n, r.cs) for r in got] == [
        (float(p), 10.0, float(sum(xs[:p + 1]))) for p in range(10)]


def _plan_counts(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)),
            len(re.findall(r"\bSort \[", plan)), plan.count("MapInArrow"))


def test_plan_one_exchange_one_sort(spark):
    """A narrow-frame Arrow op plans one Exchange, one Sort and one
    MapInArrow; after a native lag Window it reuses that Window's
    exchange and sort (its order key sorts ASC NULLS FIRST too)."""
    df = _narrow(spark)
    res = _apply_kernel(df, ["x"], "series", "ts", [("y", "double")], _copy_x)
    assert _plan_counts(res) == (1, 1, 1)

    lagged = df.withColumn(
        "x_lag", F.lag("x").over(ordered_window("series", "ts")))
    res = roll_spearman(lagged, "x", "x_lag", "series", "ts", 3, min_obs=2,
                        out="s")
    assert _plan_counts(res) == (1, 1, 1)
    assert "Window [" in res._jdf.queryExecution().executedPlan().toString()


def _wide(spark, ts_vals):
    return spark.createDataFrame(
        [("a", t, float(i), f"text {i}") for i, t in enumerate(ts_vals)],
        "series string, t int, x double, text string",
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_wide_frame_outputs_follow_columns(spark):
    """A wide frame's outputs follow ``df.columns`` and land on their own
    rows, in order-key order."""
    df = _wide(spark, [3, 0, 2, 1])
    res = _apply_kernel(df, ["x"], "series", "t", _STATS, _series_stats)
    assert res.columns == df.columns + ["pos", "n", "cs"]
    got = res.orderBy("t").collect()
    assert [(r.t, r.text, r.x, r.pos) for r in got] == [
        (0, "text 1", 1.0, 0.0), (1, "text 3", 3.0, 1.0),
        (2, "text 2", 2.0, 2.0), (3, "text 0", 0.0, 3.0)]
    assert [r.cs for r in got] == [1.0, 4.0, 6.0, 6.0]


@pytest.mark.parametrize("ts_vals", [[0, 1, None, 3], [0, 1, 1, 3]],
                         ids=["null_order_key", "duplicate_order_key"])
def test_wide_frame_bad_keys_one_row_per_input(spark, ts_vals):
    """A NULL order key keeps its outputs and sorts first in its series,
    and a duplicate key does not fan out: a wide frame yields one row
    per input row, as the narrow path does."""
    df = _wide(spark, ts_vals)
    wide = _apply_kernel(df, ["x"], "series", "t", _STATS, _series_stats)
    narrow = _apply_kernel(df.drop("text"), ["x"], "series", "t", _STATS,
                           _series_stats)
    assert "ArrowEvalPython" in _plan(wide) and "Join" not in _plan(wide)
    got = wide.collect()
    assert len(got) == len(ts_vals)
    assert all(r.text == f"text {int(r.x)}" for r in got)
    # rows that tie on the order key may take either position
    assert Counter((r.t, r.pos, r.n) for r in got) == \
        Counter((r.t, r.pos, r.n) for r in narrow.collect())
    assert Counter(r.x for r in got) == Counter(map(float, range(len(ts_vals))))
    if None in ts_vals:
        assert [r.pos for r in got if r.t is None] == [0.0]


def test_wide_frame_downstream_filter_on_order_key(spark):
    """A filter on the order key after a wide-frame op drops rows from
    the result, never from the series the kernel sees: the optimizer
    must not push it below the sort."""
    keys = [("a",)] * 8 + [("b",)] * 5
    df = _keyed_frame(spark, keys, "s string").withColumn(
        "text", F.concat(F.lit("p"), F.col("i").cast("string")))
    res = _apply_kernel(df, ["x"], "s", "i", _STATS, _series_stats)
    want = {r.i: (r.pos, r.n, r.cs) for r in res.collect() if r.i > 6}
    got = {r.i: (r.pos, r.n, r.cs)
           for r in res.filter(F.col("i") > 6).collect()}
    assert got == want and len(got) == 6


def test_wide_frame_downstream_join_and_group_by_under_skew_split(spark):
    """A join or groupBy on the series key after a wide-frame op gives
    the same rows when AQE may split skewed join partitions."""
    keys = [("big",)] * 40 + [(f"s{j}",) for j in range(6) for _ in range(3)]
    df = _keyed_frame(spark, keys, "s string").withColumn(
        "text", F.concat(F.lit("p"), F.col("i").cast("string")))
    sizes = df.groupBy("s").count()

    def rows():
        res = _apply_kernel(df, ["x"], "s", "i", _STATS, _series_stats)
        joined = res.join(sizes, "s").select("i", "pos", "n", "cs", "count")
        grouped = res.groupBy("s").agg(F.count("*"), F.max("n"), F.max("pos"))
        return (sorted(tuple(r) for r in joined.collect()),
                sorted(tuple(r) for r in grouped.collect()))

    want = rows()
    assert all(r[2] == r[4] for r in want[0])
    assert all(r[1] == r[2] == r[3] + 1 for r in want[1])
    with _conf(spark, {**_SMALL_BATCHES,
                       "spark.sql.autoBroadcastJoinThreshold": "-1",
                       "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
                       "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
                       "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1",
                       "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
                       "spark.sql.shuffle.partitions": "3"}):
        assert rows() == want


@pytest.mark.parametrize("settings", [
    {}, {"spark.sql.autoBroadcastJoinThreshold": "-1"}],
    ids=["default", "no_broadcast"])
def test_wide_plan_sends_keys_and_inputs_only(spark, settings):
    """A wide-frame op plans one Exchange, one Sort, one ArrowEvalPython
    and no join at either broadcast setting, and its string and binary
    payload columns are not among the ArrowEvalPython node's inputs."""
    df = _wide(spark, [0, 1, 2, 3]).withColumn("blob", F.col("text").cast("binary"))
    with _conf(spark, settings):
        res = _apply_kernel(df, ["x"], "series", "t", [("y", "double")], _copy_x)
        plan, counts = _plan(res), _plan_counts(res)
    assert counts[:2] == (1, 1)
    assert plan.count("ArrowEvalPython") == 1 and "Join" not in plan
    node = next(ln for ln in plan.splitlines() if "ArrowEvalPython" in ln)
    args = re.search(r"ArrowEvalPython \[[^(]*\(([^)]*)\)", node).group(1)
    assert [a.split("#")[0] for a in args.split(", ")] == ["series", "x"]


def test_daemon_version_guard():
    """CPython 3.12+ already re-reads zip directories lazily: the guard
    leaves zipimporter alone there."""
    before = zipimport.zipimporter.invalidate_caches
    assert _daemon.install((3, 12, 0)) is False
    assert _daemon.install((3, 13, 1)) is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_runs_daemon_noop(spark):
    """Python workers run under roll_spark._daemon: on CPython < 3.12 their
    zipimporter.invalidate_caches is the daemon's no-op."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        from roll_spark import _daemon as d

        for _ in batches:
            yield pa.record_batch({"noop": [
                zipimport.zipimporter.invalidate_caches is d._keep_zip_directory
            ]})

    got = spark.range(1).mapInArrow(probe, "noop boolean").collect()
    assert got[0].noop == (sys.version_info < (3, 12))


_FOREIGN_CWD_OP = """
from roll_spark import roll_mean
df = spark.createDataFrame(
    [("a", i, float(i) ** 2) for i in range(6)], "s string, i int, x double")
rows = roll_mean(df, "x", "s", "i", 2, weights=[1.0, 3.0], min_obs=1,
                 out="m").orderBy("i").collect()
result = [r.m for r in rows]
"""


def test_arrow_op_from_foreign_cwd(spark, tmp_path):
    """A driver started outside the repository (roll_spark found through
    sys.path only, no PYTHONPATH) runs an Arrow op: get_spark puts the
    package root on the executors' path."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from roll_spark.session import get_spark
        spark = get_spark(cpus=2)
    """) + _FOREIGN_CWD_OP + 'print("RESULT", result)\nspark.stop()\n'
    here = {"spark": spark}
    exec(_FOREIGN_CWD_OP, here)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["ROLL_SPARK_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT")][0]
    assert line == f"RESULT {here['result']}"
