"""Arrow execution of the roll_* surface — the scale
path for weighted / exponential-decay inputs, sums and means at large
widths, every sorted-window statistic (exact quantiles, percent rank,
distinct counts, trimmed mean, ...) at any width, and k-regressor
roll_lm.

Physical shape: one hash exchange on the series key, a sort within each
partition on (series key, order key), then one Python pass per
partition that cuts each record batch into series and runs the
vectorized numpy kernels of roll_spark.operators.kernels on each — the
reference's parallelization model (independent series, each sequential
in time; src/roll.cpp:384) with Arrow batches instead of RcppParallel
threads. Per-row Python never happens, and neither does a per-series
Arrow stream: a partition crosses the JVM<->Python boundary as a few
columnar batches, and only the kernel's input columns leave Arrow (as
float64 numpy arrays, converted once per batch). Narrow frames pass
every column through mapInArrow; wide frames (string/binary payloads)
send only the series key and the inputs through an ordered Arrow UDF.

Skewed series (one conversation with 10^9 turns) do NOT fit this model;
they go through roll_spark.operators.chunked which splits a series into
overlap-padded chunks that this module's kernels evaluate independently.

DATA CONTRACT (all roll_* entry points, both frame shapes): no Arrow op
joins, so every input row yields exactly one output row and the result
is ``df.columns`` followed by the op's outputs. The (by, order) key
tuple — e.g. (conv_id, turn_idx) / (user_id, ts) — should be UNIQUE and
NON-NULL per row: rows that tie on the order key keep an arbitrary
order within their series, and a NULL order key sorts first in its
series.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TT
from pyspark.sql.pandas.types import to_arrow_type

from roll_spark.config import RollSpec
from roll_spark.operators import kernels as K
from roll_spark.operators.base import Cols, _as_list

_WIDE_TYPES = (TT.StringType, TT.BinaryType)


def _kernel_inputs(table, cols: list[str]) -> dict[str, np.ndarray]:
    """``{column: numpy array}`` of a table's kernel inputs. Numeric
    columns arrive as float64 with NaN for NULL; other types (the
    strings roll_entropy factorizes) as object/datetime arrays."""
    out = {}
    for c in cols:
        col = table.column(c)
        t = col.type
        if pa.types.is_decimal(t):
            # through text: Arrow's direct decimal cast is not correctly
            # rounded, float(Decimal) and the string parse are
            col = pc.cast(pc.cast(col, pa.string()), pa.float64())
        elif (pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_boolean(t)):
            col = pc.cast(col, pa.float64(), safe=False)
        arr = col.to_numpy(zero_copy_only=False)
        # a zero-copy view is read-only; kernels may write their inputs
        out[c] = arr if arr.flags.writeable else arr.copy()
    return out


def _list_rows(mat, null_all_nan: bool = False):
    """(n, k) float matrix -> Arrow ``list<double>`` column (NaN element
    -> NULL element; with ``null_all_nan`` an all-NaN row -> NULL)."""
    mat = np.asarray(mat, dtype=np.float64)
    n, k = mat.shape
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    values = pa.array(mat.ravel(), from_pandas=True)
    mask = pa.array(np.isnan(mat).all(axis=1)) if null_all_nan else None
    return pa.ListArray.from_arrays(offsets, values, mask=mask)


def _key_changes(keys) -> np.ndarray:
    """``(n-1,)`` bool over n rows of the series-key arrays ``keys``:
    row i+1's key differs from row i's. Equality is the one Spark's sort
    and ``groupBy`` use: NULL = NULL, NaN = NaN, -0.0 = 0.0."""
    n = len(keys[0])
    same = np.ones(max(n - 1, 0), dtype=bool)
    for col in keys:
        a, b = col.slice(1), col.slice(0, n - 1)
        try:
            eq = pc.fill_null(pc.equal(a, b), False)
        except pa.ArrowNotImplementedError:  # struct/array keys: as Python values
            eq = pa.array([x == y for x, y in zip(a.to_pylist(), b.to_pylist())],
                          type=pa.bool_())
        eq = pc.or_(eq, pc.and_(pc.is_null(a), pc.is_null(b)))
        if pa.types.is_floating(col.type):
            eq = pc.or_(eq, pc.fill_null(
                pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
        same &= eq.to_numpy(zero_copy_only=False)
    return ~same


def _series_runs(batches, by_l: list[str]):
    """Cut sorted record batches into whole series: yield ``(parts,
    starts)``, a list of batches and the row offsets into their
    concatenation at which each series begins. A series longer than a
    batch is carried as a list of batches until it ends."""
    # the batches of the series still open at the end of the last one
    carry, carry_rows = [], 0
    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        starts = (np.flatnonzero(_key_changes(
            [batch.column(c) for c in by_l])) + 1).tolist()
        if not carry or _key_changes(
                [pa.concat_arrays([carry[-1].column(c)[-1:], batch.column(c)[:1]])
                 for c in by_l])[0]:
            starts.insert(0, 0)
        if not starts:
            carry.append(batch)
            carry_rows += n
            continue
        cut = starts[-1]
        done = carry + ([batch.slice(0, cut)] if cut else [])
        if done:
            yield done, ([0] if carry else []) + [carry_rows + s for s in starts[:-1]]
        carry, carry_rows = [batch.slice(cut)], n - cut
    if carry:
        yield carry, [0]


def _apply_kernel(
    df: DataFrame,
    in_cols: list[str],
    by: Cols,
    order: Cols,
    out_fields: list[tuple[str, str]],
    kernel,
) -> DataFrame:
    """Run ``kernel(inputs) -> dict[out_col, array]`` per series, where
    ``inputs`` is ``_kernel_inputs`` of ``in_cols`` in order-key order
    and each output is a numpy array (NaN -> NULL) or an Arrow array
    (list columns, via ``_list_rows``). The result is ``df.columns``
    followed by the output columns, one row per input row.

    One physical path: a hash exchange on ``by``, a sort within each
    partition on ``(by, order)``, then one Python pass over each sorted
    partition. ``_series_runs`` cuts its record batches into series at
    the rows where the key changes (the ``groupBy(by)`` grouping: NULL =
    NULL, NaN = NaN, -0.0 = 0.0); the kernel inputs are converted once
    per batch, ``kernel`` runs on each series' slice and each output
    column is built once per batch. The order key sorts ``ASC NULLS
    FIRST``, Spark's default and ``base.ordered_window``'s, so an Arrow
    op after a native Window reuses that Window's sort, and a NULL order
    key sorts first in its series.

    Two frame shapes share that path:

    - NARROW frames run ``mapInArrow``: every column rides through the
      Arrow batch and the UDF appends the outputs.
    - WIDE frames (a non-key string/binary column, e.g. raw transcripts
      with full text) run an ordered ``SCALAR_ITER`` Arrow UDF over the
      series key and input columns only, so megabyte payloads never
      cross the boundary. ``ArrowEvalPython`` keeps the other columns in
      the JVM and zips the outputs (one struct, unpacked by field) back
      by position; the outputs may lag the input while a series spans
      batches. The UDF is nondeterministic so the optimizer pushes no
      downstream filter below it and drops no sort it relies on.
    """
    by_l, order_l = _as_list(by), _as_list(order)
    key_cols = set(by_l) | set(order_l) | set(in_cols)
    wide = any(f.name not in key_cols and isinstance(f.dataType, _WIDE_TYPES)
               for f in df.schema)
    out_struct = TT.StructType([
        TT.StructField(n, TT._parse_datatype_string(t)) for n, t in out_fields])
    out_types = [to_arrow_type(f.dataType) for f in out_struct]
    sorted_df = df.repartition(*by_l).sortWithinPartitions(*by_l, *order_l)

    def run(parts, starts):
        """The concatenated batches ``parts`` and the output columns of
        the whole series that begin at their row offsets ``starts``."""
        table = pa.Table.from_batches(parts)
        inputs = _kernel_inputs(table, in_cols)
        ends = [*starts[1:], table.num_rows]
        results = [kernel({c: v[s:e] for c, v in inputs.items()})
                   for s, e in zip(starts, ends)]
        outs = []
        for (name, _), typ in zip(out_fields, out_types):
            vals = [r[name] for r in results]
            outs.append(
                pa.concat_arrays(vals) if isinstance(vals[0], pa.Array)
                else pa.array(np.concatenate(vals), type=typ, from_pandas=True))
        return table, outs

    if wide:
        args = list(dict.fromkeys(by_l + in_cols))

        def fn_wide(arrays: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
            batches = (pa.RecordBatch.from_arrays(
                list(a) if isinstance(a, tuple) else [a], names=args)
                for a in arrays)
            for parts, starts in _series_runs(batches, by_l):
                yield pa.StructArray.from_arrays(run(parts, starts)[1],
                                                 names=out_struct.names)

        udf = F.arrow_udf(fn_wide, out_struct).asNondeterministic()
        tmp = "__rs_kernel_out"
        return (sorted_df.withColumn(tmp, udf(*args))
                .withColumns({n: F.col(tmp)[n] for n in out_struct.names})
                .drop(tmp))

    out_schema = TT.StructType(list(df.schema) + list(out_struct))
    arrow_types = [to_arrow_type(f.dataType) for f in out_schema]

    def fn(batches):
        for parts, starts in _series_runs(batches, by_l):
            table, outs = run(parts, starts)
            out = pa.table([*table.columns, *outs], names=out_schema.names)
            # the JVM may send a passthrough type other than the one it
            # expects back (large_string under useLargeVarTypes)
            if out.schema.types != arrow_types:
                out = out.cast(pa.schema(
                    [pa.field(n, t) for n, t in zip(out_schema.names, arrow_types)]))
            yield from out.to_batches()

    return sorted_df.mapInArrow(fn, out_schema)


def _series_kernel_1(value: str, spec: RollSpec, fn, out: str, **kw):
    weights = None if spec.weights is None else np.asarray(spec.weights)

    def kernel(cols):
        arr = fn(
            cols[value],
            spec.width,
            weights=weights,
            min_obs=spec.effective_min_obs,
            na_restore=spec.na_restore,
            **kw,
        )
        return {out: arr}

    return kernel


def _series_kernel_2(x_col: str, y_col: str, spec: RollSpec, fn, out: str, **kw):
    weights = None if spec.weights is None else np.asarray(spec.weights)

    def kernel(cols):
        arr = fn(
            cols[x_col], cols[y_col],
            spec.width,
            weights=weights,
            min_obs=spec.effective_min_obs,
            na_restore=spec.na_restore,
            **kw,
        )
        return {out: arr}

    return kernel


def _one(df, value, by, order, spec, fn, out, **kw):
    return _apply_kernel(
        df, [value], by, order, [(out, "double")],
        _series_kernel_1(value, spec, fn, out, **kw),
    )


def _two(df, x, y, by, order, spec, fn, out, **kw):
    return _apply_kernel(
        df, [x, y], by, order, [(out, "double")],
        _series_kernel_2(x, y, spec, fn, out, **kw),
    )


def roll_sum(df, value, by, order, spec: RollSpec, *, out="roll_sum"):
    return _one(df, value, by, order, spec, K.conv_sum, out)


def roll_mean(df, value, by, order, spec: RollSpec, *, out="roll_mean"):
    return _one(df, value, by, order, spec, K.conv_mean, out)


def roll_prod(df, value, by, order, spec: RollSpec, *, out="roll_prod"):
    return _one(df, value, by, order, spec, K.conv_prod, out)


def roll_var(df, value, by, order, spec: RollSpec, *, out="roll_var"):
    return _one(df, value, by, order, spec, K.conv_var, out, center=spec.center)


def roll_sd(df, value, by, order, spec: RollSpec, *, out="roll_sd"):
    return _one(df, value, by, order, spec, K.conv_sd, out, center=spec.center)


def roll_quantile(df, value, by, order, spec: RollSpec, *, out="roll_quantile"):
    return _one(df, value, by, order, spec, K.conv_quantile, out, p=spec.p)


def roll_quantiles(df, value, by, order, spec: RollSpec, ps, outs):
    """Fused multi-p quantile: ONE Arrow pass, one shared
    wavelet matrix per series or sort per weighted window block
    (K.conv_quantiles), one output column per probability."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    ps = list(ps)

    def kernel(cols):
        arr = K.conv_quantiles(
            cols[value], spec.width, ps, weights=weights,
            min_obs=spec.effective_min_obs, na_restore=spec.na_restore,
        )
        return {o: arr[:, j] for j, o in enumerate(outs)}

    return _apply_kernel(
        df, [value], by, order, [(o, "double") for o in outs], kernel
    )


def roll_scale(df, value, by, order, spec: RollSpec, *, out="roll_scale"):
    return _one(df, value, by, order, spec, K.conv_scale, out,
                center=spec.center, scale=spec.scale)


def roll_cov(df, x, by, order, spec: RollSpec, *, y, out="roll_cov"):
    return _two(df, x, y, by, order, spec, K.conv_cov, out, center=spec.center)


def roll_cor(df, x, by, order, spec: RollSpec, *, y, out="roll_cor"):
    return _two(df, x, y, by, order, spec, K.conv_cor, out)


def roll_crossprod(df, x, by, order, spec: RollSpec, *, y, out="roll_crossprod"):
    return _two(df, x, y, by, order, spec, K.conv_crossprod, out)


def roll_lm(df, x, y, by, order, spec: RollSpec, *, intercept=True, out_prefix="lm_"):
    """Weighted single-regressor lm via the k-kernel (k=1)."""
    return roll_lm_k(df, [x], y, by, order, spec, intercept=intercept,
                     out_prefix=out_prefix, flat=True)


def roll_lm_k(
    df: DataFrame,
    x_cols: Sequence[str],
    y: str,
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    intercept: bool = True,
    out_prefix: str = "lm_",
    flat: bool = False,
) -> DataFrame:
    """k-regressor rolling OLS: rolling XtX/Xty + batched np.linalg.solve
    (the reference's two-phase roll_lm, src/roll.cpp:2069-2117).

    Output: ``{p}coef array<double>, {p}intercept, {p}r2, {p}se
    array<double>, {p}se_intercept`` — or flat scalar columns matching
    the native path when ``flat=True`` (k must be 1).
    """
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    p = out_prefix

    fields = [
        (p + "coef", "array<double>"),
        (p + "r2", "double"),
        (p + "se", "array<double>"),
    ]
    if intercept:
        fields += [(p + "intercept", "double"), (p + "se_intercept", "double")]

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        res = K.conv_lm_k(
            X, cols[y], spec.width, weights=weights,
            min_obs=spec.effective_min_obs, intercept=intercept,
        )
        out = {
            p + "coef": _list_rows(res["coef"], null_all_nan=True),
            p + "r2": res["r2"],
            p + "se": _list_rows(res["se"], null_all_nan=True),
        }
        if intercept:
            out[p + "intercept"] = res["intercept"]
            out[p + "se_intercept"] = res["se_intercept"]
        return out

    res = _apply_kernel(df, x_cols + [y], by, order, fields, kernel)
    if flat:
        if len(x_cols) != 1:
            raise ValueError("flat=True requires exactly one regressor")
        res = (
            res.withColumn(p + "coef_x", F.col(p + "coef")[0])
            .withColumn(p + "se_x", F.col(p + "se")[0])
            .drop(p + "coef", p + "se")
        )
    return res


def roll_lm_multi(
    df: DataFrame,
    x_cols: Sequence[str],
    y_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    intercept: bool = True,
    out_prefix: str = "lm_",
) -> DataFrame:
    """Multi-response rolling OLS: one INDEPENDENT fit per y column,
    the reference's z-matrix loop (src/roll.cpp:2280-2325 runs roll_lm
    once per y column and returns a list).

    Each fit applies its own complete-obs mask over (x_cols, that y) —
    exactly what the reference's per-column loop does — but all fits for
    a series run inside ONE kernel call, so the Arrow exchange
    and the window materialization cost is paid once, not len(y_cols)
    times. Output columns: ``{prefix}{y}_coef array<double>,
    {prefix}{y}_r2, {prefix}{y}_se array<double>`` (+ ``_intercept``,
    ``_se_intercept`` when intercept=True) per y column.
    """
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    y_cols = list(y_cols)
    p = out_prefix

    fields = []
    for yc in y_cols:
        fields += [
            (f"{p}{yc}_coef", "array<double>"),
            (f"{p}{yc}_r2", "double"),
            (f"{p}{yc}_se", "array<double>"),
        ]
        if intercept:
            fields += [
                (f"{p}{yc}_intercept", "double"),
                (f"{p}{yc}_se_intercept", "double"),
            ]

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        out = {}
        for yc in y_cols:
            res = K.conv_lm_k(
                X, cols[yc], spec.width, weights=weights,
                min_obs=spec.effective_min_obs, intercept=intercept,
            )
            out[f"{p}{yc}_coef"] = _list_rows(res["coef"], null_all_nan=True)
            out[f"{p}{yc}_r2"] = res["r2"]
            out[f"{p}{yc}_se"] = _list_rows(res["se"], null_all_nan=True)
            if intercept:
                out[f"{p}{yc}_intercept"] = res["intercept"]
                out[f"{p}{yc}_se_intercept"] = res["se_intercept"]
        return out

    return _apply_kernel(df, x_cols + y_cols, by, order, fields, kernel)


def roll_cov_xy_matrix(
    df: DataFrame,
    x_cols: Sequence[str],
    y_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    complete_obs: bool = True,
    out: str = "roll_cov_xy",
) -> DataFrame:
    """Rolling k_x x k_y CROSS-covariance cube for an (x, y) matrix pair,
    flattened row-major into ``array<double>`` of length k_x*k_y — the
    reference's non-symmetric cube when roll_cov gets two matrices
    (src/roll.cpp:1661-1679, roll_mat.h:3659). complete_obs=True masks
    rows missing ANY column of either matrix; False computes each cross
    pair over its own pairwise-complete windows."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    y_cols = list(y_cols)

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        Y = np.column_stack([cols[c] for c in y_cols])
        cube = K.conv_cov_xy_matrix(
            X, Y, spec.width, weights=weights, min_obs=spec.effective_min_obs,
            center=spec.center, complete_obs=complete_obs,
        ).reshape(len(X), -1)
        return {out: _list_rows(cube)}

    return _apply_kernel(df, x_cols + y_cols, by, order, [(out, "array<double>")], kernel)


def roll_cov_matrix(
    df: DataFrame,
    x_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    scale: bool = False,
    complete_obs: bool = True,
    out: str = "roll_cov_matrix",
) -> DataFrame:
    """Rolling k x k covariance/correlation matrix per row, flattened
    row-major into ``array<double>`` of length k*k (the reference's cube
    slice per timestamp, inst/include/roll_attr.h:56-70). scale=True
    gives the correlation matrix (reference roll_cor on matrix input).

    ``complete_obs`` is an explicit keyword (not read off the spec)
    because its reference default differs by op: TRUE for matrix
    cov/cor (R/roll.R:712), FALSE elsewhere. complete_obs=False gives
    per-pair pairwise-complete windows (src/roll.cpp:103-155 masks)."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        cube = K.conv_cov_matrix(
            X, spec.width, weights=weights, min_obs=spec.effective_min_obs,
            center=spec.center, scale=scale, complete_obs=complete_obs,
        ).reshape(len(X), -1)
        return {out: _list_rows(cube)}

    return _apply_kernel(df, x_cols, by, order, [(out, "array<double>")], kernel)


def roll_mad(df, value, by, order, width, *, min_obs=None, na_restore=False,
             out="roll_mad"):
    """Rolling median absolute deviation (robust dispersion for
    heavy-tailed transcript series — latency spikes, token bursts).
    Arrow-only: the inner median-of-deviations re-centers per window, so
    there is no single-Window Catalyst form; the kernel is the same
    strided-block shape as conv_quantile (kernels.conv_mad)."""
    spec = RollSpec(width=width, min_obs=min_obs)  # validates width/min_obs

    def kernel(cols):
        return {out: K.conv_mad(cols[value], width,
                                min_obs=spec.effective_min_obs,
                                na_restore=na_restore)}

    return _apply_kernel(df, [value], by, order, [(out, "double")], kernel)
