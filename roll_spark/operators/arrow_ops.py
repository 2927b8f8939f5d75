"""Arrow (mapInArrow) execution of the roll_* surface — the scale
path for weighted / exponential-decay inputs, sums, means and exact
quantiles at large widths, and k-regressor roll_lm.

Physical shape: one hash exchange on the series key, a sort within each
partition on (series key, order key), then one mapInArrow pass per
partition that cuts each record batch into series and runs the
vectorized numpy kernels of roll_spark.operators.kernels on each — the
reference's parallelization model (independent series, each sequential
in time; src/roll.cpp:384) with Arrow batches instead of RcppParallel
threads. Per-row Python never happens, and neither does a per-series
Arrow stream: a partition crosses the JVM<->Python boundary as a few
columnar batches, only the kernel's input columns leave Arrow (as
float64 numpy arrays, converted once per batch), and passthrough
columns never do.

Skewed series (one conversation with 10^9 turns) do NOT fit this model;
they go through roll_spark.operators.chunked which splits a series into
overlap-padded chunks that this module's kernels evaluate independently.

DATA CONTRACT (all roll_* entry points, both paths): the (by, order)
key tuple — e.g. (conv_id, turn_idx) / (user_id, ts) — must be UNIQUE
and NON-NULL per row. The wide-frame join-back rejoins kernel outputs
on exactly these keys: a NULL order key never matches (its outputs
silently become NULL) and duplicate keys fan out. Set
ROLL_SPARK_DEBUG_KEYS=1 to fail loudly instead: the join-back then
asserts key uniqueness/non-nullness per series before joining.
"""

from __future__ import annotations

import os

from collections.abc import Sequence

import numpy as np
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
    import pyarrow as pa
    import pyarrow.compute as pc

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
    import pyarrow as pa

    mat = np.asarray(mat, dtype=np.float64)
    n, k = mat.shape
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    values = pa.array(mat.ravel(), from_pandas=True)
    mask = pa.array(np.isnan(mat).all(axis=1)) if null_all_nan else None
    return pa.ListArray.from_arrays(offsets, values, mask=mask)


def _check_keys(table, order_cols: list[str]) -> None:
    """ROLL_SPARK_DEBUG_KEYS contract check on one series: no NULL
    (or NaN) order key, no duplicate (by, order) key."""
    import pyarrow.compute as pc

    if any(pc.any(pc.is_null(table.column(c), nan_is_null=True)).as_py()
           for c in order_cols):
        raise ValueError(
            "roll_spark data contract violated: NULL order key in "
            f"series group (order cols {order_cols}); NULL keys "
            "never match the join-back and would silently NULL "
            "their kernel outputs"
        )
    distinct = table.select(order_cols).group_by(order_cols).aggregate([])
    if distinct.num_rows < table.num_rows:
        raise ValueError(
            "roll_spark data contract violated: duplicate "
            f"(by, order) key in series group (order cols "
            f"{order_cols}); duplicates fan out in the join-back"
        )


def _key_changes(keys) -> np.ndarray:
    """``(n-1,)`` bool over n rows of the series-key arrays ``keys``:
    row i+1's key differs from row i's. Equality is the one Spark's sort
    and ``groupBy`` use: NULL = NULL, NaN = NaN, -0.0 = 0.0."""
    import pyarrow as pa
    import pyarrow.compute as pc

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
    (list columns, via ``_list_rows``).

    One physical path: a hash exchange on ``by``, a sort within each
    partition on ``(by, order)``, then one ``mapInArrow`` pass over each
    sorted partition. The UDF cuts every record batch into series at the
    rows where the key changes (the ``groupBy(by)`` grouping: NULL =
    NULL, NaN = NaN, -0.0 = 0.0), converts the kernel inputs once per
    batch, calls ``kernel`` on each series' slice and builds each output
    column once per batch. A series longer than a batch is carried as a
    list of batches and evaluated once when it ends. The order key sorts
    ``ASC NULLS FIRST``, Spark's default and ``base.ordered_window``'s,
    so an Arrow op after a native Window reuses that Window's sort. It
    places NULL order keys, which already break the data contract, first
    in their series.

    Two frame shapes share that path:

    - PASSTHROUGH (narrow frames): every column rides through the Arrow
      batch and the UDF appends the outputs — ONE shuffle, no join.
      Chosen when no non-key column is a string/binary wider than the
      keys (typical derived-series frames).
    - JOIN-BACK (wide frames, e.g. raw transcripts with full text):
      only (keys, order, inputs) cross the Python boundary; results join
      back on the (by, order) key columns so megabyte text/binary
      payloads never serialize through Arrow twice. This relies on the
      engine's data contract — (series key, order key) uniquely
      identifies a row, e.g. (conv_id, turn_idx) — and is deterministic
      under recomputation, unlike a synthetic monotonically_increasing_id
      (whose values are partition-layout-dependent: the two sides of the
      self-join may recompute the upstream plan with different physical
      layouts and disagree on every id).
    """
    by_l, order_l = _as_list(by), _as_list(order)
    key_cols = set(by_l) | set(order_l) | set(in_cols)
    wide = [
        f.name
        for f in df.schema
        if f.name not in key_cols and isinstance(f.dataType, _WIDE_TYPES)
    ]
    out_struct = [
        TT.StructField(n, TT._parse_datatype_string(t)) for n, t in out_fields
    ]
    if wide:
        field_by_name = {f.name: f for f in df.schema}
        src = df.select(*by_l, *order_l, *in_cols)
        keep = by_l + order_l
        out_schema = TT.StructType([field_by_name[c] for c in keep] + out_struct)
    else:
        src, keep = df, df.columns
        out_schema = TT.StructType(list(df.schema) + out_struct)
    arrow_types = [to_arrow_type(f.dataType) for f in out_schema]
    debug_keys = bool(wide) and os.environ.get("ROLL_SPARK_DEBUG_KEYS") == "1"

    def run(parts, starts):
        """Evaluate the whole series that begin at row offsets ``starts``
        of the concatenated record batches ``parts``."""
        import pyarrow as pa

        table = pa.Table.from_batches(parts)
        inputs = _kernel_inputs(table, in_cols)
        ends = [*starts[1:], table.num_rows]
        results = []
        for s, e in zip(starts, ends):
            if debug_keys:
                _check_keys(table.slice(s, e - s), order_l)
            results.append(kernel({c: v[s:e] for c, v in inputs.items()}))
        columns = [table.column(c) for c in keep]
        for (name, _), typ in zip(out_fields, arrow_types[len(keep):]):
            vals = [r[name] for r in results]
            columns.append(
                pa.concat_arrays(vals) if isinstance(vals[0], pa.Array)
                else pa.array(np.concatenate(vals), type=typ, from_pandas=True))
        out = pa.table(columns, names=out_schema.names)
        # the JVM may send a passthrough type other than the one it
        # expects back (large_string under useLargeVarTypes)
        if out.schema.types != arrow_types:
            out = out.cast(pa.schema(
                [pa.field(n, t) for n, t in zip(out_schema.names, arrow_types)]
            ))
        return out.to_batches()

    def fn(batches):
        import pyarrow as pa

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
                yield from run(done, ([0] if carry else [])
                               + [carry_rows + s for s in starts[:-1]])
            carry, carry_rows = [batch.slice(cut)], n - cut
        if carry:
            yield from run(carry, [0])

    res = (src.repartition(*by_l)
           .sortWithinPartitions(*by_l, *order_l)
           .mapInArrow(fn, out_schema))
    return df.join(res, on=keep, how="left") if wide else res


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
