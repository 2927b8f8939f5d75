"""roll_spark — a PySpark-native rolling time-series rollup / downsample /
retention engine.

Re-expresses the query surface of the R package ``roll`` (reference:
``/root/reference``, v1.2.2) as idiomatic Spark:

- equal-weight rolling/expanding statistics -> native Catalyst Window
  expressions (``roll_spark.operators.window_ops``), whole-stage codegen'd;
- weighted / exponential-decay / exact-quantile / k-regressor paths ->
  vectorized Arrow kernels over ``mapInArrow``
  (``roll_spark.operators.arrow_ops`` + ``roll_spark.operators.kernels``);
- retention tiers raw->1m->1h->1d with mergeable sufficient statistics
  (Chan et al. parallel moment combination), gap-fill, Gorilla compression,
  and resumable per-partition lineage (``roll_spark.plans``);
- training-data pipeline operators (dedup, similarity search, text
  analysis) in ``roll_spark.datapipe``.

Input contract (BASELINE.json input_hint): a transcripts table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``; numeric series are derived (text_len, latency_s).
"""

from roll_spark.config import RollSpec
from roll_spark.operators.lm import roll_lm, roll_lm_predict
from roll_spark.operators.arrow_ops import (
    roll_cov_matrix,
    roll_cov_xy_matrix,
    roll_lm_k,
    roll_lm_multi,
    roll_mad,
)
from roll_spark.operators.moments import (
    roll_acf,
    roll_entropy,
    roll_iqr,
    roll_trimmed_mean,
    roll_kurt,
    roll_nunique,
    roll_percentrank,
    roll_skew,
    roll_skew_kurt,
    roll_spearman,
)
from roll_spark.operators.time_windows import decayed_count, ewma_time, roll_time
from roll_spark.operators.window_ops import (
    roll_all,
    roll_any,
    roll_cor,
    roll_cov,
    roll_crossprod,
    roll_idxmax,
    roll_idxmin,
    roll_max,
    roll_mean,
    roll_median,
    roll_min,
    roll_prod,
    roll_quantile,
    roll_quantiles,
    roll_scale,
    roll_sd,
    roll_sum,
    roll_var,
)

__all__ = [
    "RollSpec",
    "roll_mean",
    "roll_sum",
    "roll_prod",
    "roll_min",
    "roll_max",
    "roll_median",
    "roll_quantile",
    "roll_quantiles",
    "roll_var",
    "roll_sd",
    "roll_scale",
    "roll_cov",
    "roll_cor",
    "roll_crossprod",
    "roll_idxmin",
    "roll_idxmax",
    "roll_any",
    "roll_all",
    "roll_lm",
    "roll_lm_predict",
    "roll_lm_k",
    "roll_lm_multi",
    "roll_cov_matrix",
    "roll_cov_xy_matrix",
    "roll_skew",
    "roll_kurt",
    "roll_skew_kurt",
    "roll_acf",
    "roll_nunique",
    "roll_percentrank",
    "roll_mad",
    "roll_trimmed_mean",
    "roll_spearman",
    "roll_entropy",
    "roll_iqr",
    "ewma_time",
    "decayed_count",
    "roll_time",
]

__version__ = "0.4.0"
