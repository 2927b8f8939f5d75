"""Shared parameter semantics for every roll_* operator.

Mirrors the reference's argument contract (SURVEY.md §2.1; reference
``R/roll.R:113-114``, ``inst/include/roll_check.h``):

- ``width``     trailing window size in rows (>= 1). Expanding series =
                ``width >= n`` (the reference's degenerate case).
- ``weights``   per-slot weights aligned by LAG FROM THE CURRENT ROW:
                the newest row always gets ``weights[-1]``, the row k
                steps back gets ``weights[-1-k]`` (reference offline
                kernels read ``arma_weights[n - count - 1]``,
                ``roll_vec.h:556``). May be longer than ``width``; only
                the last ``width`` entries can ever be touched.
- ``min_obs``   minimum non-missing observations in the window, else
                the output is NULL. Defaults to ``width`` (complete
                windows); ``min_obs=1`` gives partial/expanding output.
- ``complete_obs``  the reference's matrix row mask (exclude a row from
                EVERY column's window when ANY input column is missing,
                ``src/roll.cpp:103-125``) is not a spec field: single-series
                ops take ``mask_cols=`` (``operators.base``), the matrix
                cov ops their own ``complete_obs=`` keyword.
- ``na_restore``    if True, the output at a missing input position is
                NULL regardless of window state (reference passthrough
                ``roll_vec.h:497-501``).

The reference's ``online`` algorithm hint has no twin: the engine picks
the physical strategy itself (Catalyst WindowExec for equal weights,
vectorized Arrow kernels otherwise).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

EPS = float(np.finfo(np.float64).eps)  # arma::datum::eps
SQRT_EPS = float(np.sqrt(np.finfo(np.float64).eps))


@dataclass(frozen=True)
class RollSpec:
    """One operator invocation's shared parameters."""

    width: int
    weights: tuple[float, ...] | None = None
    min_obs: int | None = None  # None -> width
    na_restore: bool = False
    center: bool = True
    scale: bool = False
    p: float = 0.5  # quantile only

    def __post_init__(self) -> None:
        if self.width < 1:
            raise ValueError("width must be a positive integer")
        if self.min_obs is not None and self.min_obs < 1:
            raise ValueError("min_obs must be a positive integer")
        if not (0.0 <= self.p <= 1.0):
            raise ValueError("p must be in [0, 1]")
        if self.weights is not None:
            w = np.asarray(self.weights, dtype=np.float64)
            if w.size < self.width:
                raise ValueError(
                    f"weights must have length >= width ({w.size} < {self.width})"
                )

    @property
    def effective_min_obs(self) -> int:
        return self.width if self.min_obs is None else self.min_obs

    @property
    def is_equal_weight(self) -> bool:
        """No weights, or every weight ~1: the native Catalyst path
        applies; anything else dispatches to the Arrow kernels."""
        if self.weights is None or len(self.weights) == 0:
            return True
        w = np.asarray(self.weights, dtype=np.float64)
        return bool(np.allclose(w, w[-1]) and np.isclose(w[-1], 1.0))
