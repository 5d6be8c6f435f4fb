"""Spark wrappers for extrapolation: per-conversation forecasts.

Output shape: (conv_id, h, yhat) with h = 1..horizon. Sequential recursions
(SES/Holt) run once per conversation through `partitioning.per_series`; the
per-series grid search for unset Holt parameters stays inside the kernel
call (conversations are small; the grid is <= steps^3 SSE evaluations of
O(n) each — SURVEY §3.3).

Short series (below each method's minimum) yield zero rows by default
(strict=True re-raises, matching reference throw behavior)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .kernels import forecast as K
from .partitioning import per_series

METHODS = ("ses", "holt", "linear")


def forecast(
    df: DataFrame,
    horizon: int,
    method: str = "ses",
    value_col: str = "value",
    order_col: str = "turn_idx",
    strict: bool = False,
    **params,
) -> DataFrame:
    if method not in METHODS:
        raise ValueError(f"unknown forecast method {method!r}")
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    kernel = getattr(K, method)
    kernel([1.0, 2.0, 3.0], horizon, **params)  # fail fast on bad params

    def run(_, x):
        try:
            yhat = kernel(x, horizon, **params)
        except ValueError:
            if strict:
                raise
            return None
        return {"h": range(1, horizon + 1), "yhat": yhat}

    return per_series(df, ["conv_id"], order_col, [value_col], run, "conv_id string, h int, yhat double")
