"""Gap-fill for rollup tiers: dense bucket grid + LOCF + linear interpolation.

The reference has no concept of gaps — time is an array index
(Resampling.cs:41, 'gaps do not exist in the model'); this module is the
north-star addition that makes the rollup tiers well-defined over real,
irregular timestamps.

Two implementations with identical semantics:

1. ``gapfill`` — pure Catalyst column expressions (the production path):
   * dense grid: per (conv, metric) ``sequence(min_bucket, max_bucket,
     interval)`` + explode + left join on the original rollup. The join is
     co-partitioned with the subsequent windows (same keys), and the grid
     side is generated, not scanned.
   * LOCF  = ``last(value, ignoreNulls=True) over (rows unbounded preceding)``
   * linear = time-weighted blend of the LOCF value and the next observed
     value (``first(value, ignoreNulls=True)`` over the forward frame).
   Leading gaps stay null in both modes (nothing to carry).

2. ``gapfill_pandas`` — pandas ``ffill`` / ``interpolate`` per series,
   run through `partitioning.per_series` over Arrow batches — the shape the
   north rule names ('gap-fill inside vectorized pandas/Arrow UDFs'). It
   stays beside (1) because it is the independent reference that
   tests/test_gapfill.py and the benchmark's gap-fill gate
   (perfbench/checks.py) compare ``gapfill`` against; deleting it would
   leave (1) checked only against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import per_series
from .schema import TIER_SECONDS


def _dense_grid(rollup_df: DataFrame, step_seconds: int) -> DataFrame:
    """One row per (conv_id, metric, bucket) from each series' min to max."""
    spans = rollup_df.groupBy("conv_id", "metric").agg(
        F.min("bucket_start").alias("b_min"), F.max("bucket_start").alias("b_max")
    )
    return spans.select(
        "conv_id",
        "metric",
        F.explode(
            F.sequence("b_min", "b_max", F.expr(f"interval {step_seconds} seconds"))
        ).alias("bucket_start"),
    )


def gapfill(
    rollup_df: DataFrame,
    tier: str = "1m",
    value_cols: tuple[str, ...] = ("mean",),
    mode: str = "both",
) -> DataFrame:
    """Densify a rollup tier and fill missing buckets.

    Output adds, per value column c: ``{c}_locf`` and/or ``{c}_interp``;
    ``is_gap`` marks synthesized rows. Original columns keep nulls on gap
    rows so downstream code can distinguish observed from filled.
    """
    step = TIER_SECONDS[tier]
    grid = _dense_grid(rollup_df, step)
    dense = grid.join(rollup_df, ["conv_id", "metric", "bucket_start"], "left").withColumn(
        "is_gap", F.col("cnt").isNull()
    )

    w = Window.partitionBy("conv_id", "metric").orderBy("bucket_start")
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    t = F.unix_seconds(F.col("bucket_start").cast("timestamp")).cast("double")

    out = dense
    for c in value_cols:
        v = F.col(c)
        prev_v = F.last(v, ignorenulls=True).over(back)
        if mode in ("locf", "both"):
            out = out.withColumn(f"{c}_locf", prev_v)
        if mode in ("interp", "both"):
            prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(back)
            next_v = F.first(v, ignorenulls=True).over(fwd)
            next_t = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(fwd)
            frac = (t - prev_t) / (next_t - prev_t)
            interp = F.when(v.isNotNull(), v).otherwise(
                F.when(
                    prev_v.isNotNull() & next_v.isNotNull(),
                    prev_v + frac * (next_v - prev_v),
                ).otherwise(F.lit(None))
            )
            out = out.withColumn(f"{c}_interp", interp)
    return out


def gapfill_pandas(
    rollup_df: DataFrame,
    tier: str = "1m",
    value_cols: tuple[str, ...] = ("mean",),
) -> DataFrame:
    """Pandas gap-fill (golden cross-check of `gapfill`).

    Each (conv_id, metric) series reindexes onto the dense bucket grid in
    pandas, then ffill (LOCF) and time-linear interpolate, one kernel call
    per series through `partitioning.per_series`; no per-row Python.
    """
    import numpy as np
    import pandas as pd

    step = TIER_SECONDS[tier]
    fields = ", ".join(
        ["conv_id string", "metric string", "bucket_start timestamp", "is_gap boolean"]
        + [f"{c}_locf double" for c in value_cols]
        + [f"{c}_interp double" for c in value_cols]
    )

    def fill(t, x):
        idx = pd.date_range(t[0], t[-1], freq=f"{step}s")
        grid = [pd.Series(v, index=pd.DatetimeIndex(t)).reindex(idx) for v in np.atleast_2d(x)]
        out = {"bucket_start": idx, "is_gap": grid[0].isna()}
        # leading gaps stay NaN for both modes (matches column-expression path)
        for c, g in zip(value_cols, grid):
            out[f"{c}_locf"] = g.ffill().to_numpy()
            out[f"{c}_interp"] = g.interpolate(method="index", limit_area="inside").to_numpy()
        return out

    return per_series(rollup_df, ["conv_id", "metric"], "bucket_start", value_cols, fill, fields)
