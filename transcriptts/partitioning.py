"""One runner for per-series Python kernels, sized to the task slots.

Every grouped kernel (smoothing, PELT, CUSUM, penalty selection,
forecasting, pandas gap-fill, Gorilla encoding) has the same shape: split
the input into independent series, order each one, run a numpy kernel over
it, stack the outputs. `per_series` is that shape once:

- **width = the task slots.** A Python task pays a fixed start-up cost
  whatever its data: pyspark's per-task setup calls
  `importlib.invalidate_caches()`, which re-reads the zip directory of every
  zip importer on the worker's path (0.1-0.3 s per task, see
  BENCH/PY_TASK_COST.md). At these kernel sizes that cost dominates, so the
  kernel stage runs exactly one wave: `defaultParallelism` tasks. More
  tasks per core (straggler smoothing) pay the start-up cost once per wave.
- **explicit exchange.** AQE's post-shuffle coalescing sizes partitions by
  bytes, which for a few-MB kernel input means one or two partitions and a
  serial kernel stage (measured 105 s -> 11.5 s for penalty selection at
  local[32] once the exchange kept its width). A user-specified
  `repartition(n, keys)` is exempt from coalescing, and the grouping
  reuses its clustering without a second shuffle.
- **JVM-side grouping and ordering.** `sort_array(collect_list(struct(order,
  values...)))` groups and orders each series before Python sees it, so the
  Python side gets Arrow batches of whole series, one row each, and builds
  one output frame per batch rather than one pandas frame per group.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def slot_width(df: DataFrame) -> int:
    """Task count for a Python stage over `df`: one wave of task slots.

    When the slot count equals the session's shuffle-partition count, an
    explicit `repartition(n, keys)` is semantically equal to any upstream
    ENSURE_REQUIREMENTS exchange on the same keys, and Catalyst drops it —
    leaving only the coalescible exchange, which AQE may shrink by bytes
    until the kernel runs on one core. One extra partition keeps the
    explicit exchange in the plan under any config."""
    spark = df.sparkSession
    n = max(1, spark.sparkContext.defaultParallelism)
    return n + 1 if n == int(spark.conf.get("spark.sql.shuffle.partitions")) else n


def per_series(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_cols: Sequence[str],
    kernel: Callable[..., Mapping[str, Sequence] | None],
    out_schema: str,
) -> DataFrame:
    """Run `kernel` once per series (rows sharing `keys`) in one task wave.

    `kernel(order, x)` gets the series ordered by `order_col`: `order` is
    the numpy array of order values and `x` the values cast to double
    (nulls become NaN), a 1-D array for one value column or the (D, N)
    matrix for D columns. It returns a mapping of output column to an
    equal-length sequence, or None for no rows; the runner prepends the key
    columns. `out_schema` is the DDL of keys + kernel columns. Errors the
    kernel raises fail the job.

    Ordering is by (order_col, values...): series with duplicate order
    values are ordered deterministically by value, where a pandas sort
    left their relative order unspecified.
    """
    import numpy as np
    import pandas as pd

    keys = list(keys)
    vnames = [f"v{i}" for i in range(len(value_cols))]
    point = F.struct(
        F.col(order_col).alias("t"),
        *(F.col(c).cast("double").alias(v) for c, v in zip(value_cols, vnames)),
    )
    grouped = (
        df.select(*keys, point.alias("_p"))
        .repartition(slot_width(df), *keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("_p")).alias("_s"))
        .select(*keys, *(F.col(f"_s.{f}").alias(f) for f in ["t", *vnames]))
    )

    def run(batches):
        for pdf in batches:
            counts, cols = [], {}
            for t, *vs in zip(pdf["t"], *(pdf[v] for v in vnames)):
                x = np.vstack([np.asarray(v, dtype=float) for v in vs])
                res = kernel(np.asarray(t), x if len(vs) > 1 else x[0])
                n = 0
                for c, seq in (res or {}).items():
                    cols.setdefault(c, []).extend(seq)
                    n = len(seq)
                counts.append(n)
            if cols:
                out = {k: np.repeat(pdf[k].to_numpy(), counts) for k in keys}
                out.update(cols)
                yield pd.DataFrame(out)

    return grouped.mapInPandas(run, out_schema)
