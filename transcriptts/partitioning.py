"""The two runners of row-wise Python stages, one loop, one wave of task slots.

Every Python stage maps one input row to zero or more output rows: a grouped
kernel (smoothing, PELT, CUSUM, penalty selection, forecasting, pandas
gap-fill, Gorilla encoding) one ordered series; the Gorilla decode one chunk;
a media extractor one payload; the Nelder-Mead query one conversation.
`_map_rows` is the one per-batch loop: one call per row of an Arrow batch,
keys repeated by the output count, one pandas frame per batch.

- **one wave.** A Python task pays a fixed start-up cost whatever its data:
  pyspark's per-task setup calls `importlib.invalidate_caches()`, which
  re-reads the zip directory of every zip importer on the worker's path
  (0.1-0.3 s per task, see BENCH/PY_TASK_COST.md). At these kernel sizes
  that cost dominates, so both runners use `defaultParallelism` tasks.
- **`per_series` repartitions.** It groups and orders each series JVM-side
  (`sort_array(collect_list(struct(order, values...)))`), which needs a
  shuffle. AQE's post-shuffle coalescing sizes partitions by bytes, which
  for a few-MB kernel input means one or two partitions and a serial kernel
  stage (measured 105 s -> 11.5 s for penalty selection at local[32] once
  the exchange kept its width). A user-specified `repartition(n, keys)` is
  exempt from coalescing, and the grouping reuses its clustering.
- **`per_row` coalesces.** Its rows are already whole and independent, so
  a `coalesce` merges the upstream partitions (a shuffle's
  `spark.sql.shuffle.partitions`, a scan's splits) without an exchange.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RowFn = Callable[..., Mapping[str, Sequence] | None]


def _concat(parts: list):
    """One output column from the per-row sequences. Numeric arrays are
    concatenated, not unpacked into per-element Python objects (the Gorilla
    decode emits every archived point); lists and object arrays keep one
    element per output row."""
    import itertools

    import numpy as np

    if all(isinstance(p, np.ndarray) and p.dtype.kind != "O" for p in parts):
        return np.concatenate(parts)
    return list(itertools.chain.from_iterable(parts))


def _map_rows(keys: Sequence[str], cols: Sequence[str], fn: RowFn):
    """The mapInPandas function of both runners: `fn(*row[cols])` per row,
    `keys` repeated by its output count, one frame per Arrow batch."""
    keys, cols = list(keys), list(cols)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            counts, out_cols = [], {}
            for values in zip(*(pdf[c] for c in cols)):
                n = 0
                for c, seq in (fn(*values) or {}).items():
                    out_cols.setdefault(c, []).append(seq)
                    n = len(seq)
                counts.append(n)
            if out_cols:
                out = {k: np.repeat(pdf[k].to_numpy(), counts) for k in keys}
                out.update((c, _concat(parts)) for c, parts in out_cols.items())
                yield pd.DataFrame(out)

    return run


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
    kernel: RowFn,
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

    def call(t, *vs):
        x = np.vstack([np.asarray(v, dtype=float) for v in vs])
        return kernel(np.asarray(t), x if len(vs) > 1 else x[0])

    return grouped.mapInPandas(_map_rows(keys, ["t", *vnames], call), out_schema)


def per_row(df: DataFrame, keys: Sequence[str], cols: Sequence[str], fn: RowFn,
            out_schema: str) -> DataFrame:
    """Run `fn` once per row of `df` in one task wave.

    `fn(*values)` gets the row's `cols` values as pandas hands them over
    (binary as bytes, arrays as numpy arrays) and returns a mapping of output
    column to an equal-length sequence, or None for no rows; the runner
    prepends the row's `keys` columns, repeated. `out_schema` is the DDL of
    keys + fn columns. Errors `fn` raises fail the job.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    return df.coalesce(width).mapInPandas(_map_rows(keys, cols, fn), out_schema)
