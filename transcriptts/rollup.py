"""Tumbling-window continuous aggregates — the rollup core.

Re-expresses the reference's positional segment statistics
(SegmentMean/Median/Min/Max, SignalSharp/Resampling/Resampling.cs:85-172) as
time-bucket aggregates over real timestamps, generalized with count / p50 /
p99 and the inter-turn latency metric per the north rule.

One tier engine: ``rollup(df, tier)`` builds one tier and ``rollup_tiers(df)``
builds 1m/1h/1d from one derived projection; ``rollup_salted`` is the exact
escape hatch for a single hot bucket.

Execution shape (scale notes):
- everything is built-in Catalyst aggregates — count/sum/min/max/avg get
  map-side partial aggregation for free, so the shuffle carries one partial
  row per (conv_id, bucket, metric) per map task, not raw turns;
- ``percentile`` is Spark's EXACT percentile (matches reference median
  semantics: even n → mean of the two middle values); it buffers bucket
  values, so bucket size — not conversation size — bounds task memory.
  A conversation that is hot *across* buckets parallelizes naturally because
  the grouping key includes the bucket; a single pathological bucket is
  handled by the salted two-phase path in ``rollup_salted``;
- no Python in this path at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .schema import TIERS

METRICS = ("token_count", "latency_s")


def token_count_col(text: str | Column = "text") -> Column:
    """Whitespace token count; empty/blank/null → 0 (derived metric per input_hint).

    Counted as the number of \\S+ runs: identical to
    len(split(trim(text), '\\s+')) for non-blank text, but regexp_count
    never materializes the token array — the split version allocates a
    string array per row, which at 16M rows x 3 tiers dominated young-gen
    GC and was the single worst scaling drag in the hot path.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(r"\S+"))


def with_derived_metrics(df: DataFrame) -> DataFrame:
    """Add token_count and inter-turn latency_s (seconds, null for turn 0).

    latency = ts - lag(ts) over (partition by conv_id order by turn_idx) —
    a single window, evaluated in one shuffle by (conv_id).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # parquet timestamps may load as TIMESTAMP_NTZ; unix_micros needs LTZ —
    # session tz is pinned to UTC so the cast is wall-clock-preserving.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lat_us = ts_us - F.lag(ts_us).over(w)
    return df.withColumn("token_count", token_count_col()).withColumn(
        "latency_s", (lat_us / F.lit(1_000_000.0)).cast("double")
    )


def with_session_id(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Split each conversation into sessions at inactivity gaps > `gap`.

    session_id is the 0-based running count of gap-exceeding boundaries
    before the turn: a cumulative sum over an is-new-session indicator in
    ONE window pass per conversation (the same (conv_id, turn_idx) window
    with_derived_metrics already shuffles by, so sessionizing a derived
    frame adds no extra exchange). Turn 0 starts session 0; a null previous
    ts cannot occur mid-conversation (ts is non-null per the input hint).

    The transcripts-native cut for training pipelines: long agent traces
    with day-long idle stretches become separately-windowable sessions
    without touching the raw partitioning.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = F.lit(int(_parse_gap_us(gap)))
    is_new = (ts_us - F.lag(ts_us).over(w) > gap_us).cast("long")
    return df.withColumn(
        "session_id",
        F.coalesce(
            F.sum(F.coalesce(is_new, F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            F.lit(0),
        ),
    )


def _parse_gap_us(gap: str) -> int:
    """'30 minutes' / '2 hours' / '45 seconds' / '1 day' → microseconds."""
    qty, unit = gap.split()
    mult = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }
    if unit not in mult:
        raise ValueError(f"unsupported gap unit {unit!r} in {gap!r}")
    return int(qty) * mult[unit]


def _long_metrics(df: DataFrame) -> DataFrame:
    """Wide → long: one row per (turn, metric); null metric values dropped
    (turn 0 has no latency — matches 'gaps do not exist' reference model)."""
    pairs = ", ".join(f"'{m}', cast({m} as double)" for m in METRICS)
    return (
        df.select("conv_id", "ts", F.expr(f"stack({len(METRICS)}, {pairs}) as (metric, value)"))
        .where(F.col("value").isNotNull())
    )


def rollup(df: DataFrame, tier: str = "1m") -> DataFrame:
    """One retention tier of continuous aggregates from raw turns.

    df must already carry token_count/latency_s (see with_derived_metrics).
    Returns ROLLUP_SCHEMA rows (long format: one row per metric).

    Plan shape (measured ~5x faster than the naive long-format design):
    - WIDE aggregation — both metrics aggregated in ONE groupBy over the raw
      rows, so the pre-shuffle row count is 1x raw (a stack-to-long first
      design shuffles 2x rows and doubles the aggregation groups);
    - both percentiles share ONE percentile buffer per metric
      (percentile(v, array(0.5, 0.99))) instead of two independent
      sort-buffers;
    - the long output shape is produced AFTER aggregation by exploding a
      2-struct array on the (small) aggregated rows.

    Percentiles are Spark's exact interpolating ``percentile``: they match
    the reference's median semantics bit-for-bit (even n → mean of the two
    middle values) and are what every oracle row verifies. The buffer holds
    each bucket's values, so bucket size bounds task memory; a single
    pathological bucket is ``rollup_salted``'s job.
    """
    duration = TIERS[tier]
    ps = F.array(F.lit(0.5), F.lit(0.99))
    aggs = []
    for m in METRICS:
        v = F.col(m).cast("double")
        aggs += [
            F.count(v).alias(f"{m}_cnt"),
            F.sum(v).alias(f"{m}_sum"),
            F.min(v).alias(f"{m}_min"),
            F.max(v).alias(f"{m}_max"),
            F.percentile(v, ps).alias(f"{m}_pct"),
        ]
    wide = df.groupBy("conv_id", F.window("ts", duration).alias("w")).agg(*aggs)
    per_metric = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"),
                F.col(f"{m}_cnt").alias("cnt"),
                F.col(f"{m}_sum").alias("sum"),
                F.col(f"{m}_min").alias("min"),
                F.col(f"{m}_max").alias("max"),
                F.col(f"{m}_pct").alias("pct"),
            )
            for m in METRICS
        ]
    )
    return (
        wide.select("conv_id", F.col("w.start").alias("bucket_start"), F.explode(per_metric).alias("s"))
        .where(F.col("s.cnt") > 0)  # e.g. buckets whose only latency values are null
        .select(
            "conv_id",
            "bucket_start",
            F.col("s.metric").alias("metric"),
            F.col("s.cnt").alias("cnt"),
            F.col("s.sum").alias("sum"),
            (F.col("s.sum") / F.col("s.cnt")).alias("mean"),
            F.col("s.min").alias("min"),
            F.col("s.max").alias("max"),
            F.col("s.pct")[0].alias("p50"),
            F.col("s.pct")[1].alias("p99"),
        )
    )


def rollup_salted(df: DataFrame, tier: str = "1m", salt_buckets: int = 8) -> DataFrame:
    """Skew-hardened rollup: two-phase aggregation with an explicit salt.

    Phase 1 groups by (conv_id, bucket, metric, salt) — a hot bucket splits
    into `salt_buckets` parallel partial aggregates, each carrying a SORTED
    value array for the percentile. Phase 2 merges partials: moments compose
    exactly (sum/count/min/max), and the exact percentile is recovered by
    flattening + sorting the per-salt sorted arrays (identical multiset →
    identical percentile — no approximation).

    Cost: the percentile arrays shuffle all values either way; what salting
    buys is that no single *task* has to pre-aggregate a pathological bucket
    alone. Use when one (conv, minute) can hold millions of turns.
    """
    duration = TIERS[tier]
    long_df = _long_metrics(df).withColumn(
        "salt", F.pmod(F.hash("ts"), F.lit(salt_buckets))
    )
    partial = long_df.groupBy(
        "conv_id", F.window("ts", duration).alias("w"), "metric", "salt"
    ).agg(
        F.count("value").alias("p_cnt"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
        F.sort_array(F.collect_list("value")).alias("p_vals"),
    )
    merged = partial.groupBy("conv_id", "w", "metric").agg(
        F.sum("p_cnt").alias("cnt"),
        F.min("p_min").alias("min"),
        F.max("p_max").alias("max"),
        F.sort_array(F.flatten(F.collect_list("p_vals"))).alias("vals"),
    )

    # sum/mean via a left fold over the sorted multiset: fp addition is not
    # associative and the per-salt partial-sum re-addition order depends on
    # the shuffle, so the fold makes sum/mean a pure function of the
    # bucket's values — the same number every run, at every tier, and the
    # same number the oracle's sorted fold computes. The direct rollup()
    # still sums via F.sum, whose partial-aggregation order is
    # shuffle-dependent — agreement with IT holds only to ulp (its oracle
    # rounds to 6 dp).
    ssum = F.aggregate(F.col("vals"), F.lit(0.0), lambda acc, x: acc + x)
    return merged.select(
        "conv_id",
        F.col("w.start").alias("bucket_start"),
        "metric",
        "cnt",
        ssum.alias("sum"),
        (ssum / F.col("cnt")).alias("mean"),
        "min",
        "max",
        _exact_pct(F.col("vals"), F.col("cnt"), 0.5).alias("p50"),
        _exact_pct(F.col("vals"), F.col("cnt"), 0.99).alias("p99"),
    )


def _exact_pct(vals: Column, cnt: Column, p: float) -> Column:
    """Exact percentile with linear interpolation on a SORTED array.

    pos = p*(n-1) (the same convention as Spark's exact ``percentile`` and
    DuckDB's quantile_cont; reference median = p=0.5 special case,
    StatisticalFunctions.helpers.cs:32-45). 1-based element_at.

    Uses the BUILTIN's exact two-sided form `(hi-pos)*a + (pos-lo)*b`
    (Percentile.scala getPercentile) rather than `a + frac*(b-a)`: the two
    differ in the last ulp, and matching the builtin keeps every percentile
    in the engine — direct or salted — bit-identical."""
    pos = F.lit(p) * (cnt - 1).cast("double")
    lo = F.floor(pos)
    hi = F.ceil(pos)
    a = F.element_at(vals, lo.cast("int") + 1)
    b = F.element_at(vals, hi.cast("int") + 1)
    return F.when(hi == lo, a).otherwise((hi - pos) * a + (pos - lo) * b)


def rollup_tiers(df: DataFrame) -> dict[str, DataFrame]:
    """All three retention tiers from one raw transcripts DataFrame.

    Each tier is one wide aggregation over the derived rows (``rollup``):
    exact percentiles everywhere, one shuffle per tier.
    """
    derived = with_derived_metrics(df).select("conv_id", "ts", "token_count", "latency_s")
    return {tier: rollup(derived, tier) for tier in ("1m", "1h", "1d")}


# ---------------------------------------------------------------------------
# Positional segment operators — direct equivalents of the reference's
# Resampling family, over (conv_id, order_col, value).
# ---------------------------------------------------------------------------


def _rn(order_col: str) -> tuple[Window, Column]:
    w = Window.partitionBy("conv_id").orderBy(order_col)
    return w, F.row_number().over(w) - 1  # 0-based position == array index


def downsample(df: DataFrame, factor: int, value_col: str, order_col: str = "turn_idx") -> DataFrame:
    """Keep every k-th sample: result[i] = signal[i*factor]
    (Resampling.cs:41-55). Narrow filter after one per-conv window pass."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    _, rn = _rn(order_col)
    return (
        df.withColumn("_rn", rn)
        .where(F.col("_rn") % factor == 0)
        .select("conv_id", (F.col("_rn") / factor).cast("long").alias("pos"), F.col(value_col).alias("value"))
    )


def segment_agg(df: DataFrame, factor: int, value_col: str, order_col: str = "turn_idx") -> DataFrame:
    """Tumbling positional segments of `factor` points; the last segment may
    be partial (Resampling.cs:101-118 `end = min(start+factor, n)`).

    Emits mean/median/min/max per segment — the union of SegmentMean (:101),
    SegmentMedian (:85, exact median), SegmentMax (:128), SegmentMin (:155).
    """
    if factor <= 0:
        raise ValueError("factor must be positive")
    _, rn = _rn(order_col)
    v = F.col(value_col).cast("double")
    return (
        df.withColumn("_rn", rn)
        .groupBy("conv_id", (F.col("_rn") / factor).cast("long").alias("seg"))
        .agg(
            F.avg(v).alias("seg_mean"),
            F.percentile(v, F.lit(0.5)).alias("seg_median"),
            F.min(v).alias("seg_min"),
            F.max(v).alias("seg_max"),
            F.count(v).alias("seg_cnt"),
        )
    )
