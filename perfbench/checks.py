"""Correctness gates. Each returns ``(ok, detail)`` and counts as one operation.

* tiers against DuckDB SQL over the same input parquet, row by row, with
  values equal to a relative 1e-9 (the two engines sum doubles in different
  orders, so exact equality, or equality after rounding, is not a fair test);
* a restored cold archive against the expired partitions, bit for bit;
* analysis results for sampled conversations against ``transcriptts.kernels``
  run in this process, and ``gapfill`` against ``gapfill_pandas``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATS = ("sum", "mean", "min", "max", "p50", "p99")
TIER_KEYS = ("conv_id", "bucket_us", "metric")
STEP_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}


def frame_hash(pdf: pd.DataFrame, cols) -> tuple[int, int]:
    """(rows, order-insensitive hash) of ``pdf[cols]``."""
    if pdf.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(pdf[list(cols)].reset_index(drop=True), index=False)
    return len(pdf), int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


def duckdb_tier_sql(input_glob: str, tier: str) -> str:
    """The tier's rows recomputed by DuckDB from raw turns."""
    step = STEP_US[tier]
    return f"""
WITH d AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS t,
         cast(len(regexp_extract_all(coalesce(text, ''), '\\S+')) AS DOUBLE) AS token_count,
         cast(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS DOUBLE) / cast(1000000 AS DOUBLE) AS latency_s
  FROM read_parquet('{input_glob}')
), l AS (
  SELECT conv_id, t, 'token_count' AS metric, token_count AS value FROM d
  UNION ALL
  SELECT conv_id, t, 'latency_s' AS metric, latency_s AS value FROM d WHERE latency_s IS NOT NULL
)
SELECT conv_id, (t // {step}) * {step} AS bucket_us, metric, count(*) AS cnt,
       sum(value) AS sum, sum(value) / count(*) AS mean, min(value) AS min, max(value) AS max,
       quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.99) AS p99
FROM l GROUP BY 1, 2, 3
"""


def rows_match(a: pd.DataFrame, b: pd.DataFrame, rtol: float) -> tuple[bool, str]:
    """Same tier keys on both sides, equal counts, stats within ``rtol``."""
    m = a.merge(b, on=list(TIER_KEYS), how="outer", suffixes=("", "_o"), indicator=True)
    unmatched = int((m["_merge"] != "both").sum())
    m = m[m["_merge"] == "both"]
    bad = int((m["cnt"].astype(np.int64) != m["cnt_o"].astype(np.int64)).sum())
    for c in STATS:
        x, y = m[c].to_numpy(dtype=float), m[c + "_o"].to_numpy(dtype=float)
        bad += int((~np.isclose(x, y, rtol=rtol, atol=0.0, equal_nan=True)).sum())
    ok = unmatched == 0 and bad == 0 and len(m) > 0
    return ok, f"{len(a)} vs {len(b)} rows, {unmatched} unmatched keys, {bad} differing values"


def tier_vs_duckdb(tier_path: str, input_glob: str, tier: str,
                   since: str | None = None) -> tuple[bool, str]:
    """A stored tier, as the engine wrote its parquet files, against DuckDB
    over the input parquet; with ``since`` (a date), only buckets from that
    date on are compared."""
    import duckdb

    con = duckdb.connect()
    try:
        engine = con.sql(
            f"SELECT conv_id, epoch_us(bucket_start) AS bucket_us, metric, cnt, "
            f"{', '.join(STATS)} FROM read_parquet('{tier_path}/*/*.parquet')"
        ).df()
        oracle = con.sql(duckdb_tier_sql(input_glob, tier)).df()
    finally:
        con.close()
    for pdf in (engine, oracle):
        pdf["bucket_us"] = pdf["bucket_us"].astype(np.int64)
    if since is not None:
        since_us = int(pd.Timestamp(since, tz="UTC").value // 1000)
        engine = engine[engine["bucket_us"] >= since_us]
        oracle = oracle[oracle["bucket_us"] >= since_us]
    ok, why = rows_match(engine, oracle, 1e-9)
    return ok, f"{tier}: {why}"


def exact_rows(df: DataFrame) -> pd.DataFrame:
    """Tier rows in the wide schema, floats kept bit for bit."""
    return df.select(
        "conv_id", F.unix_micros(F.col("bucket_start").cast("timestamp")).alias("bucket_us"),
        "metric", F.col("cnt").cast("long").alias("cnt"), *STATS,
    ).toPandas()


def archive_bit_exact(restored: DataFrame, expired: DataFrame) -> tuple[bool, str]:
    a_df, b_df = exact_rows(restored), exact_rows(expired)
    cols = TIER_KEYS + ("cnt",) + STATS
    for pdf in (a_df, b_df):
        for c in STATS:  # compare IEEE bit patterns, NaN included
            pdf[c] = pdf[c].to_numpy(dtype=np.float64).view(np.int64)
    a, b = frame_hash(a_df, cols), frame_hash(b_df, cols)
    return a == b and a[0] > 0, f"restored rows/hash {a} vs expired {b}"


def sample_series(input_file: str, conv_ids: list[str]) -> dict[str, np.ndarray]:
    """Per-turn token_count of sampled conversations, computed in this process."""
    pdf = pq.read_table(input_file, columns=["conv_id", "turn_idx", "text"]).to_pandas()
    pdf = pdf[pdf["conv_id"].isin(conv_ids)].sort_values(["conv_id", "turn_idx"])
    out = {}
    for cid, g in pdf.groupby("conv_id", sort=True):
        out[cid] = np.array([len((t or "").split()) for t in g["text"]], dtype=np.float64)
    return out


def kernel_matches(got: pd.DataFrame, series: dict[str, np.ndarray], kernel, key: str,
                   value: str) -> tuple[bool, str]:
    """Engine rows for sampled conversations against the kernel run in this process."""
    bad = []
    for cid, x in series.items():
        try:
            want = np.asarray(kernel(x), dtype=np.float64)
        except ValueError:  # series too short: the engine yields no rows
            want = np.empty(0)
        g = got[got["conv_id"] == cid].sort_values(key)[value].to_numpy(dtype=np.float64)
        if len(g) != len(want) or not np.allclose(g, want, rtol=1e-12, atol=1e-12):
            bad.append(cid)
    return not bad and bool(series), f"{len(series)} sampled series, mismatched: {bad[:5]}"


def gapfill_matches(fast: pd.DataFrame, golden: pd.DataFrame) -> tuple[bool, str]:
    keys = ["conv_id", "metric", "bucket_start"]
    m = fast.merge(golden, on=keys, how="outer", suffixes=("", "_g"), indicator=True)
    if len(m) == 0 or (m["_merge"] != "both").any():
        return False, f"grid rows differ: {len(fast)} vs {len(golden)}"
    ok = (m["is_gap"] == m["is_gap_g"]).all()
    for c in ("mean_locf", "mean_interp"):
        a, b = m[c].to_numpy(dtype=float), m[c + "_g"].to_numpy(dtype=float)
        ok &= bool(np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True))
    return bool(ok), f"{len(m)} dense rows over {fast['conv_id'].nunique()} sampled series"
