"""Golden tests for the rollup core — expectations ported from the reference's
resampling unit tests (SignalSharp.Tests/Resampling/ResamplingTests.cs) plus
salted-path equivalence checks at every tier."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from transcriptts.rollup import (
    downsample,
    rollup,
    rollup_salted,
    rollup_tiers,
    segment_agg,
    with_derived_metrics,
)
from transcriptts.synth import synth_transcripts_arrow


def seg_col(df, col):
    return [r[col] for r in df.orderBy("seg").collect()]


# --- B.1 positional segment goldens (ResamplingTests.cs) -------------------


def test_downsample_every_kth(make_signal):
    # ResamplingTests.cs:22-30 — [1..6], factor 2 → [1,3,5]
    out = downsample(make_signal([1, 2, 3, 4, 5, 6]), 2, "value")
    assert [r["value"] for r in out.orderBy("pos").collect()] == [1.0, 3.0, 5.0]


def test_segment_stats_factor2(make_signal):
    df = segment_agg(make_signal([1, 2, 3, 4, 5, 6]), 2, "value")
    assert seg_col(df, "seg_mean") == [1.5, 3.5, 5.5]  # :160-168
    assert seg_col(df, "seg_median") == [1.5, 3.5, 5.5]  # :59-67
    assert seg_col(df, "seg_max") == [2.0, 4.0, 6.0]  # :184-192
    assert seg_col(df, "seg_min") == [1.0, 3.0, 5.0]  # :208-216
    assert seg_col(df, "seg_cnt") == [2, 2, 2]


def test_segment_median_partial_tail(make_signal):
    # ResamplingTests.cs:81-89 — [1,3,2,5,4,6,7] f=3 → [2,5,7] (partial tail)
    df = segment_agg(make_signal([1, 3, 2, 5, 4, 6, 7]), 3, "value")
    assert seg_col(df, "seg_median") == [2.0, 5.0, 7.0]


def test_segment_median_short_inputs(make_signal):
    # :103-111 single element; :125-133 factor > length
    assert seg_col(segment_agg(make_signal([1]), 2, "value"), "seg_median") == [1.0]
    assert seg_col(segment_agg(make_signal([1, 2, 3]), 5, "value"), "seg_median") == [2.0]


def test_downsample_rejects_bad_factor(make_signal):
    with pytest.raises(ValueError):
        downsample(make_signal([1.0]), 0, "value")


# --- time-bucket rollup ------------------------------------------------------


def test_metronome_buckets_equal_positional_segments(spark):
    """1 turn/second starting on a minute boundary → 1m buckets == factor-60
    positional segments (the bridge between reference semantics and time)."""
    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    vals = [float((i * 7) % 23) for i in range(180)]
    rows = [
        ("m", i, "user", " ".join(["w"] * max(1, int(v))), None, base + dt.timedelta(seconds=i))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    r = (
        rollup(with_derived_metrics(df), "1m")
        .where("metric='token_count'")
        .orderBy("bucket_start")
        .collect()
    )
    tok = [max(1, int(v)) for v in vals]
    for i, row in enumerate(r):
        seg = tok[i * 60 : (i + 1) * 60]
        assert row["cnt"] == 60
        assert row["mean"] == pytest.approx(sum(seg) / 60)
        assert row["min"] == min(seg) and row["max"] == max(seg)
        s = sorted(seg)
        assert row["p50"] == pytest.approx((s[29] + s[30]) / 2)  # even n → middle mean


def test_latency_metric(spark):
    base = dt.datetime(2025, 1, 1)
    rows = [
        ("c", 0, "user", "a", None, base),
        ("c", 1, "assistant", "b", None, base + dt.timedelta(seconds=10)),
        ("c", 2, "user", "c", None, base + dt.timedelta(seconds=40)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    d = with_derived_metrics(df).orderBy("turn_idx").collect()
    assert [r["latency_s"] for r in d] == [None, 10.0, 30.0]
    r = rollup(with_derived_metrics(df), "1m").where("metric='latency_s'").collect()
    assert len(r) == 1 and r[0]["cnt"] == 2 and r[0]["mean"] == 20.0


def _check_salted_matches_plain(spark, tier):
    """rollup_salted == rollup at `tier`, exact p50/p99 included. The input
    adds one hot bucket, ~2,000 turns of one conversation inside a single
    minute, so every salt carries a partial of that bucket; the coarse tiers
    also merge salts spread over many minutes."""
    import pandas as pd

    tbl = synth_transcripts_arrow(n_convs=30, metronome_turns=90, seed=7).to_pandas()
    n_hot = 2000
    hot = pd.DataFrame({
        "conv_id": "conv-hot",
        "turn_idx": range(n_hot),
        "role": "user",
        "text": [" ".join(["w"] * (1 + i % 17)) for i in range(n_hot)],
        "tool": None,
        "ts": [pd.Timestamp("2025-01-01 03:07:00") + pd.Timedelta(microseconds=29_000 * i)
               for i in range(n_hot)],
    })
    d = with_derived_metrics(spark.createDataFrame(pd.concat([tbl, hot], ignore_index=True)))
    hot_salts = (
        d.where(F.col("conv_id") == "conv-hot")
        .select(F.pmod(F.hash("ts"), F.lit(4)).alias("salt"))
        .distinct()
        .count()
    )
    assert hot_salts == 4
    plain = {
        (r["conv_id"], r["bucket_start"], r["metric"]): r for r in rollup(d, tier).collect()
    }
    salted = rollup_salted(d, tier, salt_buckets=4).collect()
    assert len(salted) == len(plain)
    assert any(r["conv_id"] == "conv-hot" and r["cnt"] == n_hot for r in salted)
    for r in salted:
        p = plain[(r["conv_id"], r["bucket_start"], r["metric"])]
        assert r["cnt"] == p["cnt"], (r, p)
        for c in ("sum", "mean", "min", "max", "p50", "p99"):
            assert r[c] == pytest.approx(p[c], abs=1e-9), (c, r, p)


def test_salted_rollup_matches_plain(spark):
    _check_salted_matches_plain(spark, "1m")


@pytest.mark.parametrize("tier", ["1h", "1d"])
def test_salted_rollup_matches_plain_coarse(spark, tier):
    _check_salted_matches_plain(spark, tier)


def test_with_session_id_gap_splitting(spark):
    from transcriptts.rollup import with_session_id

    base = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = []
    # conv a: turns at 0s, 60s, [45m gap], 45m+60s, 45m+120s, [2h gap], ...
    offsets = [0, 60, 45 * 60 + 60, 45 * 60 + 120, 45 * 60 + 120 + 7200]
    for i, off in enumerate(offsets):
        rows.append(("a", i, "user", "t", None, base + dt.timedelta(seconds=off)))
    # conv b: single turn
    rows.append(("b", 0, "user", "t", None, base))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in with_session_id(df, "30 minutes").collect()}
    assert out[("a", 0)] == 0 and out[("a", 1)] == 0
    assert out[("a", 2)] == 1 and out[("a", 3)] == 1
    assert out[("a", 4)] == 2
    assert out[("b", 0)] == 0
    # exact-boundary gap (== 30m) does NOT split (strict >)
    df2 = spark.createDataFrame(
        [("c", 0, "u", "t", None, base), ("c", 1, "u", "t", None, base + dt.timedelta(minutes=30))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out2 = {r["turn_idx"]: r["session_id"] for r in with_session_id(df2).collect()}
    assert out2 == {0: 0, 1: 0}
    from transcriptts.rollup import _parse_gap_us

    assert _parse_gap_us("2 hours") == 7_200_000_000
    with pytest.raises(ValueError):
        _parse_gap_us("3 fortnights")


def test_with_session_id_random_gaps_vs_naive(spark):
    """Seeded random inter-turn gaps — window-pass session ids must equal a
    naive sequential fold over the ordered timestamps."""
    import random

    from transcriptts.rollup import with_session_id

    rng = random.Random(31)
    base = dt.datetime(2025, 3, 1)
    rows, naive = [], {}
    for conv in ("x", "y", "z"):
        t = base
        sid = 0
        prev = None
        for i in range(40):
            gap_s = rng.choice([5, 60, 1700, 1800, 1801, 7200])
            t = t + dt.timedelta(seconds=gap_s)
            if prev is not None and (t - prev).total_seconds() > 1800:
                sid += 1
            naive[(conv, i)] = sid
            rows.append((conv, i, "u", "t", None, t))
            prev = t
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in with_session_id(df, "30 minutes").collect()}
    assert got == naive
