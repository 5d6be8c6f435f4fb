"""Structured Streaming rollup tests (hermetic file-source streams)."""

from __future__ import annotations

import datetime as dt

import pytest

from transcriptts.streaming import (
    read_transcript_stream,
    run_stream_to_memory,
    stream_rollup_foreach_batch,
    streaming_rollup_1m,
)

BASE = dt.datetime(2025, 1, 1)


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(path)


def test_streaming_rollup_appends_closed_windows(spark, tmp_path):
    inp = str(tmp_path / "in")
    rows = [
        ("c", i, "user", "a b c", None, BASE + dt.timedelta(seconds=20 * i)) for i in range(9)
    ]
    # a late straggler 30 min later forces the watermark past the first windows
    rows.append(("c", 9, "user", "x", None, BASE + dt.timedelta(minutes=30)))
    _write_batch(spark, inp, rows)

    agg = streaming_rollup_1m(read_transcript_stream(spark, inp), watermark="5 minutes")
    run_stream_to_memory(agg, "s1", str(tmp_path / "ck"))
    out = {r["bucket_start"]: r for r in spark.sql("select * from s1").collect()}
    # windows 0-2 closed (watermark = 30min - 5min); each has 3 turns of 3 tokens
    assert len(out) == 3
    for b, r in out.items():
        assert r["cnt"] == 3 and r["mean"] == 3.0


def test_streaming_resumes_from_checkpoint(spark, tmp_path):
    # file sink + checkpoint: a restarted query resumes from the offsets log
    # and appends only newly closed windows (memory sink cannot recover)
    inp, ck, outp = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
        agg = streaming_rollup_1m(read_transcript_stream(spark, inp), watermark="0 seconds")
        q = (
            agg.writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch(spark, inp, [("c", 0, "user", "a b", None, BASE)])
    run_once()
    n1 = spark.read.parquet(outp).count()  # window 0 still open → nothing emitted
    _write_batch(spark, inp, [("c", 1, "user", "a b c", None, BASE + dt.timedelta(minutes=5))])
    run_once()
    rows = spark.read.parquet(outp).collect()
    assert n1 == 0
    assert len(rows) == 1 and rows[0]["cnt"] == 1  # only the newly closed window


def test_streaming_cusum_state_across_restarts(spark, tmp_path):
    """applyInPandasWithState CUSUM == batch kernel on the concatenated
    stream: the alarm at i=3 accumulates 2 samples in batch 1 and fires on
    batch 2's first sample (state straddles the boundary AND a query
    restart, restored from the checkpoint's state store); keyed state stays
    per-conversation (conv 'd' never alarms)."""
    from transcriptts.kernels.cusum import cusum
    from transcriptts.streaming import streaming_cusum

    inp, ck, outp = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    vals1 = [0.0, 1.2, 1.2]
    vals2 = [1.2, -9.0, 0.0]
    expected = cusum(vals1 + vals2, threshold_factor=3.0)
    assert expected == [3, 4]  # fixture sanity: one straddling + one immediate alarm

    def write(vals, start):
        spark.createDataFrame(
            [("c", start + i, float(v)) for i, v in enumerate(vals)]
            + [("d", start + i, 0.1) for i in range(len(vals))],
            "conv_id string, turn_idx long, value double",
        ).coalesce(1).write.mode("append").parquet(inp)

    def run_once():
        stream = spark.readStream.schema("conv_id string, turn_idx long, value double").parquet(inp)
        q = (
            streaming_cusum(stream, "value", threshold_factor=3.0)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write(vals1, 0)
    run_once()
    write(vals2, 3)
    run_once()
    rows = spark.read.parquet(outp).collect()
    assert all(r["kind"] == "alarm" for r in rows)
    got = sorted((r["conv_id"], r["alarm_idx"], r["turn_idx"]) for r in rows)
    assert got == [("c", i, i) for i in expected]


def test_streaming_cusum_cross_batch_reorder_parity(spark, tmp_path):
    """A turn arriving one micro-batch AHEAD of an earlier in-flight turn is
    buffered in state and consumed once the gap fills — batch-kernel parity
    holds under cross-batch disorder (round-3 silently reordered the signal
    here). A truly late row (behind the consumed position) surfaces as a
    late_dropped diagnostic instead of vanishing."""
    from transcriptts.kernels.cusum import cusum
    from transcriptts.streaming import streaming_cusum

    inp, ck, outp = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    vals = [0.0, 1.2, 1.2, 1.2, -9.0, 0.0]
    expected = cusum(vals, threshold_factor=3.0)
    assert expected == [3, 4]

    def write(items):
        spark.createDataFrame(
            [("c", t, float(vals[t])) for t in items],
            "conv_id string, turn_idx long, value double",
        ).coalesce(1).write.mode("append").parquet(inp)

    def run_once():
        stream = spark.readStream.schema(
            "conv_id string, turn_idx long, value double"
        ).parquet(inp)
        q = (
            streaming_cusum(stream, "value", threshold_factor=3.0)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write([0, 1, 3, 4])  # turns 3,4 arrive while 2 is still in flight
    run_once()
    write([2, 5])  # the gap fills one batch later
    run_once()
    rows = spark.read.parquet(outp).collect()
    alarms = sorted(
        (r["alarm_idx"], r["turn_idx"]) for r in rows if r["kind"] == "alarm"
    )
    assert alarms == [(i, i) for i in expected]
    assert not [r for r in rows if r["kind"] != "alarm"]

    # a duplicate of an already-consumed turn is late -> visible diagnostic
    write([1])
    run_once()
    late = [r for r in spark.read.parquet(outp).collect() if r["kind"] == "late_dropped"]
    assert [(r["alarm_idx"], r["turn_idx"]) for r in late] == [(None, 1)]


def test_streaming_cusum_gap_overflow_fast_forwards(spark, tmp_path):
    """When the reorder buffer exceeds max_pending the open gap is abandoned
    visibly: a gap_skipped row records how many positions were lost and the
    detector fast-forwards to the earliest buffered turn."""
    from transcriptts.streaming import streaming_cusum

    inp, ck, outp = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    # turn 0 never arrives; turns 1..4 pile past max_pending=2
    spark.createDataFrame(
        [("c", t, 1.2) for t in (1, 2, 3, 4)],
        "conv_id string, turn_idx long, value double",
    ).coalesce(1).write.mode("append").parquet(inp)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx long, value double"
    ).parquet(inp)
    q = (
        streaming_cusum(stream, "value", threshold_factor=3.0, max_pending=2)
        .writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(outp).collect()
    skips = [r for r in rows if r["kind"] == "gap_skipped"]
    assert [(r["alarm_idx"], r["turn_idx"]) for r in skips] == [(1, 1)]  # position 0 lost
    # after the fast-forward, turns 1..4 were consumed in order (1 primes)
    assert all(r["kind"] in ("gap_skipped", "alarm") for r in rows)


def test_foreach_batch_bridge_equals_full_recompute_and_replays(spark, tmp_path):
    """Two micro-batches (ids 0 and 1) on one checkpoint: conversation a
    crosses midnight in batch 0 and its 00:00 bucket is split across the
    batches; b's turns before midnight are in batch 0, those after in batch 1
    (the seam latency needs a seed row). All three tiers equal a full
    RollupPipeline run over the same turns, and replaying batch 1 changes
    neither raw/ nor the tiers."""
    import os

    from transcriptts.pipeline import RollupPipeline

    inp, outp, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    day2 = BASE + dt.timedelta(days=1)
    t = lambda base, sec: base + dt.timedelta(seconds=sec)
    a = [t(day2, s) for s in (-120, -80, -30, 5, 35, 70, 180)]
    b = [t(day2, s) for s in (-7200, -7180, 3600, 3630)]
    c = [t(day2, s) for s in (7200, 7260)]
    rows = [
        (conv, i, "user", " ".join(["w"] * (1 + i % 3)), None, ts)
        for conv, stamps in (("a", a), ("b", b), ("c", c))
        for i, ts in enumerate(stamps)
    ]
    first = [r for r in rows if (r[0] == "a" and r[1] < 4) or (r[0] == "b" and r[1] < 2)]
    second = [r for r in rows if r not in first]

    _write_batch(spark, inp, first)
    stream_rollup_foreach_batch(spark, inp, outp, ck)
    _write_batch(spark, inp, second)
    stream_rollup_foreach_batch(spark, inp, outp, ck)
    assert sorted(os.listdir(f"{outp}/raw")) == ["batch_id=0", "batch_id=1"]

    full = RollupPipeline(spark, str(tmp_path / "full"))
    full.run(spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, "
                                         "text string, tool string, ts timestamp"))
    p = RollupPipeline(spark, f"{outp}/tiers")
    hashes = {tier: p.content_hash(tier) for tier in ("1m", "1h", "1d")}
    assert hashes == {tier: full.content_hash(tier) for tier in ("1m", "1h", "1d")}
    assert {e["fingerprint"] for e in p.load_state()["tiers"].values()} == {"stream-1"}

    # replay batch 1: drop its commit (and the checksum beside it) and restart
    n_raw = spark.read.parquet(f"{outp}/raw").count()
    n_lineage = len(os.listdir(f"{outp}/tiers/lineage"))
    os.remove(f"{ck}/commits/1")
    os.remove(f"{ck}/commits/.1.crc")
    stream_rollup_foreach_batch(spark, inp, outp, ck)
    assert os.path.exists(f"{ck}/commits/1")
    assert spark.read.parquet(f"{outp}/raw").count() == n_raw == len(rows)
    assert len(os.listdir(f"{outp}/tiers/lineage")) == n_lineage
    assert {tier: p.content_hash(tier) for tier in ("1m", "1h", "1d")} == hashes


def test_streaming_sessions_gap_split_and_boundary(spark, tmp_path):
    """session_window splits conversations at inactivity gaps; sessions
    finalize once the watermark passes. Also pins the exact-gap boundary
    behavior so batch (with_session_id, strict '>') and streaming semantics
    are documented against each other."""
    from transcriptts.streaming import streaming_sessions

    inp = str(tmp_path / "in")
    rows = [
        # conv a: 3 turns a minute apart, then a 45m gap, then 2 turns
        ("a", 0, "user", "t1 t2", None, BASE),
        ("a", 1, "user", "t", None, BASE + dt.timedelta(minutes=1)),
        ("a", 2, "user", "t", None, BASE + dt.timedelta(minutes=2)),
        ("a", 3, "user", "t", None, BASE + dt.timedelta(minutes=47)),
        ("a", 4, "user", "t t t", None, BASE + dt.timedelta(minutes=48)),
        # conv b: exactly-30m gap (the boundary case)
        ("b", 0, "user", "t", None, BASE),
        ("b", 1, "user", "t", None, BASE + dt.timedelta(minutes=30)),
        # watermark pusher far in the future so everything above finalizes
        ("z", 0, "user", "t", None, BASE + dt.timedelta(hours=6)),
    ]
    _write_batch(spark, inp, rows)

    agg = streaming_sessions(
        read_transcript_stream(spark, inp), gap="30 minutes", watermark="1 minute"
    )
    run_stream_to_memory(agg, "sess1", str(tmp_path / "ck_sess"))
    out = spark.sql("select * from sess1").collect()
    a = sorted([r for r in out if r["conv_id"] == "a"], key=lambda r: r["session_start"])
    assert len(a) == 2
    assert a[0]["n_turns"] == 3 and a[0]["token_sum"] == 4.0
    assert a[0]["session_start"] == BASE
    assert a[1]["n_turns"] == 2 and a[1]["token_sum"] == 4.0
    assert a[1]["session_start"] == BASE + dt.timedelta(minutes=47)
    b = [r for r in out if r["conv_id"] == "b"]
    # exact-gap boundary: session_window extends on touch (end is exclusive
    # at prev_ts + gap, and an event AT that instant merges) — same grouping
    # as the batch path's strict '>' split
    assert len(b) == 1 and b[0]["n_turns"] == 2
