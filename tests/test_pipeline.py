"""Resumable pipeline tests (FIXTURES.md B.7 resume scenario)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from transcriptts.pipeline import RollupPipeline
from transcriptts.synth import synth_transcripts_arrow


@pytest.fixture()
def transcripts(spark):
    tbl = synth_transcripts_arrow(n_convs=25, metronome_turns=200, seed=33)
    return spark.createDataFrame(tbl.to_pandas())


def test_pipeline_full_run_and_resume(spark, transcripts, tmp_path):
    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    report = p.run(transcripts)
    assert set(report["snapshot_ids"]) == {"1m", "1h", "1d"}
    for t in ("1m", "1h", "1d"):
        assert p.read_tier(t).count() > 0
        assert report["metrics"][t]["rows"] > 0 and report["metrics"][t]["bytes"] > 0

    hashes = {t: p.content_hash(t) for t in ("1m", "1h", "1d")}

    # rerun same input → everything skipped, nothing rewritten
    report2 = p.run(transcripts)
    assert sorted(report2["skipped"]) == ["1d", "1h", "1m"]
    assert report2["snapshot_ids"] == {}

    # simulate crash: 1d output + state entry lost between tiers
    shutil.rmtree(os.path.join(root, "tier=1d"))
    st = p.load_state()
    del st["tiers"]["1d"]
    p._commit_state(st)

    report3 = p.run(transcripts)
    assert sorted(report3["skipped"]) == ["1h", "1m"]  # only 1d recomputed
    assert set(report3["snapshot_ids"]) == {"1d"}
    assert {t: p.content_hash(t) for t in ("1m", "1h", "1d")} == hashes  # identical content


def test_pipeline_lineage_records(spark, transcripts, tmp_path):
    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    report = p.run(transcripts, tiers=("1h",))
    sid = report["snapshot_ids"]["1h"]
    with open(os.path.join(root, "lineage", f"{sid}.json")) as f:
        lin = json.load(f)
    assert lin["tier"] == "1h" and lin["rows"] > 0 and lin["bytes"] > 0
    assert len(lin["partitions"]) >= 1
    assert sum(pt["rows"] for pt in lin["partitions"]) == lin["rows"]
    st = p.load_state()
    assert st["tiers"]["1h"]["snapshot_id"] == sid
    assert st["tiers"]["1h"]["watermark"] is not None


def test_pipeline_incremental_append(spark, tmp_path):
    import datetime as dt

    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    base = dt.datetime(2025, 3, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    first = [("c", i, "user", "a b c", None, base + dt.timedelta(minutes=i)) for i in range(10)]
    p.run(mk(first), tiers=("1m",))
    n1 = p.read_tier("1m").count()

    # append 5 more minutes; incremental run recomputes only the tail buckets
    both = first + [("c", 10 + j, "user", "d e", None, base + dt.timedelta(minutes=10 + j)) for j in range(5)]
    rep = p.run(mk(both), tiers=("1m",), incremental=True)
    assert rep["snapshot_ids"].get("1m")
    assert p.read_tier("1m").count() > n1
    # incremental result must equal a full recompute from scratch
    p2 = RollupPipeline(spark, str(tmp_path / "tiers_full"))
    p2.run(mk(both), tiers=("1m",))
    assert p.content_hash("1m") == p2.content_hash("1m")
    assert p.read_tier("1m").count() == p2.read_tier("1m").count()


def test_pipeline_incremental_scans_only_tail(spark, tmp_path):
    """The incremental run must (a) aggregate only post-watermark rows —
    the raw filter is a pushable ts predicate, not a post-aggregation
    restriction — and (b) still produce latencies identical to a full
    recompute across the date cutoff, via the convstate seed rows."""
    import datetime as dt

    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    mk = lambda rows: spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    day1 = dt.datetime(2025, 3, 1, 10, 0)
    day2 = dt.datetime(2025, 3, 2, 9, 0)
    # conversation c crosses the date boundary: last day-1 turn at 10:50,
    # first day-2 turn at 09:00 → its latency (79_800s) only exists if the
    # window saw the day-1 seed row from convstate
    d1 = [("c", i, "user", "a b c", None, day1 + dt.timedelta(minutes=10 * i)) for i in range(6)]
    d2 = [("c", 6 + j, "user", "d e", None, day2 + dt.timedelta(minutes=10 * j)) for j in range(3)]
    p.run(mk(d1 + d2), tiers=("1m", "1h", "1d"))

    tail = [("c", 9 + j, "user", "f g", None, day2 + dt.timedelta(hours=8, minutes=10 * j)) for j in range(2)]
    allrows = d1 + d2 + tail
    rep = p.run(mk(allrows), tiers=("1m", "1h", "1d"), incremental=True)
    for t in ("1m", "1h", "1d"):
        assert rep["metrics"][t]["incremental_from"] is not None
        # only the watermark-date rows were aggregated (day-2: 3 + 2 turns),
        # never the 6 day-1 turns — the raw scan is bounded
        assert rep["metrics"][t]["batch_rows"] == len(d2) + len(tail)

    full = RollupPipeline(spark, str(tmp_path / "full"))
    full.run(mk(allrows), tiers=("1m", "1h", "1d"))
    for t in ("1m", "1h", "1d"):
        assert p.content_hash(t) == full.content_hash(t), t

    # the cross-midnight latency made it into the incrementally-recomputed
    # day-2 1d bucket: 09:00 minus 10:50 the day before = 79_800s
    row = [
        r
        for r in p.read_tier("1d").collect()
        if r["metric"] == "latency_s" and str(r["bucket_start"]).startswith("2025-03-02")
    ]
    assert row and row[0]["cnt"] == len(d2) + len(tail)
    assert row[0]["max"] == 79_800.0


def test_incremental_does_not_leak_overwrite_conf(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option, never a session
    conf: after an incremental run the session mode is unchanged, and a later
    FULL rewrite with a shrunken input fully replaces the tier (no stale
    partitions surviving a would-be dynamic overwrite)."""
    import datetime as dt

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    mk = lambda rows: spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    d1 = dt.datetime(2025, 4, 1)
    d2 = dt.datetime(2025, 4, 2)
    first = [("c", i, "user", "a b", None, d1 + dt.timedelta(minutes=i)) for i in range(5)]
    second = [("c", 5 + j, "user", "c d", None, d2 + dt.timedelta(minutes=j)) for j in range(5)]
    p.run(mk(first + second), tiers=("1d",))
    p.run(mk(first + second + [("c", 10, "user", "e", None, d2 + dt.timedelta(hours=1))]),
          tiers=("1d",), incremental=True)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before

    # full (non-incremental) rewrite with ONLY day-1 rows: day-2 partition
    # must disappear — 'full recompute' means full replacement
    p.run(mk(first), tiers=("1d",))
    dates = {str(r["p_date"]) for r in p.read_tier("1d").select("p_date").distinct().collect()}
    assert dates == {"2025-04-01"}


def test_convstate_pairs_last_turn_by_window_order(spark, tmp_path):
    """Out-of-order timestamps inside a conversation: the convstate seed row
    must be the max-turn_idx row's (turn_idx, ts) pair — the lag() window
    orders by turn_idx — not independent max(ts)/max(turn_idx). Incremental
    result equals full recompute."""
    import datetime as dt

    root = str(tmp_path / "tiers")
    p = RollupPipeline(spark, root)
    mk = lambda rows: spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    day1 = dt.datetime(2025, 5, 1, 10, 0)
    day2 = dt.datetime(2025, 5, 2, 9, 0)
    # turn 2 (the LAST by turn_idx) has an EARLIER ts than turn 1
    d1 = [
        ("c", 0, "user", "a", None, day1),
        ("c", 1, "user", "b", None, day1 + dt.timedelta(minutes=30)),
        ("c", 2, "user", "c", None, day1 + dt.timedelta(minutes=20)),
    ]
    d2 = [("c", 3, "user", "d", None, day2 + dt.timedelta(minutes=10 * j)) for j in range(1)]
    p.run(mk(d1 + d2), tiers=("1d",))
    tail = [("c", 4, "user", "e", None, day2 + dt.timedelta(hours=2))]
    p.run(mk(d1 + d2 + tail), tiers=("1d",), incremental=True)

    full = RollupPipeline(spark, str(tmp_path / "full"))
    full.run(mk(d1 + d2 + tail), tiers=("1d",))
    assert p.content_hash("1d") == full.content_hash("1d")


def test_incremental_scan_pushes_ts_filter(spark, tmp_path):
    """Plan-level: the incremental input's parquet scan carries the pushed
    `ts >=` predicate (PushedFilters), so history is pruned at the scan."""
    import datetime as dt

    src_path = str(tmp_path / "src")
    rows = [("c", i, "user", "a b", None, dt.datetime(2025, 6, 1) + dt.timedelta(hours=i)) for i in range(48)]
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(src_path)
    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    d = p.incremental_metrics(spark.read.parquet(src_path), "2025-06-02")
    plan = d._jdf.queryExecution().toString()
    import re
    assert re.search(r"PushedFilters: \[.*(GreaterThanOrEqual|IsNotNull)\(ts\)", plan), plan
    assert "GreaterThanOrEqual(ts" in plan, plan


def test_compact_partitions_merges_append_mode_small_files(spark, tmp_path):
    """Append-mode writers (raw-turns store, cold archive) accumulate task
    files per p_date; compact_partitions rewrites oversized partitions to
    one file each (atomic swap), preserves every row and the text-fidelity
    fingerprint, and skips already-compact partitions. compact_tier wraps it
    with a lineage record (the tier layout itself writes 1 file/partition,
    so it reports a no-op there)."""
    import os

    from transcriptts.pipeline import RollupPipeline, compact_partitions
    from transcriptts.store import turns_fingerprint, write_raw_turns
    from transcriptts.synth import synth_transcripts_arrow

    store = str(tmp_path / "raw")
    df = spark.createDataFrame(
        synth_transcripts_arrow(n_convs=20, metronome_turns=60, seed=5).to_pandas()
    )
    # two incremental ingests -> >= 2 files per touched p_date
    write_raw_turns(df, store, num_ranges=3, mode="overwrite")
    write_raw_turns(df, store, num_ranges=3, mode="append")

    parts = [d for d in os.listdir(store) if d.startswith("p_date=")]
    n_files = lambda d: len(
        [f for f in os.listdir(os.path.join(store, d)) if f.endswith(".parquet")]
    )
    before = {d: n_files(d) for d in parts}
    assert all(v >= 2 for v in before.values())
    rows_before = spark.read.parquet(store).count()
    fp_before = {
        r["conv_id"]: r["text_fp"]
        for r in turns_fingerprint(spark.read.parquet(store)).collect()
    }

    rep = compact_partitions(spark, store)
    after = {d: n_files(d) for d in parts}
    assert all(v == 1 for v in after.values())
    assert rep["files_before"] == sum(before.values())
    assert rep["files_after"] == len(parts)
    assert sorted(rep["compacted"]) == sorted(d.split("=", 1)[1] for d in parts)
    assert spark.read.parquet(store).count() == rows_before
    fp_after = {
        r["conv_id"]: r["text_fp"]
        for r in turns_fingerprint(spark.read.parquet(store)).collect()
    }
    assert fp_after == fp_before
    # idempotent: second pass is a no-op
    rep2 = compact_partitions(spark, store)
    assert rep2["compacted"] == [] and rep2["files_after"] == len(parts)

    # tier layout: pipeline writes are already 1 file per partition -> no-op,
    # no lineage record
    root = str(tmp_path / "tiers")
    pipe = RollupPipeline(spark, root)
    run = pipe.run(df, tiers=("1h",))
    rep3 = pipe.compact_tier("1h")
    assert rep3["compacted"] == [] and "snapshot_id" not in rep3
    assert not [
        f for f in os.listdir(os.path.join(root, "lineage")) if f.startswith("compact-")
    ]

    # a multi-file tier layout is compacted with a lineage record in the
    # shared format, as is the run's
    tier_dir = os.path.join(root, "tier=1h")
    n_rows = pipe.read_tier("1h").count()
    pipe.read_tier("1h").write.option("maxRecordsPerFile", 50).partitionBy("p_date") \
        .parquet(str(tmp_path / "split"))
    shutil.rmtree(tier_dir)
    os.rename(str(tmp_path / "split"), tier_dir)
    rep4 = pipe.compact_tier("1h")
    assert rep4["compacted"] and pipe.read_tier("1h").count() == n_rows
    for op, sid in (("rollup", run["snapshot_ids"]["1h"]), ("compact", rep4["snapshot_id"])):
        with open(os.path.join(root, "lineage", f"{sid}.json")) as f:
            lin = json.load(f)
        assert (lin["version"], lin["snapshot_id"], lin["op"], lin["tier"]) == (2, sid, op, "1h")


def test_compact_partitions_crash_recovery(spark, tmp_path):
    """Every crash state of the two-rename swap heals on the next run with
    bit-identical rows: (1) stale .compact-* temp dir, (2) partition
    stranded at '<part>.old' with no live dir (crash between the renames),
    (3) both live (new) and .old (crash before cleanup)."""
    import os
    import shutil

    from transcriptts.pipeline import compact_partitions
    from transcriptts.store import turns_fingerprint, write_raw_turns
    from transcriptts.synth import synth_transcripts_arrow

    store = str(tmp_path / "raw")
    df = spark.createDataFrame(
        synth_transcripts_arrow(n_convs=12, metronome_turns=200, seed=9).to_pandas()
    )
    write_raw_turns(df, store, num_ranges=2, mode="overwrite")
    write_raw_turns(df, store, num_ranges=2, mode="append")
    parts = sorted(d for d in os.listdir(store) if d.startswith("p_date="))
    assert len(parts) >= 2
    rows_before = spark.read.parquet(store).count()
    fp_before = {
        r["conv_id"]: r["text_fp"]
        for r in turns_fingerprint(spark.read.parquet(store)).collect()
    }

    # state 1: a stale temp dir from a run that died mid-write
    stale_tmp = os.path.join(store, f".compact-{parts[0]}-deadbeef")
    os.makedirs(stale_tmp)
    with open(os.path.join(stale_tmp, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write")
    # state 2: crash BETWEEN the renames — partition only exists as .old
    p2 = os.path.join(store, parts[0])
    os.rename(p2, p2 + ".old")
    # state 3: crash AFTER the swap, before cleanup — live dir is the new
    # output, .old still holds the duplicate pre-compaction files
    p3 = os.path.join(store, parts[1])
    shutil.copytree(p3, p3 + ".old")

    rep = compact_partitions(spark, store)
    # all leftovers healed, every oversized partition compacted to one file
    assert not [d for d in os.listdir(store) if d.endswith(".old") or d.startswith(".compact-")]
    for d in parts:
        pq = [f for f in os.listdir(os.path.join(store, d)) if f.endswith(".parquet")]
        assert len(pq) == 1, (d, pq)
    assert spark.read.parquet(store).count() == rows_before
    fp_after = {
        r["conv_id"]: r["text_fp"]
        for r in turns_fingerprint(spark.read.parquet(store)).collect()
    }
    assert fp_after == fp_before
    assert sorted(rep["compacted"]) == sorted(d.split("=", 1)[1] for d in parts)


def _mk_turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def _assert_lineage_matches_read_back(p, report):
    """Every tier the run wrote: lineage and state figures equal what reading
    the tier back gives (rows and max bucket_start per p_date, parquet file
    sizes per partition directory)."""
    from pyspark.sql import functions as F

    state = p.load_state()["tiers"]
    assert report["snapshot_ids"]
    for tier, sid in report["snapshot_ids"].items():
        with open(os.path.join(p.root, "lineage", f"{sid}.json")) as f:
            lin = json.load(f)
        stats = (
            p.read_tier(tier).groupBy("p_date")
            .agg(F.count("*").alias("rows"), F.max("bucket_start").alias("mx"))
            .orderBy("p_date").collect()
        )
        sizes: dict[str, int] = {}
        for dp, _, fns in os.walk(os.path.join(p.root, f"tier={tier}")):
            for fn in fns:
                if fn.endswith(".parquet"):
                    key = os.path.basename(dp).split("=", 1)[1]
                    sizes[key] = sizes.get(key, 0) + os.path.getsize(os.path.join(dp, fn))
        expected = [
            {"p_date": str(r["p_date"]), "rows": r["rows"], "bytes": sizes[str(r["p_date"])]}
            for r in stats
        ]
        assert lin["version"] == 2, tier
        assert lin["partitions"] == expected, tier
        assert lin["rows"] == sum(r["rows"] for r in stats) == state[tier]["rows"], tier
        assert lin["bytes"] == sum(sizes.values()) == state[tier]["bytes"], tier
        assert state[tier]["watermark"] == str(max(r["mx"] for r in stats)), tier
        assert state[tier]["snapshot_id"] == sid


def test_lineage_matches_tier_read_back(spark, transcripts, tmp_path):
    """Lineage and state come from the write's Observation and the parquet
    footers, never from reading a tier back; they must still equal the
    read-back figures after a full run, an incremental run and a mixed run
    (one tier recomputed fully, the others incremental)."""
    from pyspark.sql import functions as F

    def shifted(days):
        return transcripts.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS")) \
            .withColumn("conv_id", F.concat("conv_id", F.lit(f"-{days}")))

    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    _assert_lineage_matches_read_back(p, p.run(transcripts))

    two = transcripts.unionByName(shifted(1))
    rep = p.run(two, incremental=True)
    assert all(rep["metrics"][t]["incremental_from"] for t in ("1m", "1h", "1d"))
    _assert_lineage_matches_read_back(p, rep)

    st = p.load_state()
    del st["tiers"]["1h"]
    p._commit_state(st)
    rep = p.run(two.unionByName(shifted(2)), incremental=True)
    assert rep["metrics"]["1h"]["incremental_from"] is None
    assert rep["metrics"]["1m"]["incremental_from"] and rep["metrics"]["1d"]["incremental_from"]
    _assert_lineage_matches_read_back(p, rep)


def _three_days():
    """Whole-minute turns over three days; conversation a crosses both
    midnights and b crosses the second, so seed rows carry latencies."""
    import datetime as dt

    d1, d2, d3 = (dt.datetime(2025, 7, day) for day in (1, 2, 3))
    m = lambda base, minutes: base + dt.timedelta(minutes=minutes)
    a = [m(d1, 22 * 60 + 7 * i) for i in range(20)] + [m(d2, 3 + 11 * i) for i in range(5)]
    a += [m(d2, 23 * 60 + 5 * i) for i in range(6)] + [m(d3, 4 + 9 * i) for i in range(4)]
    b = [m(d2, 600 + 13 * i) for i in range(8)] + [m(d2, 23 * 60 + 40)] + [m(d3, 30 + i) for i in range(3)]
    c = [m(d3, 300 + 2 * i) for i in range(7)]
    rows = [
        (conv, i, "user", " ".join(["w"] * (1 + i % 4)), None, ts)
        for conv, stamps in (("a", a), ("b", b), ("c", c))
        for i, ts in enumerate(stamps)
    ]
    return [[r for r in rows if r[5] < end] for end in (d2, d3, dt.datetime(2025, 7, 4))]


def test_mixed_watermarks_equal_full_recompute(spark, tmp_path, count_jobs):
    """Two histories before one incremental 3-tier run: 1d committed a day
    behind 1m/1h (the run cuts one frame at 1d's watermark date), and only
    1m committed (1h and 1d are new beside it, so the run derives one full
    frame). Each incremental tier filters the frame at its own watermark,
    every tier equals a full recompute, and with a fingerprint the run
    issues at most MIXED_RUN_JOB_BUDGET jobs."""
    upto1, upto2, upto3 = _three_days()
    full = RollupPipeline(spark, str(tmp_path / "full"))
    full.run(_mk_turns(spark, upto3))

    def one_day_behind(p):
        p.run(_mk_turns(spark, upto1))
        p.run(_mk_turns(spark, upto2), tiers=("1m", "1h"), incremental=True)
        return {"1m": "2025-07-02", "1h": "2025-07-02", "1d": "2025-07-01"}

    def only_1m(p):
        p.run(_mk_turns(spark, upto2), tiers=("1m",))
        return {"1m": "2025-07-02"}

    for history in (one_day_behind, only_1m):
        p = RollupPipeline(spark, str(tmp_path / history.__name__))
        expected = history(p)
        marks = {t: e["watermark"][:10] for t, e in p.load_state()["tiers"].items()}
        assert marks == expected, history.__name__

        df = _mk_turns(spark, upto3)
        jobs, rep = count_jobs(f"mixed-{history.__name__}", lambda: p.run(
            df, incremental=True, input_fingerprint="upto3"))
        assert jobs <= MIXED_RUN_JOB_BUDGET, (history.__name__, jobs)
        assert {t for t in ("1m", "1h", "1d")
                if rep["metrics"][t]["incremental_from"]} == set(expected), history.__name__
        _assert_lineage_matches_read_back(p, rep)
        for t in ("1m", "1h", "1d"):
            assert p.content_hash(t) == full.content_hash(t), (history.__name__, t)


def test_ntz_input_reads_back_with_rollup_schema(spark, tmp_path):
    """Tiers written from a timestamp_ntz input (full, then incremental with
    seed rows) read back with ROLLUP_SCHEMA's types and the wall-clock values
    of the same input as timestamps."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from transcriptts.schema import ROLLUP_SCHEMA

    upto1, upto2, _ = _three_days()
    ntz = lambda rows: _mk_turns(spark, rows).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    p = RollupPipeline(spark, str(tmp_path / "ntz"))
    p.run(ntz(upto1))
    assert p.run(ntz(upto2), incremental=True)["metrics"]["1m"]["incremental_from"]
    ref = RollupPipeline(spark, str(tmp_path / "ltz"))
    ref.run(_mk_turns(spark, upto2))
    for t in ("1m", "1h", "1d"):
        got = [(f.name, f.dataType) for f in p.read_tier(t).schema.fields]
        assert got == [*((f.name, f.dataType) for f in ROLLUP_SCHEMA.fields),
                       ("p_date", T.DateType())], t
        assert p.content_hash(t) == ref.content_hash(t), t


# Jobs of one incremental 3-tier run without a fingerprint (local[4], AQE):
#   2  fingerprint scan (aggregate's shuffle-map job + result job)
#   2  shared batch: lag() window shuffle-map job, then the job that fills
#      its cache
#   6  per tier: repartition(p_date) shuffle-map job + write job (the rollup
#      groupBy reuses the cached batch's conv_id partitioning)
#   2  convstate update: the same two jobs
# Tiers and convstate are read with declared schemas (no schema-inference
# job). Reading a written tier back or rescanning raw per tier pushes it over.
PIPELINE_JOB_BUDGET = 12

# A run given its fingerprint skips the scan: 2 for the one derived frame,
# 2 per tier and 2 for convstate, whether the frame is cut or full (a new
# tier beside incremental ones).
MIXED_RUN_JOB_BUDGET = 10


def test_incremental_run_job_budget(spark, tmp_path, count_jobs):
    """An incremental 3-tier run issues at most PIPELINE_JOB_BUDGET Spark
    jobs: bookkeeping rides on the writes, no tier is read back."""
    upto1, upto2, _ = _three_days()
    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    p.run(_mk_turns(spark, upto1))
    df = _mk_turns(spark, upto2)
    jobs, _ = count_jobs("pipeline-job-budget", lambda: p.run(df, incremental=True))
    assert jobs <= PIPELINE_JOB_BUDGET, jobs


# Jobs of compact_partitions, per partition it rewrites (local[4], AQE):
#   1  schema inference of the partition's files (spark.read.parquet)
#   1  the coalesced write into the temp dir
# The row-count check reads parquet footers; a Spark count of the source or
# a read-back of the temp dir pushes it over.
COMPACTION_JOBS_PER_PARTITION = 2


def test_compaction_job_budget(spark, tmp_path, count_jobs):
    """compact_partitions over a store written twice issues at most
    COMPACTION_JOBS_PER_PARTITION Spark jobs per partition it rewrites."""
    from transcriptts.pipeline import compact_partitions
    from transcriptts.store import write_raw_turns
    from transcriptts.synth import synth_transcripts_arrow

    store = str(tmp_path / "raw")
    df = spark.createDataFrame(
        synth_transcripts_arrow(n_convs=12, metronome_turns=200, seed=9).to_pandas()
    )
    write_raw_turns(df, store, num_ranges=2, mode="overwrite")
    write_raw_turns(df, store, num_ranges=2, mode="append")
    jobs, rep = count_jobs("compaction-job-budget", lambda: compact_partitions(spark, store))
    assert len(rep["compacted"]) >= 2
    assert jobs <= COMPACTION_JOBS_PER_PARTITION * len(rep["compacted"]), (jobs, rep)
