"""Retention expiry + cold-archive roundtrip (north-star retention tiers)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from transcriptts.pipeline import RollupPipeline
from transcriptts.retention import (
    STAT_COLS,
    apply_retention,
    melt_stats,
    restore_archive,
    unmelt_stats,
)
from transcriptts.synth import synth_transcripts_arrow


@pytest.fixture()
def pipeline(spark, tmp_path):
    tbl = synth_transcripts_arrow(n_convs=25, metronome_turns=200, seed=33)
    transcripts = spark.createDataFrame(tbl.to_pandas()).withColumn(
        # spread conversations across ~5 distinct days so expiry has
        # several p_date partitions to select among (deterministic shift)
        "ts",
        F.timestamp_add("DAY", F.pmod(F.xxhash64("conv_id"), F.lit(5)).cast("int"), F.col("ts")),
    )
    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    p.run(transcripts)
    return p


def _tier_rows(pipeline, tier):
    rows = pipeline.read_tier(tier).collect()
    return {
        (r["conv_id"], r["metric"], r["bucket_start"], r["cnt"], r["sum"], r["mean"],
         r["min"], r["max"], r["p50"], r["p99"])
        for r in rows
    }


def _p_dates(pipeline, tier):
    root = os.path.join(pipeline.root, f"tier={tier}")
    return sorted(d.split("=", 1)[1] for d in os.listdir(root) if d.startswith("p_date="))


def test_expiry_drops_old_partitions_and_archives_bit_exact(spark, pipeline, tmp_path):
    dates = _p_dates(pipeline, "1h")
    assert len(dates) >= 3, "fixture must span several days"
    # keep only the last day: cutoff lands before the final partition
    now = dt.date.fromisoformat(dates[-1]) + dt.timedelta(days=1)
    keep_days = 1
    expected_expired = [d for d in dates if dt.date.fromisoformat(d) < now - dt.timedelta(days=1)]

    before = _tier_rows(pipeline, "1h")
    expired_rows = {
        t for t in before
        if str(t[2].date()) in expected_expired
    }
    n_expiring = pipeline.read_tier("1h").where(
        F.col("p_date").cast("string").isin(expected_expired)
    ).count()
    archive_root = str(tmp_path / "cold")

    report = apply_retention(
        pipeline, {"1h": keep_days, "1m": None}, now=now, archive_root=archive_root
    )

    # directories for expired dates are gone; kept dates intact
    assert report["expired"]["1h"] == expected_expired
    assert _p_dates(pipeline, "1h") == [d for d in dates if d not in expected_expired]
    # 1m had keep=None → untouched
    assert "1m" not in report["expired"]

    # lineage record written
    snap = report["snapshot_ids"]["1h"]
    lineage = json.load(open(os.path.join(pipeline.root, "lineage", f"{snap}.json")))
    assert lineage["op"] == "expire"
    assert lineage["partitions_dropped"] == expected_expired
    assert lineage["bytes_freed"] > 0
    assert lineage["archive"]["enc_bytes"] > 0
    # one archive file per expired date, its on-disk bytes next to enc_bytes
    assert lineage["archive"]["files"] == len(expected_expired)
    assert lineage["archive"]["bytes"] > 0
    # the shared record format, and rows_dropped from the dropped footers
    assert lineage["version"] == 2
    assert (lineage["snapshot_id"], lineage["tier"]) == (snap, "1h")
    assert lineage["rows_dropped"] == n_expiring

    # archive restores the dropped rows BIT-EXACTLY (Gorilla is lossless)
    restored = restore_archive(pipeline, archive_root, "1h")
    got = {
        (r["conv_id"], r["metric"], r["bucket_start"], r["cnt"], r["sum"], r["mean"],
         r["min"], r["max"], r["p50"], r["p99"])
        for r in restored.collect()
    }
    assert got == expired_rows

    # surviving tier + restored archive == original tier content
    assert (_tier_rows(pipeline, "1h") | got) == before

    # idempotent: a second sweep expires nothing further
    report2 = apply_retention(pipeline, {"1h": keep_days}, now=now, archive_root=archive_root)
    assert report2["expired"] == {}


def test_expiry_without_archive_only_deletes(spark, pipeline):
    dates = _p_dates(pipeline, "1d")
    now = dt.date.fromisoformat(dates[-1]) + dt.timedelta(days=1)
    report = apply_retention(pipeline, {"1d": 1}, now=now)
    assert report["archived"] == {}
    assert _p_dates(pipeline, "1d") == [dates[-1]]
    state = pipeline.load_state()
    assert state["tiers"]["1d"]["retention_cutoff"] == str(now - dt.timedelta(days=1))


def test_melt_unmelt_roundtrip(spark, pipeline):
    tier = pipeline.read_tier("1d").drop("p_date")
    back = unmelt_stats(melt_stats(tier))
    cols = ["conv_id", "metric", "bucket_start", *STAT_COLS]
    a = {tuple(r[c] for c in cols) for r in tier.select(*cols).collect()}
    b = {tuple(r[c] for c in cols) for r in back.select(*cols).collect()}
    assert a == b


def test_null_stats_roundtrip_as_null(spark, pipeline):
    """NULL stat values (every stat column is nullable, whoever wrote the
    tier) must come back NULL, not NaN: melt drops NULL points and the
    unmelt pivot restores the absence as NULL."""
    tier = pipeline.read_tier("1d").drop("p_date")
    # null out percentiles on a deterministic subset
    tier = tier.withColumn(
        "p50", F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, F.col("p50"))
    ).withColumn(
        "p99", F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, F.col("p99"))
    )
    assert tier.where(F.col("p50").isNull()).count() > 0
    melted = melt_stats(tier)
    assert melted.where(F.col("value").isNull()).count() == 0
    back = unmelt_stats(melted)
    cols = ["conv_id", "metric", "bucket_start", *STAT_COLS]
    a = {tuple(r[c] for c in cols) for r in tier.select(*cols).collect()}
    b = {tuple(r[c] for c in cols) for r in back.select(*cols).collect()}
    assert a == b  # NULLs restored as NULLs, never NaN


def test_archive_report_counts_only_this_run(spark, pipeline, tmp_path):
    """A crash-retry re-archives the same p_dates: the write overwrites
    those partitions, so the archive holds one blob per (conv_id, metric,
    chunk), the report counts only the current run's output, and restore
    returns every row once."""
    from transcriptts.retention import archive_partitions, restore_archive

    arch = str(tmp_path / "cold")
    dates = _p_dates(pipeline, "1d")[:1]
    before = {
        tuple(r[c] for c in ("conv_id", "metric", "bucket_start", *STAT_COLS))
        for r in pipeline.read_tier("1d")
        .where(F.col("p_date").cast("string").isin(dates))
        .select("conv_id", "metric", "bucket_start", *STAT_COLS)
        .collect()
    }
    rep1 = archive_partitions(pipeline, "1d", dates, arch)
    rep2 = archive_partitions(pipeline, "1d", dates, arch)  # simulated retry
    assert rep2["chunks"] == rep1["chunks"]
    assert rep2["points"] == rep1["points"]
    assert rep2["enc_bytes"] == rep1["enc_bytes"]
    restored = restore_archive(pipeline, arch, "1d")
    got = {
        tuple(r[c] for c in ("conv_id", "metric", "bucket_start", *STAT_COLS))
        for r in restored.select("conv_id", "metric", "bucket_start", *STAT_COLS).collect()
    }
    assert got == before  # no duplicated rows
    blobs = spark.read.parquet(rep2["path"])
    assert blobs.count() == rep2["chunks"]
    assert blobs.select("conv_id", "metric", "chunk").distinct().count() == rep2["chunks"]


# Jobs of apply_retention with an archive root, one expiring tier (local[4]):
#   1  the Gorilla encode's exchange, shuffle-map job
#   1  the p_date exchange (one file per archived date), shuffle-map job
#   1  the blob write
# read_tier declares the tier's schema (no schema-inference job), the report
# comes from an Observation on the write and from file sizes, the expire
# record from parquet footers; reading the archive back pushes it over.
RETENTION_JOB_BUDGET = 3


def test_retention_job_budget(spark, pipeline, tmp_path, count_jobs):
    """apply_retention with archiving issues at most RETENTION_JOB_BUDGET
    Spark jobs."""
    dates = _p_dates(pipeline, "1h")
    now = dt.date.fromisoformat(dates[-1]) + dt.timedelta(days=1)
    jobs, report = count_jobs("retention-job-budget", lambda: apply_retention(
        pipeline, {"1h": 1}, now=now, archive_root=str(tmp_path / "cold")))
    assert report["archived"]["1h"]["chunks"] > 0
    assert jobs <= RETENTION_JOB_BUDGET, jobs


def test_archive_scan_is_partition_pruned(spark, pipeline, tmp_path):
    """The expiring-partition scan must prune on p_date (O(dropped), not
    O(table)): the parquet source's partition filters carry the isin."""
    dates = _p_dates(pipeline, "1h")
    src = pipeline.read_tier("1h").where(F.col("p_date").cast("string").isin(dates[:1]))
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p_date" in plan


def _archive_files(path):
    """{p_date: [parquet file names]} of one tier's archive directory."""
    return {d.split("=", 1)[1]: sorted(f for f in os.listdir(os.path.join(path, d))
                                       if f.endswith(".parquet"))
            for d in os.listdir(path) if d.startswith("p_date=")}


def test_archive_one_file_per_date(spark, pipeline, tmp_path):
    """One archive pass over several dates writes exactly one parquet file
    per p_date (at local[4] the encode has four tasks, each holding blobs of
    every date), and re-archiving a date replaces its file. The report's
    files and bytes are those of the written dates."""
    from transcriptts.retention import archive_partitions

    dates = _p_dates(pipeline, "1h")[:3]
    arch = str(tmp_path / "cold")
    rep = archive_partitions(pipeline, "1h", dates, arch)
    files = _archive_files(rep["path"])
    assert sorted(files) == dates
    assert all(len(f) == 1 for f in files.values()), files
    assert rep["files"] == len(dates)
    assert rep["bytes"] == sum(os.path.getsize(os.path.join(rep["path"], f"p_date={d}", f[0]))
                               for d, f in files.items())

    again = archive_partitions(pipeline, "1h", dates[1:2], arch)
    after = _archive_files(rep["path"])
    assert sorted(after) == dates and all(len(f) == 1 for f in after.values()), after
    assert after[dates[0]] == files[dates[0]] and after[dates[2]] == files[dates[2]]
    assert again["files"] == 1


def test_retention_defaults_to_utc_date(spark, pipeline, monkeypatch):
    """now=None is today's UTC date, the calendar p_date uses. The clock is
    fixed at 23:30 UTC on the day after the last partition, and the host's
    zone at UTC+14, where it is already the day after that: a local date
    would expire the last partition too."""
    import time

    dates = _p_dates(pipeline, "1d")
    day_after = dt.date.fromisoformat(dates[-1]) + dt.timedelta(days=1)
    clock = dt.datetime.combine(day_after, dt.time(23, 30), dt.timezone.utc).timestamp()
    monkeypatch.setattr(time, "time", lambda: clock)
    monkeypatch.setenv("TZ", "Etc/GMT-14")  # POSIX sign: UTC+14
    time.tzset()
    try:
        assert dt.date.today() == day_after + dt.timedelta(days=1)
        report = apply_retention(pipeline, {"1d": 1})
    finally:
        monkeypatch.undo()
        time.tzset()
    assert report["expired"]["1d"] == dates[:-1]
    assert _p_dates(pipeline, "1d") == [dates[-1]]
    assert pipeline.load_state()["tiers"]["1d"]["retention_cutoff"] == dates[-1]
