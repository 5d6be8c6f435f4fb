"""Retention enforcement for rollup tiers: expire old partitions, optionally
archiving them to a Gorilla-compressed cold store first.

The reference keeps every resampled point in memory (SignalSharp operates on
in-process arrays; it has no storage tiering), so retention is part of what
makes this engine an *engine*: the north-star layout is hot 1m / warm 1h /
cold 1d tiers where each tier keeps a bounded window of history and ages the
rest out. `apply_retention` enforces a per-tier keep window over the
`RollupPipeline` layout (`tier=<t>/p_date=<d>/…`):

  1. partitions strictly older than `now - keep` are selected by DIRECTORY
     name — no data scan decides eligibility, so expiry cost is O(partitions
     dropped), never O(table);
  2. if an `archive_root` is given, the expiring partitions (and only those
     — a `p_date`-pruned scan) are melted to long form and packed into
     Gorilla chunk blobs (`compress.compress_series`), one blob per
     (conv_id, metric:stat, day), written under `archive_root/tier=<t>/`
     as ONE parquet file per date, with a dynamic partition overwrite:
     re-archiving a date replaces its blobs, so a retry after a crash
     between archive and delete writes the same blobs again instead of
     adding a second copy;
  3. the partition directories are deleted and an `expire` lineage record
     (`RollupPipeline._record`, next to the run lineage) captures what was
     dropped (rows and bytes from the parquet footers) and what was archived
     (chunks, points and Gorilla bytes from the write, files and on-disk
     bytes from the written dates' directories).

`restore_archive` is the inverse of the archive step: blobs → points →
pivot back to the wide rollup schema, with no dedup (the archive holds one
blob per chunk). The roundtrip is bit-exact for every stat column (Gorilla
XOR packing is lossless; tests assert equality), so expiry-with-archive
never loses information, it only changes storage cost.

Scale shape: the expiry decision is pure filesystem metadata; the archive
job reads only the expiring partitions (partition-pruned scan), shuffles
once on (conv_id, metric, chunk) — exactly the cold-compression plan that
`compress.py` documents — and once more on p_date, so each date is written
by one task into one file while several dates still write in parallel. One
file per date is what makes the archive smaller than the tier it replaces:
Parquet's dictionary removes duplicate blobs only within a file, and every
file repeats a footer that carries the blob columns' full-length min/max.
On the maintain benchmark (seed 7, local[4]) five archived dates of the 1m
tier took 448,525 B as four snappy files per date, 272,770 B as one snappy
file per date and take 251,987 B as one zstd file per date. The blobs are
individually decodable, so a later point lookup touches one chunk, not the
archive. Archives written with several files per date still read.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .compress import COMPRESSED_SCHEMA, compress_series, decompress_series
from .pipeline import RollupPipeline, _parquet_files
from .schema import ROLLUP_SCHEMA

# the wide per-bucket stats a tier row carries
STAT_COLS = tuple(f.name for f in ROLLUP_SCHEMA.fields
                  if f.name not in ("conv_id", "bucket_start", "metric"))


def melt_stats(tier_df: DataFrame) -> DataFrame:
    """Wide rollup rows → long (conv_id, metric:stat, bucket_start, value).

    One `stack` projection (zero shuffle); the composite metric key keeps
    each stat a separate compressible series without widening the blob
    schema. `cnt` is a bigint but < 2^53, so the double round-trip is exact.

    NULL stat values are DROPPED here rather than encoded: every stat
    column is nullable, and any writer of a tier table may leave one NULL.
    Gorilla packs IEEE doubles, so a NULL would come back as NaN. An absent
    point pivots back to NULL in unmelt_stats, which keeps the roundtrip
    exact for nullable stats too (a bucket always keeps at least its cnt
    point — counts are never NULL — so no bucket ever disappears
    entirely)."""
    pairs = ", ".join(f"'{s}', cast(`{s}` as double)" for s in STAT_COLS)
    return (
        tier_df.selectExpr(
            "conv_id", "metric", "bucket_start", f"stack({len(STAT_COLS)}, {pairs}) as (stat, value)"
        )
        .where(F.col("value").isNotNull())
        .select(
            "conv_id",
            F.concat_ws(":", "metric", "stat").alias("metric"),
            "bucket_start",
            "value",
        )
    )


def unmelt_stats(points: DataFrame) -> DataFrame:
    """Inverse of melt_stats: long points → wide rollup rows."""
    split = points.select(
        "conv_id",
        F.substring_index("metric", ":", 1).alias("metric"),
        F.substring_index("metric", ":", -1).alias("stat"),
        "bucket_start",
        "value",
    )
    wide = (
        split.groupBy("conv_id", "metric", "bucket_start")
        .pivot("stat", list(STAT_COLS))
        .agg(F.first("value"))
    )
    return wide.withColumn("cnt", F.col("cnt").cast("bigint"))


def archive_partitions(
    pipeline: RollupPipeline, tier: str, p_dates: list[str], archive_root: str
) -> dict:
    """Compress the given p_date partitions of a tier into the cold store.

    Returns {chunks, points, raw_bytes, enc_bytes, files, bytes, path}: the
    first four observed on the blob write, files and on-disk bytes of the
    written dates from their directories. Chunks are one day, so a chunk
    never spans two p_dates, and the write overwrites exactly the p_date
    partitions it produces: archiving a date twice leaves one file with one
    blob per (conv_id, metric, chunk).
    """
    src = pipeline.read_tier(tier).where(F.col("p_date").cast("string").isin(p_dates))
    obs = Observation()
    blobs = compress_series(melt_stats(src), value_col="value").observe(
        obs, F.count("*").alias("chunks"), F.sum("n").alias("points"),
        F.sum("raw_bytes").alias("raw_bytes"), F.sum("enc_bytes").alias("enc_bytes"),
    )
    out_path = os.path.join(archive_root, f"tier={tier}")
    # One writer task, so one file, per date. len(p_dates) partitions, not
    # the shuffle width: on the maintain benchmark's state at local[4] a
    # one-date pass took 1.06 s at the width (15 empty writer tasks), 0.88 s
    # this way and 0.86 s with no exchange (medians of 8). The overwrite
    # mode is a per-write option, never a session conf (see
    # RollupPipeline._update_convstate).
    blobs.withColumn("p_date", F.to_date("ts_min")) \
        .repartition(max(len(p_dates), 1), "p_date").write.partitionBy("p_date") \
        .option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(out_path)
    dirs = (os.path.join(out_path, f"p_date={d}") for d in p_dates)
    files = [f for d in dirs if os.path.isdir(d) for f in _parquet_files(d)]
    return {**obs.get, "files": len(files), "bytes": sum(map(os.path.getsize, files)),
            "path": out_path}


def restore_archive(pipeline: RollupPipeline, archive_root: str, tier: str) -> DataFrame:
    """Cold blobs → the tier's wide rollup schema (bit-exact roundtrip)."""
    blobs = pipeline.spark.read.schema(f"{COMPRESSED_SCHEMA}, p_date date") \
        .parquet(os.path.join(archive_root, f"tier={tier}"))
    return unmelt_stats(decompress_series(blobs))


def apply_retention(
    pipeline: RollupPipeline,
    policy: dict[str, int | None],
    now: date | str | None = None,
    archive_root: str | None = None,
) -> dict:
    """Enforce per-tier keep windows. policy maps tier → keep_days (None =
    keep forever). Partitions with p_date < now - keep_days are archived
    (when archive_root is set) then deleted; returns the expiry report and
    writes one lineage record per affected tier. `now` defaults to the
    current UTC date.
    """
    if now is None:
        # p_date is a UTC date (get_spark pins the session time zone to
        # UTC); date.today() is the host's local date, a day off near midnight
        now = datetime.fromtimestamp(time.time(), timezone.utc).date()
    elif isinstance(now, str):
        now = date.fromisoformat(now)

    report: dict = {"expired": {}, "archived": {}, "snapshot_ids": {}}
    state = pipeline.load_state()
    for tier, keep_days in policy.items():
        if keep_days is None:
            continue
        cutoff = now - timedelta(days=keep_days)
        parts = pipeline._partitions(tier)
        expiring = [d for d in parts if date.fromisoformat(d) < cutoff]
        if not expiring:
            continue
        dropped = pipeline._partition_stats(tier, expiring)

        archived = None
        if archive_root is not None:
            archived = archive_partitions(pipeline, tier, expiring, archive_root)
            report["archived"][tier] = archived

        for d in expiring:
            shutil.rmtree(parts[d])

        snapshot_id = pipeline._record(
            "expire", tier, cutoff=str(cutoff), partitions_dropped=expiring,
            rows_dropped=sum(p["rows"] for p in dropped),
            bytes_freed=sum(p["bytes"] for p in dropped), archive=archived,
        )

        entry = state["tiers"].setdefault(tier, {})
        entry["retention_cutoff"] = str(cutoff)
        entry["last_expire_snapshot"] = snapshot_id
        report["expired"][tier] = expiring
        report["snapshot_ids"][tier] = snapshot_id
    pipeline._commit_state(state)
    return report
