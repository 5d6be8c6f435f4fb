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
     with a dynamic partition overwrite: re-archiving a date replaces its
     blobs, so a retry after a crash between archive and delete writes the
     same blobs again instead of adding a second copy;
  3. the partition directories are deleted and an `expire` lineage record
     (`RollupPipeline._record`, next to the run lineage) captures what was
     dropped (rows and bytes from the parquet footers) and what was archived.

`restore_archive` is the inverse of the archive step: blobs → points →
pivot back to the wide rollup schema, with no dedup (the archive holds one
blob per chunk). The roundtrip is bit-exact for every stat column (Gorilla
XOR packing is lossless; tests assert equality), so expiry-with-archive
never loses information, it only changes storage cost.

Scale shape: the expiry decision is pure filesystem metadata; the archive
job reads only the expiring partitions (partition-pruned scan), shuffles
once on (conv_id, metric, chunk) — exactly the cold-compression plan that
`compress.py` documents — and the blobs it writes are individually
decodable, so a later point lookup touches one chunk, not the archive.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .compress import compress_series, decompress_series
from .pipeline import RollupPipeline

# the wide per-bucket stats a tier row carries (rollup.py contract)
STAT_COLS = ("cnt", "sum", "mean", "min", "max", "p50", "p99")


def melt_stats(tier_df: DataFrame, stats: tuple[str, ...] = STAT_COLS) -> DataFrame:
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
    n = len(stats)
    pairs = ", ".join(f"'{s}', cast(`{s}` as double)" for s in stats)
    return (
        tier_df.selectExpr(
            "conv_id", "metric", "bucket_start", f"stack({n}, {pairs}) as (stat, value)"
        )
        .where(F.col("value").isNotNull())
        .select(
            "conv_id",
            F.concat_ws(":", "metric", "stat").alias("metric"),
            "bucket_start",
            "value",
        )
    )


def unmelt_stats(points: DataFrame, stats: tuple[str, ...] = STAT_COLS) -> DataFrame:
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
        .pivot("stat", list(stats))
        .agg(F.first("value"))
    )
    return wide.withColumn("cnt", F.col("cnt").cast("bigint"))


def archive_partitions(
    pipeline: RollupPipeline, tier: str, p_dates: list[str], archive_root: str
) -> dict:
    """Compress the given p_date partitions of a tier into the cold store.

    Returns {chunks, points, raw_bytes, enc_bytes, path}, observed on the blob
    write. Chunks are one day, so a chunk never spans two p_dates, and the
    write overwrites exactly the p_date partitions it produces: archiving a
    date twice leaves one blob per (conv_id, metric, chunk).
    """
    src = pipeline.read_tier(tier).where(F.col("p_date").cast("string").isin(p_dates))
    obs = Observation()
    blobs = compress_series(
        melt_stats(src), value_col="value", ts_col="bucket_start", chunk_seconds=86400
    ).observe(
        obs, F.count("*").alias("chunks"), F.sum("n").alias("points"),
        F.sum("raw_bytes").alias("raw_bytes"), F.sum("enc_bytes").alias("enc_bytes"),
    )
    out_path = os.path.join(archive_root, f"tier={tier}")
    # per-write option, never a session conf (see RollupPipeline._update_convstate)
    blobs.withColumn("p_date", F.to_date("ts_min")).write.partitionBy("p_date") \
        .option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(out_path)
    return {**obs.get, "path": out_path}


def restore_archive(
    pipeline: RollupPipeline, archive_root: str, tier: str, stats: tuple[str, ...] = STAT_COLS
) -> DataFrame:
    """Cold blobs → the tier's wide rollup schema (bit-exact roundtrip)."""
    blobs = pipeline.spark.read.parquet(os.path.join(archive_root, f"tier={tier}"))
    return unmelt_stats(decompress_series(blobs), stats)


def apply_retention(
    pipeline: RollupPipeline,
    policy: dict[str, int | None],
    now: date | str | None = None,
    archive_root: str | None = None,
) -> dict:
    """Enforce per-tier keep windows. policy maps tier → keep_days (None =
    keep forever). Partitions with p_date < now - keep_days are archived
    (when archive_root is set) then deleted; returns the expiry report and
    writes one lineage record per affected tier.
    """
    if now is None:
        now = date.today()
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
