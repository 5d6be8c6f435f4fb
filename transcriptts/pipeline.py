"""Resumable, snapshot-checkpointed rollup pipeline with lineage + metrics.

North-rule shape: 'rollups run as a resumable Iceberg-snapshot-checkpointed
pipeline emitting per-partition lineage and row-count/byte metrics'. Without
Iceberg runtime jars the pipeline implements the same contract on parquet +
an atomically-swapped JSON manifest; every concept maps 1:1 onto Iceberg
(snapshot id ↔ Iceberg snapshot id, manifest swap ↔ commit, watermark ↔ WAP
branch publish, partition dir ↔ hidden partition days(bucket_start)):

layout under root/ (this class is the only code that walks it):
  state.json                    -- atomic checkpoint: per-tier watermark +
                                   last snapshot id + the input's name
                                   (`input_fingerprint`, or null)
  tier=<t>/p_date=YYYY-MM-DD/   -- rollup data, partitioned by bucket date
  lineage/<snapshot>.json       -- one record per operation on a tier

Lineage records share one format, written by `_record`:
  {"version": 2, "snapshot_id", "op", "tier", ...op fields}
  op "rollup"  (run, snapshot `<tier>-<id>`): input_fingerprint, rows,
               rows_written, batch_rows, bytes, wall_sec, incremental_from,
               partitions [{p_date, rows, bytes}]
  op "expire"  (retention.apply_retention, `expire-<tier>-<id>`): cutoff,
               partitions_dropped, rows_dropped, bytes_freed, archive
Row and byte figures come from parquet footers and file sizes, never from
reading data back.

Resume semantics:
- resume needs a named input: a tier is skipped only when the caller passes
  `input_fingerprint` (a source snapshot id, a stream batch id) and the
  tier's state entry carries the same name (idempotent rerun after a crash
  between tiers). An unnamed run computes every requested tier; that is
  safe because every tier write is an overwrite;
- with `incremental=True` and a previously committed watermark, a tier reads
  only raw rows with ts >= date(watermark) and dynamically overwrites the
  date partitions it produces (continuous-aggregate maintenance). The
  predicate keeps history out of the window and the rollup but skips no raw
  file or row group: raw is partitioned by p_date, not ts, and INT96 ts has
  no statistics, so the scan reads every raw byte;
- inter-turn latency, a lag() across the cutoff, stays EXACT via a seed-row
  table (`convstate/`: per (conv, date) that date's last turn) unioned into
  the batch and dropped before aggregation; convstate is rewritten only for
  dates >= the cutoff;
- state.json is swapped via os.replace AFTER the tier's data and lineage
  land, so a crash at any point leaves a consistent (re-runnable) view.

A run derives one frame (cut at the earliest watermark, or full when a tier
has none) and reads no tier back: watermarks come from an Observation on
the write, per-partition rows and bytes from parquet footers.

Every write sorts within partitions by (conv_id, metric, bucket_start) so a
rerun of the same input produces identical logical content (verified by the
resume test with a content hash).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .rollup import rollup, with_derived_metrics
from .schema import ROLLUP_SCHEMA, TIERS

# tiers are read with their declared schema: no schema-inference job
_TIER_SCHEMA = T.StructType([*ROLLUP_SCHEMA.fields, T.StructField("p_date", T.DateType())])


def _cutoff(watermark: str):
    """Start of the watermark's date: incremental batches begin here."""
    return F.to_timestamp(F.to_date(F.lit(watermark)))


def _later(watermark: str | None, observed: datetime | None) -> str | None:
    """The later of a watermark and an observed max bucket_start, as timestamps."""
    if observed is None or (watermark and datetime.fromisoformat(watermark) >= observed):
        return watermark
    return str(observed)


def _parquet_files(d: str) -> list[str]:
    return [os.path.join(d, fn) for fn in sorted(os.listdir(d)) if fn.endswith(".parquet")]


def _footer_rows(files: list[str]) -> int:
    return sum(pq.read_metadata(f).num_rows for f in files)


class RollupPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "lineage"), exist_ok=True)

    # --- state checkpoint ---------------------------------------------------

    @property
    def _state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    def load_state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {"tiers": {}}

    def _commit_state(self, state: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)
        os.replace(tmp, self._state_path)  # atomic snapshot commit

    # --- tier layout and lineage ---------------------------------------------

    def _tier_path(self, tier: str) -> str:
        return os.path.join(self.root, f"tier={tier}")

    def _partitions(self, tier: str) -> dict[str, str]:
        """{p_date: directory} of a tier in p_date order, from directory names
        only (no scan)."""
        root = self._tier_path(tier)
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        return {n.split("=", 1)[1]: os.path.join(root, n)
                for n in names if re.fullmatch(r"p_date=\d{4}-\d{2}-\d{2}", n)}

    def _partition_stats(self, tier: str, p_dates: list[str] | None = None) -> list[dict]:
        """{p_date, rows, bytes} per partition (every one, or the given
        p_dates), from parquet footers and file sizes."""
        parts = self._partitions(tier)
        stats = []
        for d in sorted(parts if p_dates is None else p_dates):
            files = _parquet_files(parts[d])
            if files:
                stats.append({"p_date": d, "rows": _footer_rows(files),
                              "bytes": sum(map(os.path.getsize, files))})
        return stats

    def _record(self, op: str, tier: str, **fields) -> str:
        """Write one lineage record (format in the module docstring); returns
        its snapshot id."""
        prefix = "" if op == "rollup" else f"{op}-"
        snapshot_id = f"{prefix}{tier}-{uuid.uuid4().hex[:12]}"
        record = {"version": 2, "snapshot_id": snapshot_id, "op": op, "tier": tier, **fields}
        with open(os.path.join(self.root, "lineage", f"{snapshot_id}.json"), "w") as f:
            json.dump(record, f, indent=2)
        return snapshot_id

    # --- per-conv seed state (exact cross-cutoff latency) --------------------

    @property
    def _convstate_path(self) -> str:
        return os.path.join(self.root, "convstate")

    # read with this declared schema (no schema-inference job); the seed rows
    # are cast back to the batch's column types
    _CONVSTATE_SCHEMA = "conv_id string, last_ts timestamp, last_turn_idx long, p_date date"

    def _update_convstate(self, turns: DataFrame, incremental_dates: bool) -> None:
        """Upsert (conv_id, p_date) -> last turn of that date. `turns` is the
        run's derived frame; a cut frame rewrites only the dates it touches.

        The last turn is the single row maximal by (turn_idx, ts) — turn_idx
        FIRST, matching the latency lag() window's ORDER BY turn_idx — so the
        seed row always pairs a turn's true (turn_idx, ts) even when
        timestamps arrive out of order within a conversation."""
        st = (
            turns.groupBy("conv_id", F.to_date("ts").alias("p_date"))
            .agg(F.max(F.struct("turn_idx", "ts")).alias("s"))
            .select(
                "conv_id", "p_date",
                F.col("s.ts").alias("last_ts"),
                F.col("s.turn_idx").alias("last_turn_idx"),
            )
        )
        writer = st.repartition("p_date").write.partitionBy("p_date")
        if incremental_dates and os.path.exists(self._convstate_path):
            # per-write option, NOT spark.conf.set: a session-wide conf leak
            # would silently turn later FULL rewrites (and unrelated user
            # writes) into dynamic overwrites that keep stale partitions
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.mode("overwrite").parquet(self._convstate_path)

    def _seed_rows(self, cutoff) -> DataFrame | None:
        """Per-conv last turn strictly before the cutoff date — the lag()
        seed for the incremental window. Partition-pruned read of the tiny
        convstate table; turn_idx keeps its true value so the window order
        is preserved."""
        if not os.path.exists(self._convstate_path):
            return None
        st = self.spark.read.schema(self._CONVSTATE_SCHEMA).parquet(self._convstate_path).where(
            F.col("p_date") < F.to_date(F.lit(cutoff))
        )
        return (
            st.groupBy("conv_id")
            .agg(F.max(F.struct("last_turn_idx", "last_ts")).alias("s"))
            .select(
                "conv_id",
                F.col("s.last_turn_idx").alias("turn_idx"),
                F.lit(None).cast("string").alias("text"),
                F.col("s.last_ts").alias("ts"),
            )
        )

    # --- run ------------------------------------------------------------------

    _DERIVED = ("conv_id", "turn_idx", "ts", "token_count", "latency_s")

    def incremental_metrics(self, transcripts: DataFrame, watermark: str) -> DataFrame:
        """The incremental tier input: RAW rows from the watermark's DATE on
        (dynamic overwrite swaps whole p_date partitions), derived with one
        convstate seed row per conversation as lag() context, then dropped.
        The pushed `ts >=` filter bounds the window and rollup, not the scan."""
        after = F.col("ts") >= _cutoff(watermark)
        src = transcripts.select("conv_id", "turn_idx", "text", "ts").where(after)
        seeds = self._seed_rows(watermark)
        batch = src if seeds is None else src.unionByName(
            seeds.select(*(F.col(f.name).cast(f.dataType) for f in src.schema)))
        return with_derived_metrics(batch).select(*self._DERIVED).where(after)

    def run(
        self,
        transcripts: DataFrame,
        tiers: tuple[str, ...] = ("1m", "1h", "1d"),
        input_fingerprint: str | None = None,
        incremental: bool = False,
    ) -> dict:
        """Compute + persist the requested tiers; returns the run report.

        input_fingerprint names the input version (e.g. a source snapshot id
        or a stream batch id). Tiers already committed under that name are
        skipped — that is the resume path. Without a name every requested
        tier is computed: no key is guessed from the data. Each tier's
        metrics include batch_rows, the turns its aggregation read.
        """
        state = self.load_state()
        report: dict = {"snapshot_ids": {}, "skipped": [], "metrics": {}}
        todo: dict[str, str | None] = {}  # tier -> previous watermark (None: full)
        for tier in tiers:
            entry = state["tiers"].get(tier)
            if (entry and input_fingerprint is not None
                    and entry.get("fingerprint") == input_fingerprint):
                report["skipped"].append(tier)
            else:
                todo[tier] = entry.get("watermark") if (entry and incremental) else None
        if not todo:
            return report

        # one derived frame per run: full when any tier is new, else cut at the
        # earliest watermark; persisted, as every tier and convstate read it
        cut = None if None in todo.values() else min(todo.values(), key=datetime.fromisoformat)
        frame = (with_derived_metrics(transcripts).select(*self._DERIVED) if cut is None
                 else self.incremental_metrics(transcripts, cut)
                 ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for tier, prev_watermark in todo.items():
                t0 = time.time()
                d = (frame if prev_watermark is None
                     else frame.where(F.col("ts") >= _cutoff(prev_watermark)))
                obs = Observation()
                out = (
                    rollup(d, tier)
                    .observe(
                        obs, F.count("*").alias("rows"), F.max("bucket_start").alias("mx"),
                        # every turn has a (non-null) token_count, so its
                        # counts sum to the batch's turns
                        F.coalesce(F.sum(F.when(F.col("metric") == "token_count", F.col("cnt"))),
                                   F.lit(0)).alias("batch_rows"),
                    )
                    .withColumn("p_date", F.to_date("bucket_start"))
                    .repartition("p_date")
                    .sortWithinPartitions("conv_id", "metric", "bucket_start")
                )
                path = self._tier_path(tier)
                writer = out.write.partitionBy("p_date")
                if prev_watermark is not None and os.path.exists(path):
                    # incremental: swap only the p_date partitions present in
                    # the batch. Per-write option (see _update_convstate) so
                    # full rewrites in the same session stay full replacements.
                    writer = writer.option("partitionOverwriteMode", "dynamic")
                writer.mode("overwrite").parquet(path)
                wall = round(time.time() - t0, 3)

                written = obs.get
                parts = self._partition_stats(tier)
                metrics = {
                    "rows": sum(p["rows"] for p in parts), "rows_written": written["rows"],
                    "batch_rows": written["batch_rows"],
                    "bytes": sum(p["bytes"] for p in parts), "wall_sec": wall,
                    "incremental_from": prev_watermark,
                }
                snapshot_id = self._record("rollup", tier, input_fingerprint=input_fingerprint,
                                           **metrics, partitions=parts)

                # commit AFTER data + lineage land (crash before this line →
                # tier is simply recomputed on the next run)
                state["tiers"][tier] = {
                    "fingerprint": input_fingerprint, "snapshot_id": snapshot_id,
                    "watermark": _later(prev_watermark, written["mx"]),
                    "rows": metrics["rows"], "bytes": metrics["bytes"],
                }
                self._commit_state(state)
                report["snapshot_ids"][tier] = snapshot_id
                report["metrics"][tier] = metrics

            # maintain the per-(conv, date) seed state for the NEXT incremental
            # run; an all-incremental run only rewrites post-cutoff dates.
            self._update_convstate(frame, incremental_dates=cut is not None)
        finally:
            frame.unpersist()
        return report

    def read_tier(self, tier: str) -> DataFrame:
        if tier not in TIERS:
            raise ValueError(f"unknown tier {tier!r}")
        return self.spark.read.schema(_TIER_SCHEMA).parquet(self._tier_path(tier))

    def content_hash(self, tier: str) -> str:
        """Order-insensitive logical content hash of a tier (resume tests)."""
        df = self.read_tier(tier).drop("p_date")
        row = df.select(
            F.sha2(
                F.concat_ws(
                    "|",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("null")) for c in sorted(df.columns)],
                ),
                256,
            ).alias("h")
        ).agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s"))
        return str(row.collect()[0]["s"])

def compact_partitions(spark: SparkSession, root: str) -> dict:
    """Merge small files inside each hive partition of a parquet layout —
    the small-file problem: append-mode writers (incremental raw-turn
    ingests) and archives written before it was one file per date leave
    many task files, and at 100 TB a scan's task count and listing cost
    are driven by FILE count, not bytes.

    Per-partition, all-or-nothing: each `p_date=` partition dir with two or
    more parquet files is rewritten to one file via coalesce into a hidden
    `.compact-*` temp dir, verified by row count (the footer row sums of the
    source and the temp dir's files; no data is read back), then swapped
    with two renames (`part -> part.old`, `tmp -> part`). The swap is NOT a
    single atomic operation: a crash can land in three states, all of which
    the NEXT run heals before scanning — (1) only `.compact-*` temp left:
    removed (unswapped output is unverified); (2) `part.old` present and the live
    dir missing (crash between the renames): `.old` renamed back, no data
    loss; (3) both present (crash before the final cleanup): the live dir
    is already the verified compacted output, `.old` removed. Rows are
    bit-identical through every recovery path (crash-injection tests in
    tests/test_pipeline.py).

    Reader semantics: between the two renames there is a window in which the
    partition directory does not exist — a concurrent reader that lists at
    that instant sees the partition absent for the life of that scan.
    Readers needing strict completeness should not race compaction (run it
    in a maintenance window, as with any in-place file-level rewrite).
    Single-writer op: do not run two compactions on the same root
    concurrently (recovery would mistake the other's live temp dirs for
    crash leftovers). Only oversized partitions are touched — O(dirty
    partitions), never O(table).
    """
    if not os.path.isdir(root):
        return {"compacted": [], "files_before": 0, "files_after": 0}

    # heal leftovers of a previously-interrupted run (states 1-3 above)
    for name in sorted(os.listdir(root)):
        full = os.path.join(root, name)
        if not os.path.isdir(full):
            continue
        if name.startswith(".compact-"):
            shutil.rmtree(full)
        elif name.startswith("p_date=") and name.endswith(".old"):
            live = full[: -len(".old")]
            if os.path.isdir(live):
                shutil.rmtree(full)
            else:
                os.rename(full, live)

    report: dict = {"compacted": [], "files_before": 0, "files_after": 0}
    for name in sorted(os.listdir(root)):
        part_dir = os.path.join(root, name)
        if not (name.startswith("p_date=") and os.path.isdir(part_dir)):
            continue
        if name.endswith(".old"):  # unreachable post-recovery; defensive
            continue  # pragma: no cover
        files = _parquet_files(part_dir)
        report["files_before"] += len(files)
        if len(files) < 2:
            report["files_after"] += len(files)
            continue
        n_before = _footer_rows(files)
        tmp_dir = os.path.join(root, f".compact-{name}-{uuid.uuid4().hex[:8]}")
        spark.read.parquet(part_dir).coalesce(1) \
            .write.mode("overwrite").parquet(tmp_dir)
        n_after = _footer_rows(_parquet_files(tmp_dir))
        if n_after != n_before:  # pragma: no cover - defensive
            shutil.rmtree(tmp_dir)
            raise RuntimeError(
                f"compaction row-count mismatch for {part_dir}: {n_before} -> {n_after}"
            )
        old_dir = part_dir + ".old"
        os.rename(part_dir, old_dir)
        os.rename(tmp_dir, part_dir)
        shutil.rmtree(old_dir)
        report["files_after"] += len(_parquet_files(part_dir))
        report["compacted"].append(name.split("=", 1)[1])
    return report

