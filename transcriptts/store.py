"""Raw transcript storage: salted range-partitioned turn tables.

The engine's source of truth is the raw turns table
(conv_id, turn_idx, role, text, tool, ts). The north-star contract for this
layout has two halves:

* **placement** — rows are range-partitioned by (conv_id, ts), which is the
  skew-robust reading of "partition by (conv_id, ts-bucket)": a hot
  conversation (the synth metronome writes 86k turns/day into ONE conv_id)
  does not pin one writer/reader task, because the range boundaries fall
  *inside* the conversation and split it by time — the same mechanism a
  static salt would provide, without inventing a synthetic key. Files are
  additionally hive-partitioned by p_date so time-windowed scans prune.
* **fidelity** — per-turn `text` survives byte-identically under the stable
  (conv_id, turn_idx) ordering. `turns_fingerprint` makes that checkable as
  one row per conversation: an md5 over the turn_idx-ordered
  (turn_idx, text) pairs. Writers sort within partitions by
  (conv_id, turn_idx), so the invariant holds on read-back without a
  global sort (verified in tests/test_store.py, plus a driver-level oracle
  row `turns_text_fingerprint`).

At 100 TB: the write shuffles once (range exchange with sampled bounds —
Spark's RangePartitioner samples key distribution, so uneven conversations
still yield even output files); scans prune on p_date; per-conversation
reads touch only the ranges covering that conv_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

RAW_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# field separators for the fingerprint pre-image: 0x1e between turn_idx and
# text, 0x1f between turns, 0x02 for NULL text (distinct from empty string)
_SEP_FIELD = "\x1e"
_SEP_TURN = "\x1f"
_NULL_TEXT = "\x02"


def write_raw_turns(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist raw turns range-partitioned by (conv_id, ts) into
    2 × defaultParallelism ranges, hive-partitioned by p_date, each file
    sorted by (conv_id, turn_idx)."""
    n = max(1, df.sparkSession.sparkContext.defaultParallelism) * 2
    out = (
        df.select(*RAW_COLS)
        .withColumn("p_date", F.to_date("ts"))
        .repartitionByRange(n, "conv_id", "ts")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    out.write.partitionBy("p_date").mode(mode).parquet(path)


def read_raw_turns(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _turn_fp_element(s: Column) -> Column:
    return F.concat_ws(
        _SEP_FIELD, s["turn_idx"].cast("string"), F.coalesce(s["text"], F.lit(_NULL_TEXT))
    )


def turns_fingerprint(df: DataFrame) -> DataFrame:
    """One row per conversation: (conv_id, n_turns, text_fp) where text_fp is
    md5 over the turn_idx-ORDERED (turn_idx, text) pairs.

    Equality of fingerprints between a source frame and a read-back frame is
    exactly the north-star invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — order-insensitive to how either frame's
    rows happen to be partitioned, because the sort is inside the
    fingerprint (array_sort on a turn_idx-led struct), not on the frame.
    """
    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.md5(
            F.concat_ws(
                _SEP_TURN,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    _turn_fp_element,
                ),
            )
        ).alias("text_fp"),
    )
