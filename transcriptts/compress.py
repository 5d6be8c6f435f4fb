"""Cold-tier compression: Gorilla-packed chunks as BinaryType columns.

`compress_series` folds each (conv_id, metric, chunk) group of rollup points
into ONE row holding two binary blobs — XOR-packed values + delta-of-delta-
packed bucket timestamps — plus chunk metadata (row count, ts range, raw and
encoded byte sizes). `decompress_series` explodes blobs back into points;
roundtrip is bit-exact. Encoding runs on `partitioning.per_series`, decoding
on `partitioning.per_row`.

Chunking: `chunk` = floor(bucket_start epoch / 86400), one UTC day, so a blob
covers at most 1440 1m points and never spans two dates — the cold archive's
`p_date` overwrite (retention.archive_partitions) relies on that. The
grouping carries only (ts, value) pairs — Arrow-batched, no per-row Python.

Measured on-disk cost, the 1m tier's cold archive on the maintain benchmark
(seed 7, local[4], 5 archived days, 136,570 points): a raw point is 16 B
(timestamp + double) and the Gorilla blobs hold 3.80 B per point (enc_bytes).
Written as four snappy files per date (one per writer task), the archive
took 3.28 B per point on disk; as one zstd file per date
(retention.archive_partitions, get_spark's codec) it takes 1.85 B per point,
less per day than the 1m tier it replaces. Blobs stay individually
decodable, so point lookups only touch the covering chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import per_row, per_series

COMPRESSED_SCHEMA = (
    "conv_id string, metric string, chunk long, n int, "
    "ts_min timestamp, ts_max timestamp, "
    "ts_blob binary, val_blob binary, raw_bytes long, enc_bytes long"
)


def compress_series(df: DataFrame, value_col: str = "mean") -> DataFrame:
    """Rollup points → one compressed chunk row per (conv_id, metric, day)."""
    import numpy as np

    from .kernels.gorilla import encode_floats, encode_timestamps

    ts = F.col("bucket_start").cast("timestamp")
    base = df.select(
        "conv_id",
        "metric",
        F.floor(F.unix_seconds(ts) / 86400).alias("chunk"),
        ts.alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
    )

    # Day-sized chunks hold a handful of points, so a pandas frame per chunk
    # would cost more than the encoding (40k chunks once made it the whole
    # runtime); per_series orders each chunk JVM-side and hands Python whole
    # Arrow batches of chunks.
    def pack(ts, vals):
        ts = ts.astype("datetime64[us]")
        ts_blob = encode_timestamps(ts.astype(np.int64))
        val_blob = encode_floats(vals)
        return {
            "n": [len(vals)],
            "ts_min": [ts[0]],
            "ts_max": [ts[-1]],
            "ts_blob": [ts_blob],
            "val_blob": [val_blob],
            "raw_bytes": [len(vals) * 16],
            "enc_bytes": [len(ts_blob) + len(val_blob)],
        }

    return per_series(base, ["conv_id", "metric", "chunk"], "_ts", ["_v"], pack, COMPRESSED_SCHEMA)


def decompress_series(df: DataFrame) -> DataFrame:
    """Compressed chunks → (conv_id, metric, bucket_start, value) points."""
    from .kernels.gorilla import decode_floats, decode_timestamps

    # each chunk row decodes independently: no shuffle, one task wave
    def unpack(ts_blob, val_blob):
        return {
            "bucket_start": decode_timestamps(bytes(ts_blob)).astype("datetime64[us]"),
            "value": decode_floats(bytes(val_blob)),
        }

    return per_row(
        df, ["conv_id", "metric"], ["ts_blob", "val_blob"], unpack,
        "conv_id string, metric string, bucket_start timestamp, value double",
    )


def compression_report(compressed: DataFrame) -> DataFrame:
    """Per-metric compression ratio summary (for pipeline metrics)."""
    return compressed.groupBy("metric").agg(
        F.count("*").alias("chunks"),
        F.sum("n").alias("points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"),
    )
