"""On-disk format of the engine's tables: zstd parquet by default, and
tables written before that (snappy, several archive files per date) still
read back exactly."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from transcriptts.compress import compress_series
from transcriptts.pipeline import RollupPipeline
from transcriptts.retention import (
    STAT_COLS,
    apply_retention,
    archive_partitions,
    melt_stats,
    restore_archive,
)
from transcriptts.store import read_raw_turns, write_raw_turns

CODEC = "spark.sql.parquet.compression.codec"
KEY = ("conv_id", "metric", "bucket_start", *STAT_COLS)


def _turns(spark, days):
    """Three conversations that each run through every given day of July
    2025 (whole-minute turns), so incremental runs need seed rows."""
    base = dt.datetime(2025, 7, 1)
    rows = [
        (f"c{c}", (day - 1) * 20 + i, "user", " ".join(["w"] * (1 + i % 3)), None,
         base + dt.timedelta(days=day - 1, hours=c, minutes=7 * i))
        for c in range(3) for day in days for i in range(20)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")


def _files(root):
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]


def _codecs(files):
    """The column-chunk codecs named in the files' footers."""
    out = set()
    for f in files:
        md = pq.read_metadata(f)
        out |= {md.row_group(r).column(c).compression
                for r in range(md.num_row_groups) for c in range(md.num_columns)}
    return out


def _rows(df):
    return {tuple(r[c] for c in KEY) for r in df.select(*KEY).collect()}


@pytest.fixture()
def session_codec(spark):
    """Sets the session's parquet codec for one test, then puts it back."""
    before = spark.conf.get(CODEC)
    yield lambda codec: spark.conf.set(CODEC, codec)
    spark.conf.set(CODEC, before)


def test_engine_parquet_is_zstd(spark, tmp_path, session_codec):
    """get_spark's default reaches every table the engine writes: the raw
    store, each tier, convstate and the cold archive. An explicit extra_conf
    codec still wins over it."""
    from transcriptts.session import get_spark

    raw, arch = str(tmp_path / "raw"), str(tmp_path / "cold")
    write_raw_turns(_turns(spark, (1, 2, 3)), raw)
    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    p.run(read_raw_turns(spark, raw))
    apply_retention(p, {"1h": 1}, now="2025-07-04", archive_root=arch)
    tables = {"raw": raw, "convstate": os.path.join(p.root, "convstate"), "archive": arch,
              **{t: os.path.join(p.root, f"tier={t}") for t in ("1m", "1h", "1d")}}
    for name, root in tables.items():
        files = _files(root)
        assert files and _codecs(files) == {"ZSTD"}, name

    # the conftest session's arguments plus a codec; the fixture puts the
    # session's codec back
    assert get_spark(app_name="transcriptts-tests", master="local[4]", shuffle_partitions=4,
                     extra_conf={CODEC: "snappy"}) is spark
    write_raw_turns(_turns(spark, (1,)), str(tmp_path / "raw_snappy"))
    assert _codecs(_files(str(tmp_path / "raw_snappy"))) == {"SNAPPY"}


def test_old_layouts_still_read(spark, tmp_path, session_codec):
    """Tables written by earlier versions keep working:
    - restore_archive is bit-exact over an archive mixing an old-layout date
      (several snappy files) with a date archive_partitions writes now (one
      zstd file);
    - an incremental run over a raw store whose older files are snappy
      equals a full recompute."""
    raw = str(tmp_path / "raw")
    session_codec("snappy")
    write_raw_turns(_turns(spark, (1, 2)), raw)
    session_codec("zstd")
    p = RollupPipeline(spark, str(tmp_path / "tiers"))
    p.run(read_raw_turns(spark, raw))

    # the archive writer before one file per date: one file per writer task
    arch = str(tmp_path / "cold")
    old_date, new_date = "2025-07-01", "2025-07-02"
    src = p.read_tier("1h").where(F.col("p_date") == F.lit(old_date).cast("date"))
    compress_series(melt_stats(src), value_col="value") \
        .withColumn("p_date", F.to_date("ts_min")).repartition(3) \
        .write.partitionBy("p_date").option("compression", "snappy").parquet(f"{arch}/tier=1h")
    rep = archive_partitions(p, "1h", [new_date], arch)
    old_files = _files(os.path.join(rep["path"], f"p_date={old_date}"))
    new_files = _files(os.path.join(rep["path"], f"p_date={new_date}"))
    assert len(old_files) == 3 and _codecs(old_files) == {"SNAPPY"}
    assert len(new_files) == 1 and _codecs(new_files) == {"ZSTD"}
    expected = _rows(p.read_tier("1h").where(F.col("p_date").cast("string").isin(old_date, new_date)))
    assert _rows(restore_archive(p, arch, "1h")) == expected

    write_raw_turns(_turns(spark, (3,)), raw, mode="append")
    assert _codecs(_files(raw)) == {"SNAPPY", "ZSTD"}
    rep = p.run(read_raw_turns(spark, raw), incremental=True)
    assert all(rep["metrics"][t]["incremental_from"] for t in ("1m", "1h", "1d"))
    full = RollupPipeline(spark, str(tmp_path / "full"))
    full.run(read_raw_turns(spark, raw))
    for t in ("1m", "1h", "1d"):
        assert p.content_hash(t) == full.content_hash(t), t
