"""Cold-tier compression roundtrip through Spark (FIXTURES.md B.7)."""

from __future__ import annotations

import pytest

from transcriptts.compress import compress_series, compression_report, decompress_series
from transcriptts.rollup import rollup, with_derived_metrics
from transcriptts.synth import synth_transcripts_arrow


@pytest.fixture(scope="module")
def rollup_1m(spark):
    tbl = synth_transcripts_arrow(n_convs=15, metronome_turns=300, seed=21)
    return rollup(with_derived_metrics(spark.createDataFrame(tbl.to_pandas())), "1m").cache()


def test_spark_roundtrip_bit_exact(rollup_1m):
    comp = compress_series(rollup_1m, value_col="mean").cache()
    back = decompress_series(comp)
    orig = {
        (r["conv_id"], r["metric"], r["bucket_start"]): r["mean"]
        for r in rollup_1m.select("conv_id", "metric", "bucket_start", "mean").collect()
    }
    got = {(r["conv_id"], r["metric"], r["bucket_start"]): r["value"] for r in back.collect()}
    assert got == orig  # exact equality, not approx — bit-exact roundtrip
    comp.unpersist()


def test_chunking_bounds_blob_span(rollup_1m):
    """A chunk is one UTC day: it spans less than a day and never two dates
    (the cold archive overwrites whole p_date partitions)."""
    comp = compress_series(rollup_1m)
    bad = comp.where(
        "unix_seconds(ts_max) - unix_seconds(ts_min) >= 86400 or n < 1"
        " or floor(unix_seconds(ts_min) / 86400) != chunk"
        " or floor(unix_seconds(ts_max) / 86400) != chunk"
    ).count()
    assert bad == 0


def test_compression_report(rollup_1m):
    comp = compress_series(rollup_1m)
    rep = {r["metric"]: r for r in compression_report(comp).collect()}
    assert set(rep) == {"token_count", "latency_s"}
    for r in rep.values():
        assert r["points"] > 0 and r["enc_bytes"] > 0
        assert r["ratio"] > 1.0  # must actually compress vs raw 16B/point
