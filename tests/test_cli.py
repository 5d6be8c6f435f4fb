"""The tier timer contract: ``time_tiers`` is the one timer of the tier job,
and ``cli.py bench`` (read by scripts/run_scaling.py) and bench.py both
report its dict."""

from __future__ import annotations

from transcriptts.cli import time_tiers
from transcriptts.synth import synth_transcripts_arrow

# every key scripts/run_scaling.py or bench.py reads from the timer
READ_KEYS = {
    "turns", "tiers", "wall_sec", "wall_sec_median", "wall_sec_all",
    "load1_pre_all", "load1_post_all", "turns_per_sec", "turns_per_sec_median",
    "cores",
}


def test_time_tiers_contract(spark):
    df = spark.createDataFrame(
        synth_transcripts_arrow(n_convs=10, metronome_turns=50, seed=3).to_pandas()
    )
    r = time_tiers(df, passes=2)
    assert READ_KEYS <= set(r)
    assert len(r["wall_sec_all"]) == len(r["load1_pre_all"]) == len(r["load1_post_all"]) == 2
    assert r["wall_sec"] == min(r["wall_sec_all"])
    assert r["turns"] == df.count()
    assert r["tiers"] == 3
    assert r["turns_per_sec"] > 0
    assert r["cores"] == spark.sparkContext.defaultParallelism
