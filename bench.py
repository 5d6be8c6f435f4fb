#!/usr/bin/env python
"""Bench harness: headline rollup throughput + driver-testdata queries.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query min sec...}, "sf": <sf>, "turns_per_sec": ...,
   "passes": N, "walls": {"tier_pipeline": [...], "<query>": [...]},
   "nproc": <usable cores>}
"walls" holds every timed pass's wall (sec), in pass order.

Env knobs:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    cores for local[N] (default: all)
  BENCH_TURNS         synthetic transcript turns for the tier pipeline
                      (default 2_000_000)
  BENCH_PASSES        timed passes per query, min reported (default 3 —
                      the host's noisy neighbors inflate single-shot
                      timings up to 10x and bursts can span a whole
                      2-pass window; min of 3 back-to-back passes
                      approximates quiet-host time. Measured spread on
                      the tier pipeline: 11.8s vs 57.0s for IDENTICAL
                      passes minutes apart.)

The tier pipeline is the north-rule headline: synth transcripts are written
to parquet once (untimed), then all three retention tiers are computed and
fully materialized (noop sink — forces every aggregate, writes nothing).
"""

from __future__ import annotations

import json
import os
import sys
import time


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_turns_target = int(os.environ.get("BENCH_TURNS", 2_000_000))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from transcriptts.session import get_spark
    from transcriptts.synth import synth_transcripts_spark

    spark = get_spark(
        app_name="transcriptts-bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "32g"),
        },
    )

    timings: dict[str, float] = {}

    # --- synthetic transcript tier pipeline (headline) ---------------------
    # ~12 mean turns/conv (plus hot tail) → conv count for the turn target
    n_convs = max(100, int(n_turns_target / 24))
    synth_path = f"/tmp/transcriptts_bench_{n_turns_target}_{cpus}.parquet"
    if not os.path.exists(synth_path):
        synth_transcripts_spark(
            spark, n_convs=n_convs, metronome_turns=86400, slices=cpus * 4
        ).write.mode("overwrite").parquet(synth_path)
    tdf = spark.read.parquet(synth_path)
    n_turns = tdf.count()

    passes = max(1, int(os.environ.get("BENCH_PASSES", 3)))

    from transcriptts.rollup import rollup_tiers

    tdf = tdf.cache()
    tdf.count()  # materialize the cache untimed
    # tier_total = min over passes of the full 3-tier wall (the throughput
    # protocol, comparable across rounds); per-tier entries are the min per
    # tier across passes (a noise burst inside the best-total pass would
    # otherwise be reported as that tier's cost).
    walls: dict[str, list[float]] = {"tier_pipeline": []}
    per_tier_min: dict[str, float] = {}
    for _ in range(passes):
        t0 = time.time()
        for name, df in rollup_tiers(tdf).items():
            t1 = time.time()
            materialize(df)
            w = round(time.time() - t1, 3)
            key = f"tier_{name}"
            if key not in per_tier_min or w < per_tier_min[key]:
                per_tier_min[key] = w
        walls["tier_pipeline"].append(round(time.time() - t0, 3))
    tier_total = min(walls["tier_pipeline"])
    timings.update(per_tier_min)
    tdf.unpersist()
    turns_per_sec = n_turns * 3 / tier_total  # turns rolled into 3 tiers

    # --- driver-contract queries on testdata -------------------------------
    import __spark_entry__ as entrymod

    for name, fn in entrymod.queries().items():
        walls[name] = []
        for _ in range(passes):
            t1 = time.time()
            materialize(fn(spark, sf_dir))
            walls[name].append(round(time.time() - t1, 3))
        timings[name] = min(walls[name])

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "bench_turns": n_turns,
                "tier_pipeline_sec": round(tier_total, 3),
                "turns_per_sec": round(turns_per_sec, 1),
                "cpus": cpus,
                "passes": passes,
                "walls": walls,
                "nproc": len(os.sched_getaffinity(0)),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
