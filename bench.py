#!/usr/bin/env python
"""Bench harness: headline rollup throughput + driver-testdata queries.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"tier_pipeline": <min sec>, ...per-query min sec...}, "sf": <sf>, "turns_per_sec": ...,
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
to parquet once (untimed) and cached, then ``transcriptts.cli.time_tiers``
computes all three retention tiers and fully materializes them (noop sink —
forces every aggregate, writes nothing): one untimed warm-up pass, then the
timed passes.
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

    # the repo on PYTHONPATH before the JVM starts, so the Python workers it
    # forks (the synth UDF) import transcriptts from any working directory
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
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

    # --- synthetic transcript tier pipeline (headline) ---------------------
    # ~12 mean turns/conv (plus hot tail) → conv count for the turn target
    n_convs = max(100, int(n_turns_target / 24))
    synth_path = f"/tmp/transcriptts_bench_{n_turns_target}_{cpus}.parquet"
    if not os.path.exists(synth_path):
        # written beside the final path and renamed only once complete, so a
        # failed run leaves nothing that a later run would take as finished
        tmp_path = f"{synth_path}.tmp-{os.getpid()}"
        synth_transcripts_spark(
            spark, n_convs=n_convs, metronome_turns=86400, slices=cpus * 4
        ).write.mode("overwrite").parquet(tmp_path)
        os.rename(tmp_path, synth_path)

    passes = max(1, int(os.environ.get("BENCH_PASSES", 3)))

    from transcriptts.cli import time_tiers

    # tier_pipeline = min over passes of the full 3-tier wall (the
    # throughput protocol, comparable across rounds); time_tiers' untimed
    # count and warm-up pass materialize the cache
    tdf = spark.read.parquet(synth_path).cache()
    tiers = time_tiers(tdf, passes)
    tdf.unpersist()
    walls: dict[str, list[float]] = {"tier_pipeline": tiers["wall_sec_all"]}
    timings: dict[str, float] = {"tier_pipeline": tiers["wall_sec"]}

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
                "bench_turns": tiers["turns"],
                "tier_pipeline_sec": tiers["wall_sec"],
                "turns_per_sec": tiers["turns_per_sec"],
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
