"""spark-submit entry point.

Package + submit (the north-rule launch mode):

    cd /root/repo && zip -r /tmp/transcriptts.zip transcriptts
    spark-submit --master local[32] --py-files /tmp/transcriptts.zip \
        transcriptts/cli.py rollup --input /tmp/transcripts.parquet --root /tmp/tiers

Subcommands:
  synth   --out PATH --convs N [--seed S] [--metronome N] [--slices N]
  rollup  --input PATH --root PATH [--tiers 1m,1h,1d] [--incremental]
          (the input is unnamed, so a rerun recomputes every tier; resume
          needs RollupPipeline.run's input_fingerprint)
  bench   --input PATH [--passes N]  (prints one JSON line: turns/sec and the
                                      wall and load of every pass)

The session comes from ``session.get_spark``; the launcher's ``--master`` and
``--conf`` values win over its defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def time_tiers(df, passes: int) -> dict:
    """Time the three ``rollup_tiers`` noop writes over ``df``: one untimed
    warm-up pass, then ``passes`` timed ones. The one timer of the tier job,
    shared by ``cli.py bench`` (and so ``scripts/run_scaling.py``) and
    ``bench.py``. Returns turns, walls, 1-min loads and throughputs (input
    turns x 3 tiers / wall)."""
    from concurrent.futures import ThreadPoolExecutor

    from transcriptts.rollup import rollup_tiers

    n_turns = df.count()

    def run_tiers() -> None:
        # submit the three tier jobs concurrently: each tier's plan (and
        # hence the work decomposition) is unchanged, but the scheduler
        # can fill the idle slots of one job's straggler wave / planning
        # gap with another job's tasks — dead time that otherwise grows
        # with core count and erodes measured scaling efficiency
        tiers = rollup_tiers(df)
        with ThreadPoolExecutor(max_workers=len(tiers)) as ex:
            futs = [
                ex.submit(lambda t=t: t.write.format("noop").mode("overwrite").save())
                for t in tiers.values()
            ]
            for f in futs:
                f.result()

    # untimed warmup pass: JIT/codegen compilation and page cache, so the
    # timed passes measure steady-state throughput at both core counts
    run_tiers()
    walls = []
    loads_pre, loads_post = [], []
    for _ in range(max(passes, 1)):
        # per-pass 1-min load BEFORE and AFTER: external tenant bursts on
        # this shared box hit individual passes, so per-leg load alone
        # cannot attribute a slow pass — these columns can
        loads_pre.append(round(os.getloadavg()[0], 2))
        t0 = time.time()
        run_tiers()
        walls.append(round(time.time() - t0, 3))
        loads_post.append(round(os.getloadavg()[0], 2))
    wall = min(walls)
    # median is the fair cross-leg estimator when legs run different
    # pass counts (equal wall-clock exposure): the min of more samples
    # is biased lower under noise, the median is not
    wall_med = statistics.median(walls)
    return {
        "turns": n_turns,
        "tiers": 3,
        "wall_sec": wall,
        "wall_sec_median": round(wall_med, 3),
        "wall_sec_all": walls,
        "load1_pre_all": loads_pre,
        "load1_post_all": loads_post,
        "turns_per_sec": round(n_turns * 3 / wall, 1),
        "turns_per_sec_median": round(n_turns * 3 / wall_med, 1),
        "cores": df.sparkSession.sparkContext.defaultParallelism,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="transcriptts")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth")
    p_synth.add_argument("--out", required=True)
    p_synth.add_argument("--convs", type=int, default=10000)
    p_synth.add_argument("--seed", type=int, default=42)
    p_synth.add_argument("--metronome", type=int, default=86400)
    p_synth.add_argument("--slices", type=int, default=64)

    p_roll = sub.add_parser("rollup")
    p_roll.add_argument("--input", required=True)
    p_roll.add_argument("--root", required=True)
    p_roll.add_argument("--tiers", default="1m,1h,1d")
    p_roll.add_argument("--incremental", action="store_true")

    p_bench = sub.add_parser("bench")
    p_bench.add_argument("--input", required=True)
    p_bench.add_argument(
        "--passes", type=int, default=3,
        help="timed steady-state passes; min wall is reported (the sandbox "
        "host has noisy-neighbor variance up to 2x — min ~= quiet-host time)",
    )

    args = ap.parse_args(argv)

    # spark-submit provides the app JVM; get_spark attaches to it
    from transcriptts.session import get_spark

    spark = get_spark(app_name=f"transcriptts-{args.cmd}")

    if args.cmd == "synth":
        from transcriptts.synth import synth_transcripts_spark

        df = synth_transcripts_spark(
            spark, n_convs=args.convs, seed=args.seed,
            metronome_turns=args.metronome, slices=args.slices,
        )
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "rows": spark.read.parquet(args.out).count()}))

    elif args.cmd == "rollup":
        from transcriptts.pipeline import RollupPipeline

        df = spark.read.parquet(args.input)
        report = RollupPipeline(spark, args.root).run(
            df, tiers=tuple(args.tiers.split(",")), incremental=args.incremental
        )
        print(json.dumps(report))

    elif args.cmd == "bench":
        print(json.dumps(time_tiers(spark.read.parquet(args.input), args.passes)))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
