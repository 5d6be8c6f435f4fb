#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {maintain,analyze} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run starts one Spark
session at ``local[nproc]``, builds the workload's inputs from the seed
(several times, to time set-up), makes one untimed warm-up operation, then
runs operations back to back for ``--seconds`` seconds (and at least
``MIN_OPS``), with a fixed reference job run just before and just after
them, and checks the engine's outputs. Everything it writes stays under
``.perfbench_work/`` in the checkout and is removed at the end.

Operation times are reported against the reference job's: on a shared host
the speed of the whole machine drifts by up to a factor of two over minutes,
which moves both alike, while a change to the engine moves only the
operations. The operations' own walls are in the detail line.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer Spark counters with ``--trace 1``. The line before it holds the
run's details (corpus figures, operation and per-step walls, versions,
host load, and the spans and tracing overhead when traced). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3  # set-ups per run; setup_s takes their median
# Timed operations per untraced run, however long they take. The run-time
# budget sets it: ten seeds of both workloads, twice over, have to fit in
# under an hour on four cores, and a run's set-up alone takes 25-35 s.
MIN_OPS = 2
# A traced run makes one untimed operation after the warm-up, then four,
# traced (T) and untraced (U) as T U U T, so a linear drift over the run
# cancels in the overhead; counters are per traced operation.
TRACE_ORDER = (True, False, False, True)

END_TO_END = {
    "setup_s": "s",
    "op_per_ref_p50": "ratio",
    "stored_bytes_per_turn": "B/turn",
}

# The reference job's own SQL settings, pinned so that a change to the
# engine's session defaults does not move the reference.
REF_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the self-test's")
    return ap.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def versions(spark) -> dict:
    jvm = spark._jvm.java.lang.System
    return {
        "pyspark": spark.version,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "python": platform.python_version(),
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    # a terminated run still stops Spark and removes its files (see finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "transcriptts", "__init__.py")):
        fail(f"no transcriptts package beside {HERE}; run from a checkout of the repository")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import transcriptts from the checkout, whatever the cwd;
    # every temporary file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_TMPFS"] = "0"  # keep shuffle files out of /dev/shm
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        from transcriptts.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "3g",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        return measure(args, spark, work, nproc, session_s)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop(spark) -> None:
    """Stops Spark and waits until its JVM has exited."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a run cut short mid-call leaves the gateway unusable
        traceback.print_exc()
    if jvm is not None:  # the gateway JVM exits once its stdin closes
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def measure(args, spark, work, nproc, session_s) -> int:
    import spans as tr

    sampler = tr.RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid())).start()
    tracer = tr.Tracer(spark, args.workload)
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.size)

    attempted = failed = 0
    loads: list[tuple[float, float]] = []

    # set-up = session start + input generation and raw-store writes (made
    # SETUP_REPS times; median) + the state build + one untimed warm-up
    setup_walls = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.make_input(rep)
        setup_walls.append(time.perf_counter() - t)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(wl.path(f"setup{rep}"), ignore_errors=True)
    t = time.perf_counter()
    wl.build_state()
    state_s = time.perf_counter() - t
    t = time.perf_counter()
    warmup_checks = run_checks(wl.warmup)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + median(setup_walls) + state_s + warmup_s

    def one(i: int, traced: bool) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        tracer.enabled = traced
        before = os.getloadavg()[0]
        try:
            walls = wl.op(i)
            steps.append(walls)
            return sum(walls.values())
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            failed += 1
            traceback.print_exc()
            return None
        finally:
            tracer.enabled = False
            loads.append((round(before, 2), round(os.getloadavg()[0], 2)))

    ops: list[float] = []  # wall seconds of each untraced operation
    refs: list[float] = []  # the reference job's wall seconds before and after the operations
    steps: list[dict[str, float]] = []  # each operation's step walls
    t_end = time.perf_counter() + args.seconds
    if args.trace:
        tracer.skip_history()
        # one more untimed operation, so the first pair starts as warm as
        # the second (analyze's warm-up runs its queries on a sample only)
        one(-1, traced=False)
        steps.clear()
        walls = [one(i, traced) for i, traced in enumerate(TRACE_ORDER)]
        ops = [w for w, traced in zip(walls, TRACE_ORDER) if w is not None and not traced]
        tracer.enabled = True
        try:
            wl.trace_extras()
        finally:
            tracer.enabled = False
    else:
        ref = spark.newSession()
        for k, v in REF_CONF.items():
            ref.conf.set(k, v)
        reference_s(ref, work)  # its first run also compiles its queries
        refs.append(reference_s(ref, work))
        i = 0
        while i < MIN_OPS or time.perf_counter() < t_end:
            w = one(i, traced=False)
            if w is not None:
                ops.append(w)
            i += 1
        refs.append(reference_s(ref, work))

    t = time.perf_counter()
    check_rows = []
    for name, ok, why in warmup_checks + run_checks(wl.checks):
        attempted += 1
        failed += 0 if ok else 1
        check_rows.append({"check": name, "ok": ok, "detail": why})
        if not ok:
            print(f"perfbench: check {name} failed: {why}", file=sys.stderr)

    checks_s = time.perf_counter() - t
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "nproc": nproc,
        "ops": len(ops),
        "op_walls_s": [round(w, 4) for w in ops],
        "op_s_p50": median(ops),
        "ref_walls_s": [round(w, 4) for w in refs],
        "step_walls_s": {k: [round(w[k], 4) for w in steps] for k in wl.STEPS},
        "setup_walls_s": [round(w, 4) for w in setup_walls],
        "session_s": round(session_s, 4),
        "state_build_s": round(state_s, 4),
        "warmup_s": round(warmup_s, 4),
        "checks_s": round(checks_s, 4),
        "load1_before_after": loads,
        "corpus": wl.corpus_stats,
        "checks": check_rows,
        "versions": versions(spark),
    }
    detail.update(wl.extra_detail())
    peak_rss_mb = sampler.stop()

    if args.trace:
        spans = tracer.spans
        figs = tr.layer_figures(spans, sum(TRACE_ORDER), tracer.cores)
        metrics = {}
        for layer, fig in figs.items():
            for k, v in fig.items():
                metrics[f"{layer}.{k}"] = {"value": v, "unit": tr.unit_of(k)}
        # overhead: mean over the pairs (T, U) at positions (0, 1) and (3, 2)
        diffs = [walls[t] - walls[u] for t, u in ((0, 1), (3, 2))
                 if walls[t] is not None and walls[u] is not None]
        overhead = statistics.mean(diffs) if diffs else 0.0
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        detail["trace"] = {
            "overhead_s": overhead,
            "overhead_pair_diffs_s": [round(x, 4) for x in diffs],
            "op_walls_s_in_order": [None if w is None else round(w, 4) for w in walls],
            "pipeline_jobs_by_call_site": tr.call_sites(spans, "pipeline"),
            "spans": tracer.spans_json(),
        }
        if hasattr(wl, "recompute_exact"):
            detail["trace"]["tiers_equal_full_recompute_bit_for_bit"] = wl.recompute_exact()
    else:
        values = {
            "setup_s": setup_s,
            "op_per_ref_p50": median(ops) / statistics.mean(refs),
            "stored_bytes_per_turn": wl.stored_bytes_per_turn(),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    detail["peak_rss_mb"] = peak_rss_mb
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def reference_s(ref, work: str) -> float:
    """Wall seconds of one run of the reference job: fixed pyspark work that
    calls no transcriptts code, shaped like the operations. A partitioned
    parquet write; a filtered read through a window, a grouped pandas
    function and an aggregate, written back partitioned; a small collect.
    It runs in its own session (``ref``) on the run's Spark context."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def running_sum(pdf):
        return pdf.assign(v=pdf["v"].cumsum())

    d = os.path.join(work, "reference")
    t = time.perf_counter()
    ref.range(0, 20_000, 1, 4).select(
        (F.col("id") % 3).alias("p"), (F.col("id") % 8).alias("k"), F.col("id").alias("ts"),
        (F.col("id") * 7919 % 10007).alias("v"),
    ).write.mode("overwrite").partitionBy("p").parquet(os.path.join(d, "raw"))
    (ref.read.parquet(os.path.join(d, "raw")).where(F.col("p") < 2)
        .withColumn("dv", F.col("v") - F.lag("v").over(Window.partitionBy("k").orderBy("ts")))
        .groupBy("k").applyInPandas(running_sum, "ts long, v long, dv long, k long, p int")
        .groupBy("p", "k").agg(F.sum("v"), F.count(F.lit(1)), F.max("dv"))
        .write.mode("overwrite").partitionBy("p").parquet(os.path.join(d, "agg")))
    ref.read.parquet(os.path.join(d, "agg")).groupBy("p").count().collect()
    return time.perf_counter() - t


def run_checks(fn):
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a crashed gate is a failed gate
        traceback.print_exc()
        return [("checks", False, "raised; see stderr")]


if __name__ == "__main__":
    sys.exit(run(parse_args()))
