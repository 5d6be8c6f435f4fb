#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py [--repeat]

Run from the root of a checkout. For every workload it makes one untraced
and one traced tiny run and checks that

* every end-to-end and per-layer metric named in BENCHMARK.json is reported
  with its unit, no operation fails and the result is marked correct;
* the counters that must be non-zero are: ``rollup.shuffle_bytes`` and
  ``smooth.py_run_s``, and ``rollup.sort_fallback_tasks`` is reported;
* ``pipeline.jobs`` per maintenance cycle equals a pinned count, so a change
  to the number of Spark jobs an incremental run issues shows here.

With ``--repeat`` it makes a second traced run per workload on the same seed
and lists every count-type counter that differs, with both values.

Last, it runs the benchmark in a directory that holds only BENCHMARK.json
and the benchmark's files, where it must fail without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark jobs of one incremental RollupPipeline.run over a tiny day (1m/1h/1d
# tiers, no fingerprint): the fingerprint scan, per tier the write and its
# lineage re-read, the seed-state write, and AQE's shuffle-stage jobs.
PINNED_PIPELINE_JOBS = 36.0

COUNTS = ("jobs", "tasks", "failed_tasks", "shuffle_records", "sort_fallback_tasks",
          "dense_rows", "points", "enc_bytes", "partitions_expired")
MUST_BE_POSITIVE = {"maintain": ("rollup.shuffle_bytes",), "analyze": ("smooth.py_run_s",)}


def bench(cwd: str, workload: str, trace: int, seed: int = 7) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
    try:
        result = json.loads(last[0]) if last else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repeat", action="store_true",
                    help="repeat each traced run and compare count-type counters")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, res = bench(ROOT, w, trace)
            expect(rc == 0 and res is not None, f"{w} trace={trace}: exits 0 with a result")
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct, {res['attempted']} attempted, "
                   f"{res['failed']} failed")
            m = res["metrics"]
            for spec_m in names:
                got = m.get(spec_m["name"])
                expect(got is not None and got["unit"] == spec_m["unit"],
                       f"{w} trace={trace}: {spec_m['name']} reported in {spec_m['unit']}")
            if trace:
                for name in MUST_BE_POSITIVE[w]:
                    expect(m.get(name, {}).get("value", 0) > 0, f"{w}: {name} > 0")
                if w == "maintain":
                    expect("rollup.sort_fallback_tasks" in m, f"{w}: rollup.sort_fallback_tasks reported")
                    jobs = m.get("pipeline.jobs", {}).get("value")
                    expect(jobs == PINNED_PIPELINE_JOBS,
                           f"{w}: pipeline.jobs {jobs} == pinned {PINNED_PIPELINE_JOBS}")
                if args.repeat:
                    _, again = bench(ROOT, w, 1)
                    diff = {
                        k: (v["value"], again["metrics"][k]["value"])
                        for k, v in m.items()
                        if k.split(".", 1)[1] in COUNTS and again
                        and again["metrics"][k]["value"] != v["value"]
                    } if again else {"second run": "no result"}
                    expect(not diff, f"{w}: count-type counters repeat on one seed {diff}")

    # a directory with only BENCHMARK.json and the benchmark must fail cleanly
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = bench(bare, spec["workloads"][0]["name"], 0)
        expect(rc != 0 and res is None, "without the program: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        parent = os.path.dirname(bare)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
