"""The benchmark workloads. Each drives the engine only through its public
functions, one call after another (a closed loop with one caller).

``maintain``  one operation = one daily cycle: append a day with
              ``write_raw_turns(mode="append")``, an incremental
              ``RollupPipeline.run`` without a fingerprint (as the CLI runs
              it), then ``apply_retention`` with a 1m keep window and an
              archive root, which Gorilla-packs and expires one day of 1m
              partitions.
``analyze``   one operation = one pass of five reads over the 1m tier,
              per-turn signal and cold archive built at set-up:
              ``gapfill`` on the 1m ``token_count`` tier (both modes),
              ``smooth(kind="savgol")``, ``detect_changepoints(cost="l2")``,
              ``forecast(method="holt")`` and ``restore_archive`` of the 1m
              cold tier, each materialised into a noop sink.

An operation is a sequence of named steps; ``op`` returns each step's wall
seconds. Making the day's input and copying partitions kept for the
correctness gates run outside the timed steps. Traced and untraced
operations run the same engine calls; the traced run's extra queries (the
rollup-only pass, the gap-fill row counts) run in ``trace_extras`` after the
timed operations.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from corpus import METRONOME_ID, Corpus, day_label, stats

TIERS = ("1m", "1h", "1d")

DAYS = 3  # set-up days from 2025-01-01
KEEP_DAYS = 2  # days of 1m partitions retention keeps

# Corpus sizes: "full" is what the benchmark measures, "tiny" the self-test's.
SIZES = {
    "maintain": {
        "full": {"convs_per_day": 60, "metronome_period_s": 60},
        "tiny": {"convs_per_day": 40, "metronome_period_s": 900},
    },
    "analyze": {
        "full": {"convs_per_day": 80, "metronome_period_s": 60},
        "tiny": {"convs_per_day": 40, "metronome_period_s": 900},
    },
}

SAVGOL = {"window_length": 7, "poly_order": 2}
PELT = {"penalty": 400.0, "cost": "l2", "min_size": 2}
HOLT = {"alpha": 0.5, "beta": 0.1}
HORIZON = 5


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )


def write_input(tbl, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl.drop(["_hot"]), os.path.join(path, "part-0.parquet"))
    return path


def copy_expiring(tier_dir: str, cutoff: str, dst_root: str) -> None:
    """Copy the p_date partitions older than ``cutoff`` that retention will
    expire, so the restored archive can be compared with them bit for bit."""
    for name in sorted(os.listdir(tier_dir)):
        if name.startswith("p_date=") and name[len("p_date="):] < cutoff:
            dst = os.path.join(dst_root, name)
            if not os.path.exists(dst):
                shutil.copytree(os.path.join(tier_dir, name), dst)


class Workload:
    name = ""
    STEPS: tuple[str, ...] = ()

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.p = SIZES[self.name][size]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def make_input(self, rep: int) -> None:
        """Generates the seed's corpus and writes it through the engine's raw
        store, under a fresh directory. Set-up repeats this and keeps the
        last one."""
        from transcriptts.store import write_raw_turns

        self.base = self.path(f"setup{rep}")
        self.gen = Corpus(self.seed, self.p["convs_per_day"], self.p["metronome_period_s"])
        self.table = self.gen.days(0, DAYS)
        self.corpus_stats = stats(self.table)
        self.turns_in = self.table.num_rows
        self.input = write_input(self.table, os.path.join(self.base, "input", "setup"))
        self.raw = os.path.join(self.base, "raw")
        write_raw_turns(self.read(self.input), self.raw)

    def build_pipeline(self, tiers: tuple[str, ...]) -> None:
        """Tiers over the set-up days (a full ``RollupPipeline.run``)."""
        from transcriptts.pipeline import RollupPipeline

        self.pipe = RollupPipeline(self.spark, os.path.join(self.base, "tiers"))
        self.archive = os.path.join(self.base, "archive")
        self.expired_copy = os.path.join(self.base, "expired")
        t0 = time.perf_counter()
        self.pipe.run(self.read(self.raw), tiers=tiers)
        self.backfill_s = time.perf_counter() - t0

    def retain(self, now_day: int) -> dict:
        """Retention with archiving as of ``now_day``, first keeping copies of
        the 1m partitions it will expire. Returns the retention report."""
        from transcriptts.retention import apply_retention

        copy_expiring(os.path.join(self.pipe.root, "tier=1m"),
                      day_label(now_day - KEEP_DAYS), self.expired_copy)
        return apply_retention(self.pipe, {"1m": KEEP_DAYS}, now=day_label(now_day),
                               archive_root=self.archive)

    def build_state(self) -> None:
        """Builds what the operations read or maintain (once per run)."""
        raise NotImplementedError

    def warmup(self) -> list[tuple[str, bool, str]]:
        """Untimed first use of the operations' calls; returns any checks it made."""
        raise NotImplementedError

    def op(self, i: int) -> dict[str, float]:
        """Runs operation ``i``; returns each timed step's wall seconds."""
        raise NotImplementedError

    def trace_extras(self) -> None:
        """Traced runs only, after the timed operations: the extra queries
        whose figures go onto the traced operations' spans."""

    def checks(self) -> list[tuple[str, bool, str]]:
        """Correctness gates on the state the operations left."""
        raise NotImplementedError

    def stored_bytes_per_turn(self) -> float:
        return (dir_bytes(self.pipe.root) + dir_bytes(self.archive)) / self.turns_in

    def extra_detail(self) -> dict:
        return {}


class Maintain(Workload):
    name = "maintain"
    STEPS = ("append", "run", "retention")

    def build_state(self) -> None:
        self.build_pipeline(TIERS)
        self.day = DAYS
        self.cycle_turns: list[int] = []
        self.cold = {"points": 0, "enc_bytes": 0}
        self.traced_days: list[tuple[int, int]] = []

    def warmup(self):
        """One untimed daily cycle: the state build ran only the full,
        non-incremental pipeline, and retention had not yet run."""
        self.op(-1)
        return []

    def op(self, i: int) -> dict[str, float]:
        from transcriptts.store import write_raw_turns

        d = self.day
        day_tbl = self.gen.day(d)
        day_input = write_input(day_tbl, os.path.join(self.base, "input", f"day{d}"))
        t0 = time.perf_counter()
        with self.tracer.span("write_raw_turns:append", "store", i) as s_store:
            write_raw_turns(self.read(day_input), self.raw, mode="append")
        t1 = time.perf_counter()
        with self.tracer.span("RollupPipeline.run:incremental", "pipeline", i) as s_pipe:
            self.pipe.run(self.read(self.raw), incremental=True)
        t2 = time.perf_counter()
        with self.tracer.span("apply_retention:archive", "retention", i) as s_ret:
            rep = self.retain(d + 1)
        t3 = time.perf_counter()
        self.day += 1
        self.turns_in += day_tbl.num_rows
        arch = rep["archived"].get("1m") or {}
        if i >= 0:
            self.cycle_turns.append(day_tbl.num_rows)
            self.cold["points"] += arch.get("points") or 0
            self.cold["enc_bytes"] += arch.get("enc_bytes") or 0
        if self.tracer.enabled:
            out_bytes = s_store.counters.get("output_bytes", 0.0)
            s_store.extra["store.output_bytes"] = out_bytes
            s_pipe.extra["pipeline.new_raw_bytes"] = out_bytes
            s_ret.extra["compress.points"] = arch.get("points") or 0
            s_ret.extra["compress.enc_bytes"] = arch.get("enc_bytes") or 0
            s_ret.extra["retention.partitions_expired"] = len(rep["expired"].get("1m", []))
            self.traced_days.append((i, d))
        return {"append": t1 - t0, "run": t2 - t1, "retention": t3 - t2}

    def trace_extras(self) -> None:
        """The rollup layer alone, for each traced cycle: ``rollup_tiers`` over
        the rows that cycle's incremental run rolled up (from the day before
        the appended one through the appended day), into a noop sink."""
        from transcriptts.rollup import rollup_tiers

        for i, d in self.traced_days:
            ts = F.col("ts")
            rows = self.read(self.raw).where(
                (ts >= F.to_timestamp(F.lit(day_label(d - 1))))
                & (ts < F.to_timestamp(F.lit(day_label(d + 1)))))
            with self.tracer.span("rollup_tiers:noop", "rollup", i):
                for df in rollup_tiers(rows).values():
                    noop(df)

    def checks(self):
        from transcriptts.retention import restore_archive

        inputs = os.path.join(self.base, "input", "*", "*.parquet")
        kept_from = day_label(self.day - KEEP_DAYS)
        out = [
            (f"tier_{t}_vs_duckdb", *checks.tier_vs_duckdb(
                os.path.join(self.pipe.root, f"tier={t}"), inputs, t,
                since=kept_from if t == "1m" else None))
            for t in TIERS
        ]
        out.append(("archive_bit_exact", *checks.archive_bit_exact(
            restore_archive(self.pipe, self.archive, "1m"), self.read(self.expired_copy))))
        return out

    def recompute_exact(self) -> dict[str, bool]:
        """Whether each maintained tier equals a full recompute bit for bit
        (``content_hash``). Reported, not gated: incremental sums can differ
        from a full recompute in the last bit (see README)."""
        from transcriptts.pipeline import RollupPipeline
        from transcriptts.retention import apply_retention

        ref = RollupPipeline(self.spark, os.path.join(self.base, "recompute"))
        ref.run(self.read(self.raw))
        apply_retention(ref, {"1m": KEEP_DAYS}, now=day_label(self.day))
        return {t: self.pipe.content_hash(t) == ref.content_hash(t) for t in TIERS}

    def extra_detail(self) -> dict:
        pts = self.cold["points"]
        return {
            "cycle_turns": self.cycle_turns,
            "backfill_run_s": self.backfill_s,
            "backfill_turns_per_s": self.corpus_stats["turns"] / self.backfill_s,
            "cold_bytes_per_point": self.cold["enc_bytes"] / pts if pts else 0.0,
        }


class Analyze(Workload):
    name = "analyze"
    STEPS = ("gapfill", "smooth", "changepoint", "forecast", "cold_read")
    LAYER = {"gapfill": "gapfill", "smooth": "smooth", "changepoint": "detect",
             "forecast": "forecast", "cold_read": "retention"}

    def build_state(self) -> None:
        from transcriptts.rollup import with_derived_metrics

        self.build_pipeline(("1m",))
        self.cold = self.retain(DAYS)["archived"]["1m"]
        self.signal = os.path.join(self.base, "signal")
        with_derived_metrics(self.read(self.raw)).select(
            "conv_id", "turn_idx", "token_count"
        ).write.parquet(self.signal)
        self.sample = self._sample(self.table)

    def _sample(self, tbl) -> list[str]:
        """The metronome, up to three hot and six ordinary conversations."""
        conv = tbl.column("conv_id").to_numpy(zero_copy_only=False)
        hot = tbl.column("_hot").to_numpy(zero_copy_only=False)
        rng = np.random.default_rng([self.seed, 7])
        hot_ids = np.unique(conv[hot])
        plain_ids = np.setdiff1d(np.unique(conv[~hot]), [METRONOME_ID])
        pick = [METRONOME_ID]
        pick += list(rng.choice(hot_ids, size=min(3, len(hot_ids)), replace=False))
        pick += list(rng.choice(plain_ids, size=min(6, len(plain_ids)), replace=False))
        return [str(c) for c in pick]

    def query(self, q: str, only=None):
        """Query ``q`` over all conversations, or over those in ``only``."""
        from transcriptts.detect import detect_changepoints
        from transcriptts.forecast import forecast
        from transcriptts.gapfill import gapfill
        from transcriptts.retention import restore_archive
        from transcriptts.smooth import smooth

        if q == "cold_read":
            return restore_archive(self.pipe, self.archive, "1m")
        keep = F.col("conv_id").isin(only) if only else F.lit(True)
        if q == "gapfill":
            tier = self.pipe.read_tier("1m").where((F.col("metric") == "token_count") & keep)
            return gapfill(tier, "1m", ("mean",), mode="both")
        sig = self.read(self.signal).where(keep)
        if q == "smooth":
            return smooth(sig, kind="savgol", value_col="token_count", **SAVGOL)
        if q == "changepoint":
            return detect_changepoints(sig, value_col="token_count", **PELT)
        return forecast(sig, HORIZON, method="holt", value_col="token_count", **HOLT)

    def warmup(self):
        """Runs every query once over the sampled conversations, untimed, and
        checks the results: analyze's correctness gates are its warm-up. The
        restore is checked in full."""
        from transcriptts.gapfill import gapfill_pandas
        from transcriptts.kernels import forecast as KF
        from transcriptts.kernels import pelt as KP
        from transcriptts.kernels import smoothing as KS

        def got(q):
            return self.query(q, self.sample).toPandas()

        series = checks.sample_series(os.path.join(self.input, "part-0.parquet"), self.sample)
        tier = self.pipe.read_tier("1m").where(
            (F.col("metric") == "token_count") & F.col("conv_id").isin(self.sample))
        golden = gapfill_pandas(tier, "1m", ("mean",)).toPandas()
        return [
            ("gapfill_vs_pandas", *checks.gapfill_matches(got("gapfill"), golden)),
            ("savgol_vs_kernel", *checks.kernel_matches(
                got("smooth"), series, lambda x: KS.savgol(x, **SAVGOL), "pos", "value")),
            ("pelt_vs_kernel", *checks.kernel_matches(
                got("changepoint"), series, lambda x: KP.pelt(x, **PELT),
                "breakpoint_idx", "breakpoint_idx")),
            ("holt_vs_kernel", *checks.kernel_matches(
                got("forecast"), series, lambda x: KF.holt(x, HORIZON, **HOLT), "h", "yhat")),
            ("archive_bit_exact", *checks.archive_bit_exact(
                self.query("cold_read"), self.read(self.expired_copy))),
        ]

    def op(self, i: int) -> dict[str, float]:
        walls = {}
        for q in self.STEPS:
            df = self.query(q)
            t0 = time.perf_counter()
            with self.tracer.span(q, self.LAYER[q], i) as s:
                noop(df)
            walls[q] = time.perf_counter() - t0
            if self.tracer.enabled and q == "cold_read":
                s.extra["compress.points"] = self.cold["points"]
                s.extra["compress.enc_bytes"] = self.cold["enc_bytes"]
        return walls

    def trace_extras(self) -> None:
        """Dense and gap rows of the gap-fill query, counted once by a
        separate untraced query (every pass reads the same tier) and put on
        each traced gap-fill span."""
        row = self.query("gapfill").agg(
            F.count(F.lit(1)).alias("dense"), F.sum(F.col("is_gap").cast("long")).alias("gap")
        ).first()
        for s in self.tracer.spans:
            if s.layer == "gapfill":
                s.extra["gapfill.dense_rows"] = row["dense"]
                s.extra["gapfill.gap_rows"] = row["gap"]

    def checks(self):
        return []


WORKLOADS = {w.name: w for w in (Maintain, Analyze)}
