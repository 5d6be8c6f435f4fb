"""Spans around the engine's public calls, and the Spark counters behind them.

A span sets a Spark job group, so every job the call starts is tagged
without touching engine code. When the span closes, the harvester reads
three of Spark's own stores (all live with ``spark.ui.enabled=false``):

* the group's jobs, from ``sc.statusTracker()``, and each job's call site
  and submit/complete times from the core status store;
* per-stage figures from ``statusStore().lastStageAttempt(id)``: tasks,
  run time, CPU, shuffle, spill, GC and input/output bytes;
* operator figures from the SQL status store (``planGraph``): sort-fallback
  tasks on aggregates, Python worker init/run time and Arrow bytes in and
  out. Values come from the accumulator in the Spark driver while it is
  still alive, else from the store's formatted total.

Spans stay in memory; the run writes them out when it ends. With tracing
off, ``span`` only hands back an empty span: no job group, no harvest.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

COMMON = (
    "wall_s", "jobs", "tasks", "failed_tasks", "cpu_s", "shuffle_bytes",
    "spill_bytes", "gc_s", "slot_idle_frac",
)
PYTHON = ("py_init_s", "py_run_s", "py_bytes_in", "py_bytes_out")
PYTHON_LAYERS = ("smooth", "detect", "forecast", "compress")
EXTRA = {
    "rollup": ("shuffle_records", "sort_fallback_tasks"),
    "pipeline": ("self_s", "input_bytes", "read_amplification"),
    "store": ("output_bytes",),
    "gapfill": ("dense_rows", "fill_ratio"),
    "compress": ("points", "enc_bytes"),
    "retention": ("partitions_expired",),
}
LAYERS = (
    "store", "rollup", "pipeline", "gapfill", "compress", "retention",
    "smooth", "detect", "forecast",
)


def layer_counters(layer: str) -> tuple[str, ...]:
    return COMMON + (PYTHON if layer in PYTHON_LAYERS else ()) + EXTRA.get(layer, ())


_SQL_METRICS = {
    "number of sort fallback tasks": "sort_fallback_tasks",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000}


def _parse_total(text: str) -> float:
    """Total from a formatted SQL metric: '19,900' or 'total (...)\\n14.9 s (...)'."""
    line = text.split("\n")[-1].split(" (")[0].replace(",", "").strip()
    m = re.fullmatch(r"([0-9.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "workload", "op", "group",
                 "jobs", "counters", "extra")

    def __init__(self, name, layer, parent, workload, op, group):
        self.name, self.layer, self.parent = name, layer, parent
        self.workload, self.op, self.group = workload, op, group
        self.start = self.end = 0.0
        self.jobs: list[dict] = []
        self.counters: dict[str, float] = {}
        self.extra: dict[str, float] = {}

    def to_json(self) -> dict:
        return {
            "name": self.name, "layer": self.layer, "start": self.start, "end": self.end,
            "parent": self.parent, "workload": self.workload, "op": self.op,
            "counters": self.counters, "extra": self.extra, "jobs": self.jobs,
        }


class Tracer:
    """Opens spans; harvests Spark counters for them while ``enabled`` (off
    until the run turns it on for a traced operation)."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.cores = self.sc.defaultParallelism
        self.spans: list[Span] = []
        self._seq = 0
        self._next_exec = 0

    @contextmanager
    def span(self, name: str, layer: str, op: int):
        """A span for one public call made by operation ``op`` (its parent)."""
        s = Span(name, layer, f"{self.workload}/op{op}", self.workload, op, "")
        if not self.enabled:
            yield s
            return
        self._seq += 1
        s.group = f"perfbench-{self.workload}-{self._seq}"
        self.sc.setJobGroup(s.group, name, False)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._harvest(s)
            self.spans.append(s)

    # --- harvest ------------------------------------------------------------

    def skip_history(self) -> None:
        """Start harvesting SQL executions from the next one begun."""
        self._drain()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        while sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def _drain(self) -> None:
        # the status stores are fed by the asynchronous listener bus; wait
        # until it has delivered every event of the call just made
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _harvest(self, s: Span) -> None:
        """Fills ``s.jobs`` with one record per job: call site, wall time and
        its counters. Operator figures of a SQL execution go to its first
        job in the span; ``py`` marks jobs of executions with Python
        operators."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        by_id = {}
        for jid in sorted(tracker.getJobIdsForGroup(s.group)):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            c = dict.fromkeys(_STAGE + _SQL, 0.0)
            c["jobs"] = 1.0
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["run_ms"] += sd.executorRunTime()
                c["cpu_ns"] += sd.executorCpuTime()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_records"] += sd.shuffleWriteRecords()
                c["spill_bytes"] += sd.diskBytesSpilled()
                c["gc_ms"] += sd.jvmGcTime()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
            by_id[jid] = {
                "id": jid,
                "call_site": jd.name(),
                "wall_s": (done.get().getTime() - sub.get().getTime()) / 1000.0
                if sub.isDefined() and done.isDefined() else 0.0,
                "py": False,
                "counters": c,
            }
        self._add_sql(by_id)
        s.jobs = list(by_id.values())
        s.counters = _sum(j["counters"] for j in s.jobs)

    def _add_sql(self, by_id: dict[int, dict]) -> None:
        if not by_id:
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        acc_ctx = self.spark._jvm.org.apache.spark.util.AccumulatorContext
        # execution ids are sequential: visit only those begun since the
        # last harvest, rather than the store's whole history
        while True:
            opt = sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            self._next_exec += 1
            e = opt.get()
            mine = sorted(int(j) for j in _jiter(e.jobs().keySet()) if int(j) in by_id)
            if not mine:
                continue
            target = by_id[mine[0]]["counters"]
            vals = sql.executionMetrics(e.executionId())
            py = False
            nodes = sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                mit = nodes.next().metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    key = _SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    acc = acc_ctx.get(m.accumulatorId())
                    if acc.isDefined():
                        v = float(acc.get().value())
                    else:
                        fv = vals.get(m.accumulatorId())
                        v = _parse_total(fv.get()) if fv.isDefined() else 0.0
                    target[key] += v
                    py = py or key.startswith("py_")
            for j in mine:
                by_id[j]["py"] = by_id[j]["py"] or py

    def spans_json(self) -> list[dict]:
        return [s.to_json() for s in self.spans]


_STAGE = ("jobs", "tasks", "failed_tasks", "run_ms", "cpu_ns", "shuffle_bytes",
          "shuffle_records", "spill_bytes", "gc_ms", "input_bytes", "output_bytes")
_SQL = ("sort_fallback_tasks", "py_init_ms", "py_run_ms", "py_bytes_in", "py_bytes_out")


def _jiter(jcollection):
    it = jcollection.iterator()
    while it.hasNext():
        yield it.next()


def _sum(dicts) -> dict[str, float]:
    out: dict[str, float] = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0.0) + v
    return out


def layer_figures(spans: list[Span], n_ops: int, cores: int) -> dict[str, dict[str, float]]:
    """Per-layer figures per operation, from the spans of ``n_ops`` operations.

    A layer's unit of work is each span of that layer; the ``compress``
    layer is the Python (Gorilla encode/decode) jobs inside retention spans,
    split off by operator rather than by tracing inside the engine. Extras
    that workloads attach to spans are named ``<layer>.<counter>`` and are
    summed. A layer that ran in no span reports zeros."""
    units: dict[str, list[tuple[float, dict]]] = {layer: [] for layer in LAYERS}
    for s in spans:
        units[s.layer].append((s.end - s.start, s.counters))
        if s.layer == "retention":
            py = [j for j in s.jobs if j["py"]]
            if py:
                units["compress"].append(
                    (sum(j["wall_s"] for j in py), _sum(j["counters"] for j in py)))
    extra = _sum(s.extra for s in spans)
    out: dict[str, dict[str, float]] = {}
    for layer in LAYERS:
        wall = sum(w for w, _ in units[layer])
        tot = _sum(c for _, c in units[layer])
        fig = {
            "wall_s": wall,
            "jobs": tot.get("jobs", 0.0),
            "tasks": tot.get("tasks", 0.0),
            "failed_tasks": tot.get("failed_tasks", 0.0),
            "cpu_s": tot.get("cpu_ns", 0.0) / 1e9,
            "shuffle_bytes": tot.get("shuffle_bytes", 0.0),
            "spill_bytes": tot.get("spill_bytes", 0.0),
            "gc_s": tot.get("gc_ms", 0.0) / 1000.0,
        }
        if layer in PYTHON_LAYERS:
            fig["py_init_s"] = tot.get("py_init_ms", 0.0) / 1000.0
            fig["py_run_s"] = tot.get("py_run_ms", 0.0) / 1000.0
            fig["py_bytes_in"] = tot.get("py_bytes_in", 0.0)
            fig["py_bytes_out"] = tot.get("py_bytes_out", 0.0)
        for k in ("shuffle_records", "sort_fallback_tasks", "input_bytes"):
            if k in EXTRA.get(layer, ()):
                fig[k] = tot.get(k, 0.0)
        for k in EXTRA.get(layer, ()):
            fig.setdefault(k, extra.get(f"{layer}.{k}", 0.0))
        fig = {k: v / n_ops for k, v in fig.items()}
        fig["slot_idle_frac"] = (
            1.0 - tot.get("run_ms", 0.0) / 1000.0 / (wall * cores) if wall > 0 else 0.0)
        out[layer] = fig
    pipe = out["pipeline"]
    if units["pipeline"] and units["rollup"]:
        pipe["self_s"] = pipe["wall_s"] - out["rollup"]["wall_s"]
    new_raw = extra.get("pipeline.new_raw_bytes", 0.0)
    pipe["read_amplification"] = (
        pipe["input_bytes"] * n_ops / new_raw if new_raw else 0.0)
    dense = extra.get("gapfill.dense_rows", 0.0)
    out["gapfill"]["fill_ratio"] = extra.get("gapfill.gap_rows", 0.0) / dense if dense else 0.0
    return {layer: {k: fig[k] for k in layer_counters(layer)} for layer, fig in out.items()}


def call_sites(spans: list[Span], layer: str) -> dict[str, int]:
    """Job count per call site (file:line) over ``layer``'s spans."""
    out: dict[str, int] = {}
    for s in spans:
        if s.layer == layer:
            for j in s.jobs:
                site = j["call_site"]
                site = site.split(" at ")[0] + " at " + os.path.basename(site.split(" at ")[-1])
                out[site] = out.get(site, 0) + 1
    return dict(sorted(out.items()))


_RATIOS = ("slot_idle_frac", "fill_ratio", "read_amplification")


def unit_of(counter: str) -> str:
    if counter in _RATIOS:
        return "ratio"
    if counter.endswith("_s"):
        return "s"
    if "bytes" in counter:
        return "B"
    return "count"


class RssSampler:
    """Peak resident memory of the Spark JVM plus its Python workers.

    Reads ``/proc``: the JVM's own high-water mark, and a periodic sum over
    the JVM and every process below it (the PySpark daemon and workers)."""

    PERIOD_S = 0.25

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def sample(self) -> None:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += _status_kb(pid, "VmRSS")
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total, _status_kb(self.jvm_pid, "VmHWM"))

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
