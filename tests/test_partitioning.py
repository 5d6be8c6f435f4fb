"""The Python-stage runners: task width of every Python kernel stage, the
per-series runner's edge-case contract against `transcriptts.kernels` called
in the test process, and the per-row runner's output contract."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from transcriptts.compress import compress_series
from transcriptts.detect import detect_changepoints, detect_cusum, select_penalties
from transcriptts.forecast import forecast
from transcriptts.kernels import forecast as KF
from transcriptts.kernels import smoothing as KS
from transcriptts.kernels.cusum import cusum
from transcriptts.kernels.pelt import pelt, select_penalty
from transcriptts.partitioning import per_row, per_series, slot_width
from transcriptts.smooth import smooth

# physical operators that run Python code inside a stage
PY_OPERATORS = {"MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"}
_group_ids = itertools.count()


@pytest.fixture(params=[1, 4], ids=["shuffle=slots", "shuffle=4x_slots"])
def session(spark, request):
    """The test session (shuffle partitions == task slots), and the same
    session with shuffle partitions at 4x the slots."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param * spark.sparkContext.defaultParallelism))
    yield spark
    spark.conf.set(key, old)


def _signal(spark):
    """30 conversations of 20 turns, z-scored per conversation: the window
    already hash-partitions the input by conv_id, the case in which Catalyst
    may drop a repartition on the same key."""
    rng = np.random.default_rng(11)
    rows = [(f"c{c}", i, float(rng.normal(c % 5, 1))) for c in range(30) for i in range(20)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    w = Window.partitionBy("conv_id")
    return df.select(
        "conv_id", "turn_idx",
        ((F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w)).alias("value"),
    )


def _python_stage_tasks(spark, df) -> list[int]:
    """Task count of each stage that ran a Python operator for `df`."""
    sc = spark.sparkContext
    group = f"width-{next(_group_ids)}"
    sc.setJobGroup(group, "python stage width")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def operators(cluster):
        yield cluster.name()
        it = cluster.childClusters().iterator()
        while it.hasNext():
            yield from operators(it.next())

    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            if PY_OPERATORS & set(operators(store.operationGraphForStage(sid).rootCluster())):
                tasks.append(sd.numTasks())
    return tasks


def _assert_one_wave(spark, df):
    tasks = _python_stage_tasks(spark, df)
    assert tasks, "no Python stage ran"
    assert max(tasks) <= spark.sparkContext.defaultParallelism + 1, tasks


def _assert_explicit_exchange(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    width = slot_width(df)
    assert f", {width}), REPARTITION_BY_NUM" in plan, plan


@pytest.mark.parametrize(
    "query",
    [
        lambda s: smooth(s, "savgol", window_length=5, poly_order=2),
        lambda s: detect_changepoints(s, penalty=5.0, cost="l2", min_size=2),
        lambda s: forecast(s, 3, "holt", alpha=0.5, beta=0.1),
    ],
    ids=["smooth", "detect_changepoints", "forecast"],
)
def test_kernel_stage_runs_one_wave(session, query):
    out = query(_signal(session))
    _assert_explicit_exchange(out)
    _assert_one_wave(session, out)


def test_gorilla_encode_and_restore_run_one_wave(session, tmp_path):
    from transcriptts.pipeline import RollupPipeline
    from transcriptts.retention import archive_partitions, restore_archive
    from transcriptts.synth import synth_transcripts_arrow

    # a literal metric would be folded out of the grouping keys, and the
    # aggregate would then not reuse the explicit exchange
    points = _signal(session).select(
        "conv_id", F.concat(F.lit("m"), F.col("turn_idx") % 2).alias("metric"),
        F.timestamp_seconds(F.lit(1_735_689_600) + F.col("turn_idx") * 60).alias("bucket_start"),
        F.col("value").alias("mean"),
    )
    blobs = compress_series(points)
    _assert_explicit_exchange(blobs)
    _assert_one_wave(session, blobs)

    tbl = synth_transcripts_arrow(n_convs=20, metronome_turns=100, seed=5)
    pipe = RollupPipeline(session, str(tmp_path / "tiers"))
    pipe.run(session.createDataFrame(tbl.to_pandas()))
    dates = [r[0] for r in pipe.read_tier("1h").select(F.col("p_date").cast("string")).distinct().collect()]
    archive_partitions(pipe, "1h", dates, str(tmp_path / "cold"))
    _assert_one_wave(session, restore_archive(pipe, str(tmp_path / "cold"), "1h"))


def test_groupby_fed_per_row_runs_one_wave(session):
    """A per_row stage over an aggregate's output (the Nelder-Mead query's
    shape) runs at most one task per slot, not one per shuffle partition."""
    counts = _signal(session).groupBy("conv_id").agg(F.count("*").alias("n"))
    out = per_row(counts, ["conv_id"], ["n"], lambda n: {"twice": [2 * n]},
                  "conv_id string, twice long")
    tasks = _python_stage_tasks(session, out)
    assert tasks, "no Python stage ran"
    assert max(tasks) <= session.sparkContext.defaultParallelism, tasks


# --- runner edge cases, against the kernels called in the test process ------


def _series(spark, rows, schema="conv_id string, turn_idx int, value double"):
    return spark.createDataFrame(rows, schema)


def _by_conv(pdf, col):
    return {c: g.sort_values(g.columns[1])[col].to_numpy() for c, g in pdf.groupby("conv_id")}


def test_empty_input_gives_no_rows(spark):
    empty = _series(spark, [])
    assert smooth(empty, "sma", window_size=3).count() == 0
    assert detect_changepoints(empty, penalty=1.0).count() == 0
    assert detect_cusum(empty).count() == 0
    assert forecast(empty, 2, "ses", alpha=0.5).count() == 0
    assert select_penalties(empty).count() == 0


def test_one_turn_conversations_give_zero_rows_or_raise_when_strict(spark):
    long = [5.0, 3.0, 4.0, 8.0, 6.0]
    df = _series(spark, [("solo", 0, 1.0)] + [("long", i, v) for i, v in enumerate(long)])
    got = smooth(df, "sma", window_size=3).toPandas()
    assert set(got["conv_id"]) == {"long"}
    np.testing.assert_array_equal(_by_conv(got, "value")["long"], KS.sma(np.array(long), window_size=3))
    fc = forecast(df, 2, "holt", alpha=0.5, beta=0.5).toPandas()
    assert set(fc["conv_id"]) == {"long"}
    np.testing.assert_array_equal(_by_conv(fc, "yhat")["long"], KF.holt(np.array(long), 2, alpha=0.5, beta=0.5))
    with pytest.raises(ValueError):
        KS.sma(np.array([1.0]), window_size=3)
    for strict in (
        smooth(df, "sma", window_size=3, strict=True),
        forecast(df, 2, "holt", alpha=0.5, beta=0.5, strict=True),
    ):
        with pytest.raises(Exception, match="ValueError"):
            strict.collect()


def test_null_values_become_nan(spark):
    vals = [1.0, None, 3.0, 4.0, None, 6.0]
    df = _series(spark, [("a", i, v) for i, v in enumerate(vals)])
    x = np.array(vals, dtype=float)
    got = _by_conv(smooth(df, "ema", alpha=0.5).toPandas(), "value")["a"]
    np.testing.assert_array_equal(got, KS.ema(x, alpha=0.5))
    cps = detect_cusum(df, threshold_factor=1.0).toPandas()
    assert sorted(cps["changepoint_idx"]) == sorted(cusum(x, 0.0, 1.0, 0.0, 1.0))


def test_duplicate_order_values_sort_by_value(spark):
    rows = [("a", 0, 5.0), ("a", 1, 9.0), ("a", 1, 2.0), ("a", 2, 7.0), ("a", 1, 4.0)]
    expected = KS.ema(np.array([5.0, 2.0, 4.0, 9.0, 7.0]), alpha=0.5)
    for perm in (rows, rows[::-1], rows[2:] + rows[:2]):
        got = _by_conv(smooth(_series(spark, perm), "ema", alpha=0.5).toPandas(), "value")["a"]
        np.testing.assert_array_equal(got, expected)


def test_multivariate_and_binomial_matrix(spark):
    rng = np.random.default_rng(2)
    a = np.r_[rng.normal(0, 1, 15), rng.normal(4, 1, 15)]
    b = np.r_[rng.normal(0, 1, 20), rng.normal(-3, 1, 10)]
    df = spark.createDataFrame(
        [("m", i, float(a[i]), float(b[i])) for i in range(30)][::-1],
        "conv_id string, turn_idx int, a double, b double",
    )
    got = detect_changepoints(df, penalty=5.0, cost="l2", min_size=2, value_cols=["a", "b"]).toPandas()
    expected = pelt(np.vstack([a, b]), penalty=5.0, cost="l2", min_size=2)
    assert sorted(got["breakpoint_idx"]) == list(expected)
    assert len(expected) > 0

    trials = np.array([1.0 + i % 3 for i in range(30)])
    succ = np.where(np.arange(30) >= 15, trials, 0.0)
    bdf = spark.createDataFrame(
        [("m", i, float(succ[i]), float(trials[i])) for i in range(30)],
        "conv_id string, turn_idx int, successes double, trials double",
    )
    got = per_series(
        bdf, ["conv_id"], "turn_idx", ["successes", "trials"],
        lambda _, mat: {"breakpoint_idx": pelt(mat, penalty=1.0, cost="binomial", min_size=3)},
        "conv_id string, breakpoint_idx long",
    ).toPandas()
    expected = pelt(np.vstack([succ, trials]), penalty=1.0, cost="binomial", min_size=3)
    assert sorted(got["breakpoint_idx"]) == list(expected)
    assert len(expected) > 0


def test_select_penalties_failure_rows_stay_null(spark):
    ok = [float(v) for v in np.arange(12) ** 1.5]
    df = _series(spark, [("short", i, float(i)) for i in range(3)] + [("ok", i, v) for i, v in enumerate(ok)])
    with pytest.raises(RuntimeError):
        select_penalty(np.arange(3.0), cost="gaussian", method="aicc", min_size=2, num_steps=5)
    rows = {r["conv_id"]: r for r in select_penalties(df, method="aicc", min_size=2, num_steps=5).collect()}
    assert set(rows) == {"short", "ok"}
    short = rows["short"]
    assert (short["selected_penalty"], short["n_breakpoints"], short["breakpoints"]) == (None, None, None)
    res = select_penalty(np.array(ok), cost="gaussian", method="aicc", min_size=2, num_steps=5)
    assert rows["ok"]["selected_penalty"] == res.selected_penalty
    assert rows["ok"]["n_breakpoints"] == len(res.breakpoints)
    assert list(rows["ok"]["breakpoints"]) == list(res.breakpoints)



# --- per_row output contract ---------------------------------------------------


def _rows(spark):
    return spark.createDataFrame(
        [("a", 0), ("b", 2), ("c", 3)], "conv_id string, n int"
    )


def test_per_row_none_gives_no_rows_and_repeats_keys(spark):
    got = per_row(
        _rows(spark), ["conv_id"], ["n"],
        lambda n: None if n == 0 else {"i": np.arange(n), "x": np.full(n, n / 2)},
        "conv_id string, i long, x double",
    ).collect()
    assert sorted(tuple(r) for r in got) == [
        ("b", 0, 1.0), ("b", 1, 1.0), ("c", 0, 1.5), ("c", 1, 1.5), ("c", 2, 1.5),
    ]


def test_per_row_array_column_keeps_one_element_per_row(spark):
    got = per_row(
        _rows(spark), ["conv_id"], ["n"],
        lambda n: {"v": [[float(n)] * n], "k": [n]},
        "conv_id string, v array<float>, k long",
    ).collect()
    assert {r["conv_id"]: (list(r["v"]), r["k"]) for r in got} == {
        "a": ([], 0), "b": ([2.0, 2.0], 2), "c": ([3.0, 3.0, 3.0], 3),
    }


def test_per_row_empty_input_gives_empty_typed_result(spark):
    out = per_row(
        _rows(spark).where("n < 0"), ["conv_id"], ["n"], lambda n: {"x": [1.0]},
        "conv_id string, x double",
    )
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<conv_id:string,x:double>"


def test_per_row_raising_fn_fails_the_job(spark):
    def boom(n):
        raise ValueError(f"bad row {n}")

    with pytest.raises(Exception, match="ValueError: bad row"):
        per_row(_rows(spark), ["conv_id"], ["n"], boom, "conv_id string, x double").collect()
