from __future__ import annotations

import datetime as dt

import pytest


@pytest.fixture(scope="session")
def spark():
    from transcriptts.session import get_spark

    # the status store keeps every stage of the session: past its default
    # 1,000 it evicts SKIPPED stages first, asynchronously, even those of the
    # job a test just ran, and the stage checks in test_partitioning.py read
    # them ("No stage with id ..." about 3,000 stages into tier-1)
    s = get_spark(app_name="transcriptts-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.ui.retainedStages": "100000"})
    yield s
    s.stop()


BASE = dt.datetime(2025, 1, 1, 0, 0, 0)


def signal_df(spark, values, conv_id="s"):
    """(conv_id, turn_idx, ts, value) rows from a plain list — positional
    fixtures: ts = base + idx seconds, so index semantics match timestamps."""
    rows = [
        (conv_id, i, BASE + dt.timedelta(seconds=i), float(v)) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, value double")


@pytest.fixture
def make_signal(spark):
    def _make(values, conv_id="s"):
        return signal_df(spark, values, conv_id)

    return _make


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, action)`` runs ``action()`` under Spark job group
    ``group``; returns (jobs it issued, from the status tracker, its result)."""

    def _count(group, action):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            result = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return _count
