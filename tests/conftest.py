import itertools
import os
import sys

import pytest
from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ticdc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ticdc-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "lake_table")


_groups = itertools.count()


def in_job_group(spark, fn) -> tuple:
    """``fn()`` run under a Spark job group of its own: (its result, the
    group id), the listener bus drained so the status store holds every
    job the group launched."""
    sc = spark.sparkContext
    group = f"test-group-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, group


def write_stage_tasks(spark, group) -> list:
    """Task count of each stage of job group ``group`` that reads a shuffle
    and writes files: for a write straight out of an exchange (the placed
    fold), the stage after that exchange."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        for s in sc.statusTracker().getJobInfo(j).stageIds:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                # a stage the status store does not hold (seen once in a
                # full-suite run); were it the write's stage, the caller's
                # task-count assertion still fails
                continue
            if sd.shuffleReadRecords() > 0 and sd.outputRecords() > 0:
                out.append(sd.numTasks())
    return out


def assert_df_equal(got, want, key_cols):
    """Order-insensitive DataFrame equality with readable diffs."""
    gcols = sorted(got.columns)
    wcols = sorted(want.columns)
    assert gcols == wcols, f"columns differ: {gcols} vs {wcols}"
    def keyf(t):
        return tuple((x is None, str(x)) for x in t)

    g = sorted([tuple(r) for r in got.select(*gcols).collect()], key=keyf)
    w = sorted([tuple(r) for r in want.select(*wcols).collect()], key=keyf)
    assert len(g) == len(w), f"row counts differ: {len(g)} vs {len(w)}\nonly-got={set(g)-set(w)}\nonly-want={set(w)-set(g)}"
    for i, (a, b) in enumerate(zip(g, w)):
        assert a == b, f"row {i} differs:\n got={a}\nwant={b}"


@pytest.fixture()
def write_plans(monkeypatch):
    """Physical plan of every DataFrame written with ``.parquet()`` while
    the test runs, in write order (rendered before the write executes)."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list = []
    orig = DataFrameWriter.parquet

    def recording(self, *a, **k):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    return plans
