"""One resolved-log scan per tick.

``frontier_steps`` derives the partition set, the global frontier and the
frontier steps from one ``groupBy("partition_id")`` aggregate. The
property test holds it equal to the plain three-pass form it replaced
(kept below as the reference); the job-count guards make a fallback to
more passes fail loudly.
"""

import itertools

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
from ticdc_spark.sources.frontier import frontier_steps, global_frontier
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

RESOLVED_SCHEMA = "partition_id int, resolved_ts long"

_groups = itertools.count()


def _reference(resolved_log, low, high, expected_partitions):
    """The three-pass form: partition discovery, the two-level
    global-frontier aggregate, and the distinct/ordered steps."""
    partitions = sorted(
        int(r[0]) for r in resolved_log.select("partition_id").distinct().collect()
    )
    row = (
        resolved_log.groupBy("partition_id").agg(F.max("resolved_ts").alias("resolved_ts"))
        .agg(F.min("resolved_ts").alias("frontier"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    if row["n"] == 0 or (expected_partitions is not None and row["n"] < expected_partitions):
        gf = 0
    else:
        gf = int(row["frontier"])
    cap = gf if high is None else min(high, gf)
    steps = [
        int(r[0]) for r in resolved_log.select("resolved_ts")
        .filter((F.col("resolved_ts") > low) & (F.col("resolved_ts") <= cap))
        .distinct().orderBy("resolved_ts").collect()
    ]
    return steps, partitions, gf


@st.composite
def _resolved_logs(draw):
    """(rows, low, high, expected_partitions): 0-6 partitions, each with
    monotone markers from a small value range so partitions share steps."""
    pids = draw(st.lists(st.integers(0, 9), max_size=6, unique=True))
    rows = []
    for pid in pids:
        incs = draw(st.lists(st.integers(0, 3), min_size=1, max_size=5))
        rows += [(pid, ts) for ts in itertools.accumulate(incs)]
    low = draw(st.integers(0, 16))
    high = draw(st.none() | st.integers(0, 16))
    expected = draw(st.none() | st.integers(0, 7))
    return rows, low, high, expected


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_resolved_logs())
@example(([], 0, None, None))
@example(([], 0, 5, 2))
@example(([(0, 3), (0, 7), (2, 5)], 4, None, 3))  # a partition missing
@example(([(0, 3), (0, 7), (2, 5)], 5, None, None))  # partition 2 has nothing above low
def test_one_scan_matches_three_pass_reference(spark, case):
    rows, low, high, expected = case
    log = spark.createDataFrame(rows, RESOLVED_SCHEMA)
    got = frontier_steps(log, low=low, high=high, expected_partitions=expected)
    steps, partitions, gf = _reference(log, low, high, expected)
    assert list(got) == steps
    assert got.partitions == partitions
    assert got.frontier == gf
    assert global_frontier(log, expected) == gf


def _jobs_in_group(spark, fn) -> tuple:
    """``fn()`` and the Spark jobs it launched, counted under a job group
    of its own."""
    sc = spark.sparkContext
    group = f"frontier-scan-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _live_resolved_log(spark, spec):
    """A resolved log as a live feed builds it: ``createDataFrame`` rows."""
    rows = [(r["partition_id"], r["resolved_ts"]) for r in gen_resolved_log(spark, spec).collect()]
    return spark.createDataFrame(rows, RESOLVED_SCHEMA)


def test_frontier_steps_is_one_aggregate(spark):
    spec = BinlogSpec(n_events=3_000, block=1_000, n_partitions=4)
    log = _live_resolved_log(spark, spec)
    steps, n = _jobs_in_group(spark, lambda: frontier_steps(log, low=spec.base_ts))
    assert steps == [2000, 3000, 4000]
    assert n <= 2, f"frontier_steps launched {n} Spark jobs"


def test_idle_run_is_one_aggregate(spark, tmp_table_path):
    """A run() with nothing new to apply costs only the frontier scan."""
    spec = BinlogSpec(n_events=3_000, block=1_000, n_partitions=4)
    cf = Changefeed(
        spark, gen_binlog(spark, spec), _live_resolved_log(spark, spec), None,
        LakeTable(spark, tmp_table_path), ChangefeedConfig(changefeed_id="idle"),
    )
    cf.run()
    res, n = _jobs_in_group(spark, cf.run)
    assert res["merges"] == 0
    assert cf.is_synced()
    assert n <= 2, f"an idle run() launched {n} Spark jobs"
