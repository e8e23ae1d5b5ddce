"""The span executor serves every feed shape: a single-table feed and a
multi-table feed of one table run the same span pipeline, so on the same
WAL they must agree on state, syncpoints and lineage (equivalence under
bag semantics, SPES, ICDE 2022). Also guards the benchmark's traced mode:
every engine call it wraps still exists and every Spark job an engine run
launches is labeled."""

import time

from pyspark.sql import functions as F

from tests.conftest import assert_df_equal
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import (
    BinlogSpec,
    DDLSpec,
    gen_binlog,
    gen_ddl_log,
    gen_resolved_log,
)
from ticdc_spark.streaming.multi import MultiTableChangefeed
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

KEY = ["conv_id", "turn_idx"]


def test_fleet_of_one_matches_single_table_feed(spark, tmp_path):
    """Bootstrap span, then a delta span, then an add-column barrier: a
    one-table MultiTableChangefeed and a Changefeed on the same MOR WAL end
    in the same state with the same syncpoint sequence and the same
    (resolved_ts, partition_id, event_count) lineage."""
    spec = BinlogSpec(n_events=6_000, n_convs=100, seed=91, block=1_000,
                      ddls=(DDLSpec(commit_ts=6_000, ddl_type="add_column",
                                    column="tool_args"),))
    binlog = gen_binlog(spark, spec)
    wal = binlog.withColumn("table_name", F.lit("t"))
    ddl = gen_ddl_log(spark, spec).collect()
    resolved = gen_resolved_log(spark, spec)
    cfg = ChangefeedConfig(changefeed_id="one", n_buckets=4)
    single = LakeTable(spark, f"{tmp_path}/single")
    # phases end at 3000 (bootstrap span of two windows on empty tables),
    # 5000 (delta span of two windows) and the end (the barrier window
    # (5000, 6000], then the post-DDL window)
    for upto in (3_000, 5_000, spec.max_commit_ts):
        res = resolved.filter(F.col("resolved_ts") <= upto)
        Changefeed(spark, binlog, res, ddl, single, cfg).run()
        fleet = MultiTableChangefeed(
            spark, wal, res, ddl,
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/fleet_{t}"),
            config=cfg, tables=["t"])
        fleet.run()
    one = fleet.feeds["t"].target
    assert "tool_args" in single.read().columns
    assert_df_equal(one.read(), single.read(), KEY)
    assert ([rts for rts, _ in one.syncpoints()]
            == [rts for rts, _ in single.syncpoints()])

    def lineage(t):
        return sorted(
            (r["resolved_ts"], r["partition_id"], r["event_count"])
            for r in t.lineage_df().collect())

    assert lineage(one) == lineage(single)
    assert single.checkpoint["resolved_ts"] == spec.max_commit_ts


def test_traced_engine_runs_label_every_job(spark, tmp_path):
    """The benchmark's traced mode wraps engine callables by name and
    labels their Spark jobs. A renamed seam would silently drop a layer and
    an unlabeled job would escape attribution, so both fail here."""
    from perfbench.spans import Tracer, _wrap_targets, attribute, read_jobs

    for owner, attr, _ in _wrap_targets():
        assert attr in owner.__dict__, f"{owner.__name__}.{attr} is gone"

    spec = BinlogSpec(n_events=2_000, n_convs=40, seed=92, block=500)
    binlog = gen_binlog(spark, spec)
    resolved = gen_resolved_log(spark, spec)
    wal = binlog.withColumn("table_name", F.lit("a")).unionByName(
        gen_binlog(spark, BinlogSpec(n_events=2_000, n_convs=40, seed=93, block=500))
        .withColumn("table_name", F.lit("b")))
    cfg = ChangefeedConfig(changefeed_id="traced", n_buckets=2)
    single = Changefeed(spark, binlog, resolved, None,
                        LakeTable(spark, f"{tmp_path}/single"), cfg)
    fleet = MultiTableChangefeed(
        spark, wal, resolved, None,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/fleet_{t}"),
        config=cfg, tables=["a", "b"])

    tracer = Tracer(spark)
    lo = time.time()
    tracer.install()
    try:
        single.run()
        # a bootstrap span, then a delta span through the feed journal
        fleet.run(max_merges_per_table=2)
        fleet.run()
    finally:
        tracer.uninstall()
        hi = time.time()
    names = {s["name"] for s in tracer.spans}
    assert {"sources.frontier", "sinks.journal.fold", "sinks.lake.commit"} <= names
    att = attribute(tracer.spans, read_jobs(spark), lo, hi)
    assert not att["unlabeled"], [j["description"] for j in att["unlabeled"]]
