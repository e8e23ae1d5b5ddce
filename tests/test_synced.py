"""W7 synced detection + K8 syncpoints."""

from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig


def test_synced_and_syncpoints(spark, tmp_table_path):
    spec = BinlogSpec(n_events=3_000, n_convs=80)
    cf = Changefeed(
        spark, gen_binlog(spark, spec), gen_resolved_log(spark, spec), None,
        LakeTable(spark, tmp_table_path), ChangefeedConfig(changefeed_id="sy"),
    )
    cf.ensure_target()
    assert not cf.is_synced()
    cf.run(max_merges=1)
    assert not cf.is_synced()
    cf.run()
    assert cf.is_synced()
    sp = cf.syncpoints()
    assert [s["primary_ts"] for s in sp] == [2000, 3000, 4000]


def test_synced_paths_agree_on_missing_partition(spark, tmp_table_path):
    """A partition that never reported holds the frontier at 0 on both
    paths: the frontier run() cached and a fresh read of the log."""
    spec = BinlogSpec(n_events=3_000, n_convs=80, n_partitions=4)
    cf = Changefeed(
        spark, gen_binlog(spark, spec),
        gen_resolved_log(spark, spec).filter("partition_id != 3"), None,
        LakeTable(spark, tmp_table_path),
        ChangefeedConfig(changefeed_id="sy-hole", expected_partitions=4),
    )
    assert cf.run()["merges"] == 0
    cached = cf.is_synced()
    assert cf.is_synced(use_cached_frontier=False) == cached
