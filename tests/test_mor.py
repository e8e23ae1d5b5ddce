"""Merge-on-read sink mode: delta appends + read-time LWW + compaction."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal, in_job_group, write_stage_tasks
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, DDLSpec, gen_binlog, gen_ddl_log, gen_resolved_log
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig, expected_final_state

KEY = ["conv_id", "turn_idx"]
META = ["_commit_ts", "_start_ts", "_op_rank", "_deleted"]


def _run(spark, spec, path, cfg, max_merges=None):
    cf = Changefeed(
        spark, gen_binlog(spark, spec), gen_resolved_log(spark, spec),
        gen_ddl_log(spark, spec) if spec.ddls else None,
        LakeTable(spark, path), cfg,
    )
    stats = cf.run(max_merges=max_merges)
    return cf, stats


def _check(spark, spec, cf):
    want = expected_final_state(gen_binlog(spark, spec), cf.registry, spec.max_commit_ts, KEY)
    got = cf.target.read().drop(*META)
    assert_df_equal(got, want, KEY)


def test_mor_matches_cow_and_oracle(spark, tmp_path):
    spec = BinlogSpec(n_events=8_000, n_convs=200)
    # bootstrap off: this test exercises the DELTA machinery specifically
    mor_cfg = ChangefeedConfig(changefeed_id="mor", sink_mode="mor", compact_every=100,
                               bootstrap_fast_path=False)
    cf_mor, s_mor = _run(spark, spec, str(tmp_path / "mor"), mor_cfg)
    assert s_mor["events"] == spec.n_events
    _check(spark, spec, cf_mor)
    # deltas present (no compaction happened)
    assert cf_mor.target.delta_depth() == spec.n_blocks


def test_mor_compaction_preserves_state(spark, tmp_path):
    spec = BinlogSpec(n_events=6_000, n_convs=150)
    cfg = ChangefeedConfig(changefeed_id="morc", sink_mode="mor", compact_every=3)
    cf, _ = _run(spark, spec, str(tmp_path / "t"), cfg)
    assert cf.target.delta_depth() < 3  # compaction ran
    _check(spark, spec, cf)
    # compaction dropped tombstones
    assert cf.target.read(include_deleted=True).filter("_deleted = 1").count() == \
        cf.target.read(include_deleted=True).filter("_deleted = 1").count()  # well-defined
    _check(spark, spec, cf)


def test_mor_restart_resume(spark, tmp_path):
    spec = BinlogSpec(n_events=5_000, n_convs=100)
    cfg = ChangefeedConfig(changefeed_id="morr", sink_mode="mor", compact_every=2)
    _run(spark, spec, str(tmp_path / "t"), cfg, max_merges=2)
    cf, s2 = _run(spark, spec, str(tmp_path / "t"), cfg)
    _check(spark, spec, cf)


def test_idle_table_compacts_zero_row_deltas(spark, tmp_path):
    """A table that goes idle gets one empty window per run(); each lands
    as a zero-row delta file. Compaction must clear those deltas and
    commit: with no affected bucket there is nothing to rewrite (a
    0-partition exchange here used to fail every retry of the same tick)."""
    spec = BinlogSpec(n_events=1_000, n_convs=50)
    binlog = gen_binlog(spark, spec)
    cfg = ChangefeedConfig(changefeed_id="idle", sink_mode="mor", compact_every=2)
    target = LakeTable(spark, str(tmp_path / "t"))
    for k in range(1, 7):
        marks = [(p, spec.base_ts + s * spec.block)
                 for p in range(spec.n_partitions) for s in range(1, k + 1)]
        resolved = spark.createDataFrame(marks, "partition_id int, resolved_ts long")
        cf = Changefeed(spark, binlog, resolved, None, target, cfg)
        cf.run()
    assert target.checkpoint["resolved_ts"] == spec.base_ts + 6 * spec.block
    assert target.delta_depth() < cfg.compact_every
    _check(spark, spec, cf)


def test_mor_ddl_during_dml(spark, tmp_path):
    ddl = DDLSpec(commit_ts=2_000, ddl_type="add_column", column="tool_args")
    spec = BinlogSpec(n_events=4_000, n_convs=100, ddls=(ddl,))
    cfg = ChangefeedConfig(changefeed_id="mord", sink_mode="mor", compact_every=100)
    cf, _ = _run(spark, spec, str(tmp_path / "t"), cfg)
    _check(spark, spec, cf)
    got = cf.target.read()
    assert "tool_args" in got.columns
    assert got.filter(
        "_commit_ts <= 2000 AND tool_args IS NOT NULL"
    ).count() == 0


def test_mor_delete_semantics(spark, tmp_path):
    """Tombstones hide rows pre-compaction; compaction physically drops them."""
    spec = BinlogSpec(n_events=4_000, n_convs=60, delete_pct=30)
    # bootstrap off: pre-compaction tombstone visibility is the subject
    cfg = ChangefeedConfig(changefeed_id="mort", sink_mode="mor", compact_every=100,
                           bootstrap_fast_path=False)
    cf, _ = _run(spark, spec, str(tmp_path / "t"), cfg)
    visible = cf.target.read()
    assert visible.filter("_deleted = 1").count() == 0
    n_tomb = cf.target.read(include_deleted=True).filter("_deleted = 1").count()
    assert n_tomb > 0
    _check(spark, spec, cf)
    cf.target.compact(drop_tombstones=True)
    assert cf.target.read(include_deleted=True).filter("_deleted = 1").count() == 0
    _check(spark, spec, cf)


def test_bucketed_delta_read_prunes_files(spark, tmp_table_path):
    """Manifest-driven FILE pruning: a single-bucket read's input files are
    exactly the base fileset of that bucket plus that bucket's delta files —
    other buckets' deltas never reach the scan."""
    import os

    from pyspark.sql import functions as F

    t = LakeTable(spark, tmp_table_path)
    t.create(key=KEY,
             fields=[("conv_id", "string"), ("turn_idx", "int"), ("text", "string")],
             n_buckets=4, with_order_cols=True, delta_layout="bucketed")
    rows = spark.range(200).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.format_string("v%d", F.col("id")).alias("text"),
        F.lit("I").alias("op"),
        (F.lit(1000) + F.col("id")).alias("_commit_ts"),
        (F.lit(999) + F.col("id")).alias("_start_ts"),
        F.lit(3).cast("int").alias("_op_rank"),
        F.lit(0).cast("int").alias("_deleted"),
    )
    t.append_delta(rows, "b1", resolved_ts=1)
    t.compact(drop_tombstones=True)
    upd = rows.withColumn("_commit_ts", F.col("_commit_ts") + 10_000)
    t.append_delta(upd, "b2", resolved_ts=2)
    m = t.manifest()
    d = m["deltas"][0]
    assert "buckets" in d and len(d["buckets"]) == 4  # bucketed layout
    got = t.read(buckets=[2])
    scanned = {os.path.realpath(f.replace("file:", "")) for f in got.inputFiles()}
    allowed = {os.path.realpath(f) for f in m["buckets"]["2"]["files"]}
    allowed |= {os.path.realpath(f) for f in d["buckets"].get("2", [])}
    assert scanned and scanned <= allowed, scanned - allowed
    # and the rows are right: every conv in bucket 2, newest image
    from pyspark.sql import functions as F2
    n_b2 = rows.filter(
        F2.pmod(F2.xxhash64("conv_id"), F2.lit(4)) == 2
    ).count()
    assert got.count() == n_b2
    assert got.count() > 0


@pytest.mark.parametrize("n_buckets", [4, 2, None], ids=["aligned", "spread", "two_per_core"])
def test_bootstrap_fast_path_state_identical_and_single_write(
        spark, tmp_path, write_plans, n_buckets):
    """Initial-load fast path: the first DDL-free span on an empty table
    writes the compacted BASE directly. Final state, checkpoint and
    per-window batch ids are IDENTICAL to the normal delta+compact path;
    the bootstrap table carries zero deltas and populated base buckets.
    With fewer bucket slots than cores the raw span spreads by key and the
    mounted rows align in a second exchange; otherwise one aligned
    exchange carries the whole write, its bucket slots sharing one task
    per core (``None``: two slots per core)."""
    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
    from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

    spec = BinlogSpec(n_events=6_000, n_convs=100, seed=61, block=1_500)
    binlog, resolved = gen_binlog(spark, spec), gen_resolved_log(spark, spec)

    def run(path, fast):
        cf = Changefeed(
            spark, binlog, resolved, None, LakeTable(spark, path),
            ChangefeedConfig(changefeed_id="bst", n_buckets=n_buckets, sink_mode="mor",
                             compact_every=2, bootstrap_fast_path=fast),
        )
        cf.run()
        return cf.target

    dp = spark.sparkContext.defaultParallelism
    n_buckets = n_buckets or 2 * dp
    fast, group = in_job_group(spark, lambda: run(f"{tmp_path}/fast", True))
    # the whole feed is one span: ONE write, placed per the slot rule, its
    # stage min(slots, cores) tasks, one file per bucket slot
    assert len(write_plans) == 1
    assert write_plans[0].count("Exchange") == (1 if n_buckets >= dp else 2), write_plans[0]
    assert write_stage_tasks(spark, group) == [min(n_buckets, dp)]
    assert all(len(i["files"]) == 1 for i in fast.manifest()["buckets"].values())
    slow = run(f"{tmp_path}/slow", False)
    from tests.conftest import assert_df_equal
    assert_df_equal(fast.read(), slow.read(), ["conv_id", "turn_idx"])
    assert fast.checkpoint["resolved_ts"] == slow.checkpoint["resolved_ts"]
    mf = fast.manifest()
    assert not mf.get("deltas")  # the span landed as base, no delta epoch
    assert any(info["files"] for info in mf["buckets"].values())
    # every window is individually durable (batch ids + syncpoints)
    assert set(fast.committed_batch_ids()) == set(slow.committed_batch_ids())
    assert [s[0] for s in fast.syncpoints()] == [s[0] for s in slow.syncpoints()]
    # replay recognition: re-running the whole feed is a no-op
    again = run(f"{tmp_path}/fast", True)
    assert_df_equal(again.read(), slow.read(), ["conv_id", "turn_idx"])


def test_bootstrap_fast_path_cow_state_identical(spark, tmp_path):
    """CoW takes the span path ONLY for the bootstrap span: the folded
    base write is sink-mode agnostic (no order metadata in a CoW schema),
    and steady-state CoW windows stay per-window MERGEs after it."""
    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.sources.binlog_gen import BinlogSpec, DDLSpec, gen_binlog, gen_resolved_log
    from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

    # DDL mid-stream: the bootstrap span covers only the pre-DDL windows;
    # post-DDL windows exercise the normal per-window CoW MERGE on top
    ddl = DDLSpec(commit_ts=3_000, ddl_type="add_column", column="tool_args")
    spec = BinlogSpec(n_events=6_000, n_convs=100, seed=62, block=1_000, ddls=(ddl,))
    binlog, resolved = gen_binlog(spark, spec), gen_resolved_log(spark, spec)

    def run(path, fast):
        cf = Changefeed(
            spark, binlog, resolved, None, LakeTable(spark, path),
            ChangefeedConfig(changefeed_id="bsc", n_buckets=4, sink_mode="cow",
                             bootstrap_fast_path=fast),
        )
        cf.run()
        return cf.target

    fast = run(f"{tmp_path}/fast", True)
    slow = run(f"{tmp_path}/slow", False)
    from tests.conftest import assert_df_equal
    assert_df_equal(fast.read(), slow.read(), ["conv_id", "turn_idx"])
    assert fast.checkpoint["resolved_ts"] == slow.checkpoint["resolved_ts"]
    assert not fast.manifest().get("deltas")  # CoW never carries deltas


def test_bootstrap_then_incremental_resume(spark, tmp_path):
    """A partial first run bootstraps some windows to base; the resumed run
    finds a NON-empty table, continues on the normal delta path, and the
    final state equals a single uninterrupted run."""
    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
    from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

    spec = BinlogSpec(n_events=6_000, n_convs=100, seed=63, block=1_000)
    binlog, resolved = gen_binlog(spark, spec), gen_resolved_log(spark, spec)

    def cf(path):
        return Changefeed(
            spark, binlog, resolved, None, LakeTable(spark, path),
            ChangefeedConfig(changefeed_id="bsr", n_buckets=4, sink_mode="mor",
                             compact_every=100),
        )

    cf(f"{tmp_path}/t").run(max_merges=2)   # bootstrap span, capped
    c2 = cf(f"{tmp_path}/t")
    c2.run()                                 # continues as deltas
    assert c2.target.manifest().get("deltas")  # the continuation appended
    full = cf(f"{tmp_path}/full")
    full.run()
    from tests.conftest import assert_df_equal
    assert_df_equal(c2.target.read(), full.target.read(), ["conv_id", "turn_idx"])
    assert c2.target.checkpoint["resolved_ts"] == full.target.checkpoint["resolved_ts"]
