"""Multi-table Structured-Streaming twin (streaming/structured.py
run_streaming_multi): one WAL directory carrying a fleet's events, drained
arrival-ordered with the single-pass dedup + feed-journal commit tail.

The invariant under test: stream-mode final state == driver-loop
(MultiTableChangefeed) final state on the SAME WAL, for both the
homogeneous one-write-job path and the diverged-chain fallback — plus
exactly-once across incremental drains. Reference anchor: the processor's
sink manager multiplexing N tables through one worker pool
(/root/reference/cdc/processor/sinkmanager/manager.go:489-663).
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, DDLSpec, gen_binlog, gen_resolved_log
from ticdc_spark.streaming.multi import MultiTableChangefeed
from ticdc_spark.streaming.pipeline import ChangefeedConfig
from ticdc_spark.streaming.structured import run_streaming_multi

KEY = ["conv_id", "turn_idx"]

GLOBAL = DDLSpec(commit_ts=3_000, ddl_type="add_column", column="qscore")
SCOPED = DDLSpec(commit_ts=2_000, ddl_type="add_column", column="tool_args", table_name="t1")


def _fleet(spark, scoped: bool):
    specs = {}
    for i, t in enumerate(["t0", "t1", "t2"]):
        ddls = (SCOPED, GLOBAL) if (scoped and t == "t1") else (GLOBAL,)
        specs[t] = BinlogSpec(n_events=3_000, n_convs=90, seed=700 + i, ddls=ddls)
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    ddl_rows = [
        {"commit_ts": GLOBAL.commit_ts, "ddl_type": "add_column", "query": GLOBAL.query(),
         "column": "qscore", "old_column": None, "col_type": "string",
         "schema_version": GLOBAL.commit_ts, "table_name": None},
    ]
    if scoped:
        ddl_rows.insert(0, {
            "commit_ts": SCOPED.commit_ts, "ddl_type": "add_column", "query": SCOPED.query(),
            "column": "tool_args", "old_column": None, "col_type": "string",
            "schema_version": SCOPED.commit_ts, "table_name": "t1"})
    return specs, binlog, ddl_rows


def _drive(spark, specs, binlog, ddl_rows, base):
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, next(iter(specs.values()))),
        ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{base}/{t}"),
        config=ChangefeedConfig(changefeed_id="drv", n_buckets=4),
        tables=list(specs),
    )
    mt.run()
    return mt


@pytest.mark.parametrize("scoped", [False, True],
                         ids=["homogeneous", "diverged-chains"])
def test_stream_equals_driver_loop(spark, tmp_path, scoped):
    specs, binlog, ddl_rows = _fleet(spark, scoped)
    wal = str(tmp_path / "wal")
    binlog.repartition(6).write.parquet(wal)  # arbitrary arrival batching

    mt = _drive(spark, specs, binlog, ddl_rows, str(tmp_path / "drv"))
    st = run_streaming_multi(
        spark, wal,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/st/{t}"),
        config=ChangefeedConfig(changefeed_id="stm", n_buckets=4),
        ddl_log=ddl_rows,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    assert st["tables"] == 3 and st["batches"] >= 3
    assert st["events"] == sum(s.n_events for s in specs.values())
    for t in specs:
        got = LakeTable(spark, f"{tmp_path}/st/{t}").read()
        assert_df_equal(got, mt.read(t), KEY)


def test_stream_incremental_exactly_once(spark, tmp_path):
    """Two arrival waves with one checkpoint; re-drain is a no-op; final
    state equals the driver loop's full replay. Also asserts the
    homogeneous commit tail: ONE journal window per micro-batch (not one
    per table) and a fully-folded journal at the end."""
    specs, binlog, ddl_rows = _fleet(spark, scoped=False)
    wal = str(tmp_path / "wal")
    binlog.filter(F.col("start_ts") % 2 == 0).repartition(2).write.mode("append").parquet(wal)
    cfg = ChangefeedConfig(changefeed_id="stm2", n_buckets=4)
    factory = lambda t: LakeTable(spark, f"{tmp_path}/st/{t}")  # noqa: E731
    ckpt = str(tmp_path / "ckpt")
    s1 = run_streaming_multi(spark, wal, factory, cfg, ddl_rows, checkpoint_dir=ckpt)
    binlog.filter(F.col("start_ts") % 2 != 0).repartition(2).write.mode("append").parquet(wal)
    s2 = run_streaming_multi(spark, wal, factory, cfg, ddl_rows, checkpoint_dir=ckpt)
    s3 = run_streaming_multi(spark, wal, factory, cfg, ddl_rows, checkpoint_dir=ckpt)
    assert s3["events"] == 0
    assert s1["events"] + s2["events"] == sum(s.n_events for s in specs.values())

    from ticdc_spark.sinks.journal import FeedJournal
    j = FeedJournal(f"{tmp_path}/st/_feed_stm2")
    assert j.pending() == []  # folded
    # commit tail was O(1) per batch: at most one journal seq per batch
    assert j.fold_hwm() == s1["batches"] + s2["batches"]

    mt = _drive(spark, specs, binlog, ddl_rows, str(tmp_path / "drv"))
    for t in specs:
        assert_df_equal(factory(t).read(), mt.read(t), KEY)


def test_stream_rejects_lifecycle_ddl(spark, tmp_path):
    with pytest.raises(ValueError, match="lifecycle"):
        run_streaming_multi(
            spark, str(tmp_path / "nowal"),
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
            ddl_log=[{"commit_ts": 5, "ddl_type": "drop_table", "column": None,
                      "old_column": None, "col_type": None, "table_name": "t9",
                      "schema_version": 5, "query": ""}],
        )


def test_crash_before_fold_then_fresh_checkpoint_raises(spark, tmp_path, monkeypatch):
    """Crash AFTER journal appends but BEFORE the end-of-drain fold, then
    restart with a FRESH streaming checkpoint: the epoch-reset guard must
    refuse. The recovery fold runs BEFORE the guard reads manifests, so
    the journaled epochs are visible to it — without that ordering the
    guard reads a pre-fold manifest (hwm=-1), passes, and the new stream's
    restarted epoch ids silently collide with the folded ones."""
    import ticdc_spark.streaming.multi as M
    import ticdc_spark.streaming.structured as S

    specs, binlog, ddl_rows = _fleet(spark, scoped=False)
    wal = str(tmp_path / "wal")
    binlog.repartition(4).write.parquet(wal)
    cfg = ChangefeedConfig(changefeed_id="crash", n_buckets=4)
    factory = lambda t: LakeTable(spark, f"{tmp_path}/st/{t}")  # noqa: E731

    # the twin imports fold_feed_journal from multi at call time
    monkeypatch.setattr(M, "fold_feed_journal", lambda *a, **k: None)  # crash
    S.run_streaming_multi(spark, wal, factory, cfg, ddl_rows,
                          checkpoint_dir=str(tmp_path / "ckpt1"))
    monkeypatch.undo()
    from ticdc_spark.sinks.journal import FeedJournal
    assert len(FeedJournal(f"{tmp_path}/st/_feed_crash").pending()) > 0

    with pytest.raises(ValueError, match="ORIGINAL checkpoint_dir"):
        S.run_streaming_multi(spark, wal, factory, cfg, ddl_rows,
                              checkpoint_dir=str(tmp_path / "ckpt2"))
    # the ORIGINAL checkpoint resumes fine and reaches the full state
    S.run_streaming_multi(spark, wal, factory, cfg, ddl_rows,
                          checkpoint_dir=str(tmp_path / "ckpt1"))
    mt = _drive(spark, specs, binlog, ddl_rows, str(tmp_path / "drv"))
    for t in specs:
        assert_df_equal(factory(t).read(), mt.read(t), KEY)


def test_stream_shared_fleet_filesets(spark, tmp_path):
    """Above shared_deltas_after, a streaming micro-batch writes ONE
    SHARED per-bucket fileset for every table (file count independent of
    table count) instead of per-table dirs; per-table reads stay exactly
    right, and after every table compacts, the feed GC reclaims the
    shared window files."""
    import os as _os

    from ticdc_spark.sinks.journal import FeedJournal
    from ticdc_spark.streaming.pipeline import expected_final_state

    n_tables = 8
    specs = {
        f"s{i}": BinlogSpec(n_events=1_500, n_convs=60, seed=820 + i)
        for i in range(n_tables)
    }
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    wal = str(tmp_path / "wal")
    binlog.repartition(2).write.parquet(wal)
    cfg = ChangefeedConfig(changefeed_id="fleet", n_buckets=4,
                           shared_deltas_after=4,  # force fleet mode at 8
                           compact_every=10_000)   # keep deltas shared
    factory = lambda t: LakeTable(spark, f"{tmp_path}/st/{t}")  # noqa: E731
    st = run_streaming_multi(spark, wal, factory, cfg, None,
                             checkpoint_dir=str(tmp_path / "ckpt"))
    assert st["events"] == sum(s.n_events for s in specs.values())
    j = FeedJournal(f"{tmp_path}/st/_feed_fleet")
    # shared window dirs LIVE under the journal after folding
    shared_dirs = [d for d in _os.listdir(j.data_dir) if d.startswith("w_")]
    assert shared_dirs, "fleet mode should retain shared filesets"
    # per-table reads stay exact through the shared discriminator
    from ticdc_spark.plans.schema_registry import SchemaRegistry
    for t, s in specs.items():
        want = expected_final_state(gen_binlog(spark, s), SchemaRegistry(),
                                    s.max_commit_ts, KEY)
        assert_df_equal(factory(t).read(), want, KEY)
    # compact every table AND expire the pre-compaction snapshots (whose
    # manifests still reference the shared files — time-travel protection)
    # -> last references die -> GC reclaims the files
    from ticdc_spark.streaming.multi import gc_shared_filesets
    for t in specs:
        factory(t).compact(drop_tombstones=False)
        factory(t).expire_snapshots(keep_last=1)
    assert gc_shared_filesets(spark, j) >= 1
    assert not any(d.startswith("w_") for d in _os.listdir(j.data_dir))
    for t, s in specs.items():
        want = expected_final_state(gen_binlog(spark, s), SchemaRegistry(),
                                    s.max_commit_ts, KEY)
        assert_df_equal(factory(t).read(), want, KEY)


@pytest.mark.parametrize("mode,scope", [("single", None), ("multi", None),
                                        ("multi", "t0")],
                         ids=["single", "multi-global", "multi-scoped"])
def test_stream_truncate_matches_oracle(spark, tmp_path, mode, scope):
    """A ``truncate_table`` in the DDL log deletes every row at or below it
    in both streaming modes: each table equals the LWW oracle, which keeps
    only the DML above the truncate. A scoped truncate also diverges t0's
    schema chain from t1's inside one micro-batch."""
    from ticdc_spark.plans.schema_registry import SchemaRegistry
    from ticdc_spark.streaming.pipeline import expected_final_state
    from ticdc_spark.streaming.structured import run_streaming

    trunc = DDLSpec(commit_ts=3_000, ddl_type="truncate_table", table_name=scope)
    ddl_rows = [{"commit_ts": trunc.commit_ts, "ddl_type": trunc.ddl_type,
                 "query": trunc.query(), "column": None, "old_column": None,
                 "col_type": None, "schema_version": trunc.commit_ts,
                 "table_name": scope}]
    specs = {t: BinlogSpec(n_events=3_000, n_convs=90, seed=700 + i)
             for i, t in enumerate(["t0", "t1"] if mode == "multi" else ["t0"])}
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    wal = str(tmp_path / "wal")
    binlog.repartition(6).write.parquet(wal)
    factory = lambda t: LakeTable(spark, f"{tmp_path}/st/{t}")  # noqa: E731
    cfg = ChangefeedConfig(changefeed_id="trunc", n_buckets=4)
    if mode == "single":
        run_streaming(spark, wal, factory("t0"), cfg, ddl_log=ddl_rows,
                      checkpoint_dir=str(tmp_path / "ckpt"),
                      max_files_per_trigger=2)
    else:
        run_streaming_multi(spark, wal, factory, cfg, ddl_rows,
                            checkpoint_dir=str(tmp_path / "ckpt"),
                            max_files_per_trigger=2)
    for t, s in specs.items():
        reg = SchemaRegistry()
        reg.replay([r for r in ddl_rows if r["table_name"] in (None, t)])
        want = expected_final_state(gen_binlog(spark, s), reg, s.max_commit_ts, KEY)
        assert_df_equal(factory(t).read(), want, KEY)
