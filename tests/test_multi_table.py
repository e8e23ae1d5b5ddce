"""Multi-table changefeed scenarios (multi_tables_ddl / batch_add_table
analogs, /root/reference/tests/integration_tests/multi_tables_ddl/):
N tables through one feed, per-table schema registries and DDL barriers
(global vs table-scoped), per-table exactly-once resume, feed checkpoint =
min over tables."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal, in_job_group, write_stage_tasks
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, DDLSpec, gen_binlog, gen_ddl_log, gen_resolved_log
from ticdc_spark.streaming.multi import MultiTableChangefeed, route_tables
from ticdc_spark.streaming.pipeline import ChangefeedConfig, expected_final_state

KEY = ["conv_id", "turn_idx"]

SCOPED = DDLSpec(commit_ts=2_000, ddl_type="add_column", column="tool_args", table_name="t1")
GLOBAL = DDLSpec(commit_ts=3_000, ddl_type="add_column", column="qscore")


def _specs():
    """3 tables, same block structure (shared resolved log), distinct
    streams; t1 additionally sees the table-scoped DDL."""
    out = {}
    for i, t in enumerate(["t0", "t1", "t2"]):
        ddls = (GLOBAL,) if t != "t1" else (SCOPED, GLOBAL)
        out[t] = BinlogSpec(n_events=4_000, n_convs=120, seed=100 + i, ddls=ddls)
    return out


def _build(spark, base_path, cfg=None):
    specs = _specs()
    parts = [
        gen_binlog(spark, spec).withColumn("table_name", F.lit(t))
        for t, spec in specs.items()
    ]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    resolved = gen_resolved_log(spark, next(iter(specs.values())))
    ddl_rows = [
        {"commit_ts": SCOPED.commit_ts, "ddl_type": SCOPED.ddl_type, "query": SCOPED.query(),
         "column": SCOPED.column, "old_column": None, "col_type": "string",
         "schema_version": SCOPED.commit_ts, "table_name": "t1"},
        {"commit_ts": GLOBAL.commit_ts, "ddl_type": GLOBAL.ddl_type, "query": GLOBAL.query(),
         "column": GLOBAL.column, "old_column": None, "col_type": "string",
         "schema_version": GLOBAL.commit_ts, "table_name": None},
    ]
    mt = MultiTableChangefeed(
        spark, binlog, resolved, ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{base_path}/{t}"),
        config=cfg or ChangefeedConfig(changefeed_id="mt", n_buckets=4),
        tables=list(specs),
    )
    return mt, specs


def test_multi_table_final_state_and_scoped_ddl(spark, tmp_path):
    mt, specs = _build(spark, str(tmp_path))
    stats = mt.run()
    assert stats["tables"] == 3
    assert stats["events"] == sum(s.n_events for s in specs.values())
    # per-table final state vs the per-table batch oracle
    for t, spec in specs.items():
        feed = mt.feeds[t]
        want = expected_final_state(
            gen_binlog(spark, spec), feed.registry, spec.max_commit_ts, KEY
        )
        assert_df_equal(feed.target.read(), want, KEY)
    # table-scoped DDL evolved ONLY t1; the global one evolved everybody
    assert "tool_args" in mt.read("t1").columns
    assert "tool_args" not in mt.read("t0").columns
    assert "tool_args" not in mt.read("t2").columns
    for t in specs:
        assert "qscore" in mt.read(t).columns
    # feed checkpoint = min over tables = shared frontier
    assert stats["checkpoint"] == specs["t0"].max_commit_ts
    assert mt.is_synced()
    # union read reconciles schemas (t0/t2 rows carry NULL tool_args)
    u = mt.read_union()
    assert "tool_args" in u.columns and "table_name" in u.columns
    assert u.filter("table_name = 't0' AND tool_args IS NOT NULL").count() == 0


def test_multi_table_restart_resume(spark, tmp_path):
    mt1, specs = _build(spark, str(tmp_path))
    s1 = mt1.run(max_merges_per_table=2)
    assert 0 < mt1.checkpoint() < specs["t0"].max_commit_ts
    # fresh engine instance over the same lake paths: resumes per table
    mt2, _ = _build(spark, str(tmp_path))
    s2 = mt2.run()
    assert s2["merges"] > 0  # resumed work, not a full replay
    assert mt2.checkpoint() == specs["t0"].max_commit_ts
    for t, spec in specs.items():
        feed = mt2.feeds[t]
        want = expected_final_state(
            gen_binlog(spark, spec), feed.registry, spec.max_commit_ts, KEY
        )
        assert_df_equal(feed.target.read(), want, KEY)


def _lifecycle_build(spark, base_path):
    """ta renamed→tz at 3000; tb CREATED at 2000 (events only after);
    tc DROPPED at 3000 (events continue but stop replicating)."""
    sa = BinlogSpec(n_events=4_000, n_convs=100, seed=7)
    sb = BinlogSpec(n_events=4_000, n_convs=100, seed=8)
    sc = BinlogSpec(n_events=4_000, n_convs=100, seed=9)
    wa = gen_binlog(spark, sa).withColumn(
        "table_name",
        F.when(F.col("commit_ts") <= 3_000, F.lit("ta")).otherwise(F.lit("tz")),
    )
    wb = gen_binlog(spark, sb).filter(F.col("commit_ts") > 2_000).withColumn(
        "table_name", F.lit("tb")
    )
    wc = gen_binlog(spark, sc).withColumn("table_name", F.lit("tc"))
    binlog = wa.unionByName(wb).unionByName(wc)
    ddl_rows = [
        {"commit_ts": 2_000, "ddl_type": "create_table", "query": "CREATE TABLE tb",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": 2_000, "table_name": "tb"},
        {"commit_ts": 3_000, "ddl_type": "rename_table", "query": "RENAME TABLE ta TO tz",
         "column": None, "old_column": "ta", "col_type": None,
         "schema_version": 3_000, "table_name": "tz"},
        {"commit_ts": 3_000, "ddl_type": "drop_table", "query": "DROP TABLE tc",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": 3_000, "table_name": "tc"},
    ]
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, sa), ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{base_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="lc", n_buckets=4),
        tables=["ta", "tc"],
    )
    return mt, (sa, sb, sc)


def test_table_lifecycle_create_drop_rename(spark, tmp_path):
    mt, (sa, sb, sc) = _lifecycle_build(spark, str(tmp_path))
    mt.run()
    # rename: same target, full stream, now keyed tz
    assert set(mt.feeds) == {"tz", "tb"}
    want_a = expected_final_state(gen_binlog(spark, sa), mt.feeds["tz"].registry,
                                  sa.max_commit_ts, KEY)
    assert_df_equal(mt.read("tz"), want_a, KEY)
    # created table consumed exactly its post-create events
    want_b = expected_final_state(
        gen_binlog(spark, sb).filter(F.col("commit_ts") > 2_000),
        mt.feeds["tb"].registry, sb.max_commit_ts, KEY,
    )
    assert_df_equal(mt.read("tb"), want_b, KEY)
    assert mt.feeds["tb"].target.checkpoint["resolved_ts"] == sb.max_commit_ts
    # dropped table froze at the drop barrier; its data is retained
    tc = LakeTable(spark, f"{tmp_path}/tc")
    assert tc.checkpoint["resolved_ts"] == 3_000
    reg = mt.feeds["tz"].registry  # same (empty) column-DDL set
    want_c = expected_final_state(
        gen_binlog(spark, sc).filter(F.col("commit_ts") <= 3_000), reg, 3_000, KEY
    )
    from ticdc_spark.streaming.pipeline import Changefeed  # read via fresh handle
    assert_df_equal(tc.read(), want_c, KEY)


def test_table_lifecycle_resume(spark, tmp_path):
    """Crash after the first window; a fresh instance must replay lifecycle
    barriers below the checkpoint and land on the same final state."""
    mt1, (sa, sb, sc) = _lifecycle_build(spark, str(tmp_path))
    mt1.run(max_merges_per_table=2)  # past the create barrier at 2000
    mt2, _ = _lifecycle_build(spark, str(tmp_path))
    mt2.run()
    assert set(mt2.feeds) == {"tz", "tb"}
    want_a = expected_final_state(gen_binlog(spark, sa), mt2.feeds["tz"].registry,
                                  sa.max_commit_ts, KEY)
    assert_df_equal(mt2.read("tz"), want_a, KEY)
    want_b = expected_final_state(
        gen_binlog(spark, sb).filter(F.col("commit_ts") > 2_000),
        mt2.feeds["tb"].registry, sb.max_commit_ts, KEY,
    )
    assert_df_equal(mt2.read("tb"), want_b, KEY)


def test_wal_partitioned_by_table_prunes(spark, tmp_path):
    """The storage layout contract: a WAL written with
    write_wal_partitioned serves per-table reads via PARTITION PRUNING —
    the table predicate appears in the scan's PartitionFilters, not as a
    post-scan filter over all tables' bytes."""
    from ticdc_spark.streaming.multi import write_wal_partitioned

    spec = BinlogSpec(n_events=2_000, n_convs=50)
    wal = gen_binlog(spark, spec).withColumn(
        "table_name", F.concat(F.lit("t"), (F.col("turn_idx") % 4).cast("string"))
    )
    path = str(tmp_path / "wal")
    write_wal_partitioned(wal, path)
    got = spark.read.parquet(path).filter(F.col("table_name") == "t1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "table_name" in plan.split("PartitionFilters")[1][:200]
    n_t1 = wal.filter("table_name = 't1'").count()
    assert got.count() == n_t1


def test_table_allow_block_routing(spark, tmp_path):
    cfg = ChangefeedConfig(
        changefeed_id="mt", n_buckets=4,
        table_allow=("t[0-9]",), table_block=("t2",),
    )
    mt, _ = _build(spark, str(tmp_path), cfg=cfg)
    assert mt.tables == ["t0", "t1"]
    assert route_tables(["a", "t1", "t2", "t10"], allow=("t[0-9]",), block=("t2",)) == ["t1"]


# a global add-column DDL AT a window bound (resolved steps are 2000, 3000)
BOUND_DDL = DDLSpec(commit_ts=2_000, ddl_type="add_column", column="qscore")


@pytest.mark.parametrize("ddl", [None, BOUND_DDL], ids=["no_ddl", "ddl_at_bound"])
def test_homogeneous_window_is_one_write_for_all_tables(spark, tmp_path, monkeypatch,
                                                        write_plans, ddl):
    """When tables share one schema chain (the fleet case), a span executes
    as ONE partitionBy write for every table + ONE feed-journal append per
    window, the per-table append_delta write path never runs, and
    per-table manifest I/O happens once per table at the END-OF-RUN FOLD
    (append_delta_files_group), not once per window. A global DDL at a
    window bound keeps the one write for the barrier window too (its DML
    decodes at the bound − 1, below the DDL), and the barrier adds one
    fold."""
    calls = {"group": 0, "delta": 0}
    orig_g = LakeTable.append_delta_files_group
    orig_d = LakeTable.append_delta

    def count_g(self, *a, **k):
        calls["group"] += 1
        return orig_g(self, *a, **k)

    def count_d(self, *a, **k):
        calls["delta"] += 1
        return orig_d(self, *a, **k)

    monkeypatch.setattr(LakeTable, "append_delta_files_group", count_g)
    monkeypatch.setattr(LakeTable, "append_delta", count_d)
    ddls = (ddl,) if ddl else ()
    specs = {f"h{i}": BinlogSpec(n_events=2_000, n_convs=60, seed=300 + i, ddls=ddls)
             for i in range(4)}
    ddl_rows = [
        {"commit_ts": d.commit_ts, "ddl_type": d.ddl_type, "query": d.query(),
         "column": d.column, "old_column": None, "col_type": "string",
         "schema_version": d.commit_ts, "table_name": None}
        for d in ddls
    ]
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, next(iter(specs.values()))), ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="h", n_buckets=4,
                                bootstrap_fast_path=False),
        tables=list(specs),
    )
    stats = mt.run()
    assert stats["merges"] == 4 * stats["windows"]
    assert calls["delta"] == 0            # per-table write path never ran
    # one write per span: the whole run, or the barrier window + the rest
    assert len(write_plans) == stats["write_jobs"] == 1 + len(ddls)
    # the whole run is one homogeneous streak -> exactly ONE fold per
    # barrier plus the end-of-run one: one group manifest commit per table
    # per fold, independent of window count
    assert calls["group"] == 4 * (1 + len(ddls))
    assert stats["windows"] > 1           # the amortization was real
    # journal bookkeeping: everything folded, staging cleaned
    assert mt.journal.pending() == []
    import os as _os
    assert not any(
        d.startswith("w_") for d in _os.listdir(mt.journal.data_dir)
    )
    for t, s in specs.items():
        want = expected_final_state(gen_binlog(spark, s), mt.feeds[t].registry,
                                    s.max_commit_ts, KEY)
        assert_df_equal(mt.read(t), want, KEY)
        if ddl:
            assert ddl.column in mt.read(t).columns
    # GC ownership: every table's delta files live under ITS data_dir
    for t in specs:
        m = mt.feeds[t].target.manifest()
        for d in m["deltas"]:
            for f in d["files"]:
                assert f.startswith(mt.feeds[t].target.data_dir), f


def test_homogeneous_fast_path_honors_bucketed_layout(spark, tmp_path):
    """Tables created with delta_layout='bucketed' must keep their
    file-level bucket pruning when the multi-table fast path writes their
    deltas: manifest delta entries carry per-bucket filesets, and a
    single-bucket point read touches only that bucket's delta files."""
    specs = {f"b{i}": BinlogSpec(n_events=2_000, n_convs=60, seed=400 + i)
             for i in range(3)}
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, next(iter(specs.values()))), None,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="bk", n_buckets=4,
                                bootstrap_fast_path=False,
                                delta_layout="bucketed", compact_every=10**9),
        tables=list(specs),
    )
    mt.run()
    for t, s in specs.items():
        tab = mt.feeds[t].target
        m = tab.manifest()
        deltas = [d for d in m.get("deltas", []) if d["files"]]
        assert deltas, t
        assert all("buckets" in d for d in deltas), t
        # file-level pruning: a one-bucket read references only that
        # bucket's delta files (the 7.9x point-read property)
        want = expected_final_state(gen_binlog(spark, s), mt.feeds[t].registry,
                                    s.max_commit_ts, KEY)
        got = tab.read(buckets=[1])
        want_b1 = want.filter(F.pmod(F.xxhash64(F.col(KEY[0])), F.lit(4)) == 1)
        assert_df_equal(got, want_b1, KEY)
        all_delta = sum(len(d["files"]) for d in deltas)
        b1_delta = sum(len(d["buckets"].get("1", [])) for d in deltas)
        assert b1_delta < all_delta


def test_journal_crash_recovery(spark, tmp_path, monkeypatch):
    """Crash AFTER the journal appends but BEFORE any fold (manifests lag
    the journal): a fresh engine instance must fold pending windows at
    run start and land on exactly the full-replay final state."""
    from ticdc_spark.streaming.multi import MultiTableChangefeed as MT

    specs = {f"j{i}": BinlogSpec(n_events=3_000, n_convs=80, seed=500 + i)
             for i in range(3)}

    def build():
        parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
                 for t, s in specs.items()]
        binlog = parts[0]
        for p in parts[1:]:
            binlog = binlog.unionByName(p)
        return MT(
            spark, binlog, gen_resolved_log(spark, next(iter(specs.values()))), None,
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
            config=ChangefeedConfig(changefeed_id="jc", n_buckets=4,
                                    bootstrap_fast_path=False),
            tables=list(specs),
        )

    mt1 = build()
    monkeypatch.setattr(MT, "_fold_journal", lambda self: None)  # the crash
    mt1.run()
    monkeypatch.undo()
    # manifests lag: windows are durable ONLY in the journal
    assert len(mt1.journal.pending()) > 0
    for t in specs:
        assert LakeTable(spark, f"{tmp_path}/{t}").checkpoint["resolved_ts"] == 0
    mt2 = build()
    mt2.run()  # recovery fold happens before the window loop
    assert mt2.journal.pending() == []
    for t, s in specs.items():
        want = expected_final_state(gen_binlog(spark, s), mt2.feeds[t].registry,
                                    s.max_commit_ts, KEY)
        assert_df_equal(mt2.read(t), want, KEY)
        assert mt2.feeds[t].target.checkpoint["resolved_ts"] == s.max_commit_ts
    # refold is a no-op (idempotent)
    mt2._fold_journal()
    assert mt2.journal.pending() == []


def test_shared_fleet_mode_correct_and_gc(spark, tmp_path):
    """Above shared_deltas_after, homogeneous windows write ONE shared
    per-bucket fileset for all tables. Per-table reads must still be
    exactly right (filter + drop of the discriminator), compaction must
    fold a table's slice into its own base, and the feed's shared-GC must
    reclaim a window's files only after EVERY referencing table compacted
    away its reference."""
    n = 36  # above the default threshold of 32
    spec = BinlogSpec(n_events=20_000, n_convs=400, seed=600, block=2_500)
    wal = gen_binlog(spark, spec).withColumn(
        "table_name",
        F.concat(F.lit("s"), F.pmod(F.xxhash64("conv_id"), F.lit(n)).cast("string")),
    )
    tables = [f"s{i}" for i in range(n)]
    mt = MultiTableChangefeed(
        spark, wal, gen_resolved_log(spark, spec), None,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="fleet", n_buckets=4,
                                compact_every=10**9),
        tables=tables,
    )
    stats = mt.run()
    assert stats["events"] == spec.n_events
    # shared delta entries landed (fleet mode engaged)
    m0 = mt.feeds["s0"].target.manifest()
    shared_deltas = [d for d in m0.get("deltas", []) if d.get("shared")]
    assert shared_deltas and shared_deltas[0]["shared"][0] == "table_name"
    assert all("buckets" in d for d in shared_deltas)
    # per-table correctness on a sample + bucket-pruned point read
    for t in ["s0", "s7", "s35"]:
        expr = F.concat(
            F.lit("s"), F.pmod(F.xxhash64("conv_id"), F.lit(n)).cast("string"))
        slice_df = gen_binlog(spark, spec).filter(expr == t)
        want = expected_final_state(slice_df, mt.feeds[t].registry,
                                    spec.max_commit_ts, KEY)
        assert_df_equal(mt.read(t), want, KEY)
        got_b = mt.feeds[t].target.read(buckets=[2])
        want_b = want.filter(F.pmod(F.xxhash64(F.col(KEY[0])), F.lit(4)) == 2)
        assert_df_equal(got_b, want_b, KEY)
    # union of all tables == the whole stream's final state
    total_want = expected_final_state(
        gen_binlog(spark, spec), mt.feeds["s0"].registry, spec.max_commit_ts, KEY)
    assert mt.read_union().count() == total_want.count()
    # shared-GC: files live while ANY table references them
    import os as _os
    shared_dirs = [d for d in _os.listdir(mt.journal.data_dir) if d.startswith("w_")]
    assert shared_dirs
    mt.feeds["s0"].target.compact(drop_tombstones=True)
    mt.feeds["s0"].target.expire_snapshots(keep_last=1)
    assert mt._gc_shared() == 0  # 35 tables still reference every window
    for t in tables[1:]:
        mt.feeds[t].target.compact(drop_tombstones=True)
        # retained pre-compaction snapshots keep references alive (time
        # travel) — expire them so the shared windows become reclaimable
        mt.feeds[t].target.expire_snapshots(keep_last=1)
    assert mt._gc_shared() == len(shared_dirs)  # last reference gone
    assert not any(
        d.startswith("w_") for d in _os.listdir(mt.journal.data_dir))
    # post-compaction reads still exact
    want0 = expected_final_state(
        gen_binlog(spark, spec).filter(
            F.concat(F.lit("s"), F.pmod(F.xxhash64("conv_id"), F.lit(n)).cast("string")) == "s0"),
        mt.feeds["s0"].registry, spec.max_commit_ts, KEY)
    assert_df_equal(mt.read("s0"), want0, KEY)


def test_partition_table_exchange(spark, tmp_path):
    """Partitioned-table spans + exchange_table_partition
    (snapshot.go:64,218-246; partition_table integration test): a logical
    table pt with partitions p0/p1 replicates each partition as its own
    span into its own target; an EXCHANGE with normal table nb at a
    barrier swaps the partition's target with the table's — after it,
    pt#p0's span applies onto what was nb's state and vice versa."""
    X = 3_000
    sp = BinlogSpec(n_events=4_000, n_convs=100, seed=21)
    sn = BinlogSpec(n_events=4_000, n_convs=100, seed=22)
    # pt events split between partitions by conv hash; nb its own stream
    wp = gen_binlog(spark, sp).withColumn(
        "table_name",
        F.concat(F.lit("pt#p"), F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("string")),
    )
    wn = gen_binlog(spark, sn).withColumn("table_name", F.lit("nb"))
    binlog = wp.unionByName(wn)
    ddl_rows = [
        {"commit_ts": X, "ddl_type": "exchange_table_partition",
         "query": "ALTER TABLE pt EXCHANGE PARTITION p0 WITH TABLE nb",
         "column": None, "old_column": "nb", "col_type": None,
         "schema_version": X, "table_name": "pt#p0"},
    ]
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, sp), ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t.replace('#', '_')}"),
        config=ChangefeedConfig(changefeed_id="px", n_buckets=4),
        tables=["pt", "nb"],
        partitions={"pt": ["p0", "p1"]},
    )
    assert sorted(mt.feeds) == ["nb", "pt#p0", "pt#p1"]
    mt.run()
    part = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    ap = gen_binlog(spark, sp)  # pt stream
    an = gen_binlog(spark, sn)  # nb stream
    reg = mt.feeds["nb"].registry
    # pt#p0's target after the exchange = nb's pre-X state + pt#p0's
    # post-X events, LWW across BOTH (the span applies ONTO the swapped
    # state)
    want_p0 = expected_final_state(
        an.filter(F.col("commit_ts") <= X).unionByName(
            ap.filter((part == 0) & (F.col("commit_ts") > X))),
        reg, sp.max_commit_ts, KEY)
    assert_df_equal(mt.read("pt#p0"), want_p0, KEY)
    # nb's target = pt#p0's pre-X state + nb's post-X events
    want_nb = expected_final_state(
        ap.filter((part == 0) & (F.col("commit_ts") <= X)).unionByName(
            an.filter(F.col("commit_ts") > X)),
        reg, sn.max_commit_ts, KEY)
    assert_df_equal(mt.read("nb"), want_nb, KEY)
    # untouched partition p1 replicated straight through
    want_p1 = expected_final_state(ap.filter(part == 1), reg,
                                   sp.max_commit_ts, KEY)
    assert_df_equal(mt.read("pt#p1"), want_p1, KEY)
    # logical read = union of the partition spans
    assert mt.read_logical("pt").count() == want_p0.count() + want_p1.count()
    # resume reconstructs the post-exchange association (replay the swap)
    mt2 = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, sp), ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t.replace('#', '_')}"),
        config=ChangefeedConfig(changefeed_id="px", n_buckets=4),
        tables=["pt", "nb"],
        partitions={"pt": ["p0", "p1"]},
    )
    mt2.run()
    assert_df_equal(mt2.read("pt#p0"), want_p0, KEY)
    assert_df_equal(mt2.read("nb"), want_nb, KEY)


def test_heterogeneous_window_write_batching(spark, tmp_path):
    """Per-table DDL churn (every table gets its OWN scoped add_column →
    chain digests diverge feed-wide): a span mounts once per chain and
    unions the mounts into type-compatibility-grouped write jobs — here
    every table adds a string column, so ONE group ⇒ one write per span,
    not one per table or per window — while final states stay exactly
    right per table."""
    n_tables = 6
    specs = {}
    ddl_rows = []
    for i in range(n_tables):
        t = f"c{i}"
        d = DDLSpec(commit_ts=1_500 + i * 37, ddl_type="add_column",
                    column=f"xcol_{i}", table_name=t)
        specs[t] = BinlogSpec(n_events=4_000, n_convs=100, seed=900 + i, ddls=(d,))
        ddl_rows.append(
            {"commit_ts": d.commit_ts, "ddl_type": "add_column", "query": d.query(),
             "column": d.column, "old_column": None, "col_type": "string",
             "schema_version": d.commit_ts, "table_name": t})
    parts = [gen_binlog(spark, s).withColumn("table_name", F.lit(t))
             for t, s in specs.items()]
    binlog = parts[0]
    for p in parts[1:]:
        binlog = binlog.unionByName(p)
    mt = MultiTableChangefeed(
        spark, binlog, gen_resolved_log(spark, next(iter(specs.values()))),
        ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="churn", n_buckets=4),
        tables=list(specs),
    )
    stats = mt.run()
    assert stats["events"] == sum(s.n_events for s in specs.values())
    # the scale property: one write per span. The churn splits (1000,
    # 2000] into 7 barrier windows; the DDL-free 3 windows after it are
    # one span: 10 windows, 8 writes (not O(windows*tables))
    assert stats["windows"] == 10, stats
    assert stats["write_jobs"] <= 8, stats
    for t, spec in specs.items():
        want = expected_final_state(
            gen_binlog(spark, spec), mt.feeds[t].registry, spec.max_commit_ts, KEY)
        assert_df_equal(mt.read(t), want, KEY)
        assert f"xcol_{int(t[1:])}" in mt.read(t).columns
    # scoped columns never leak across tables
    assert "xcol_1" not in mt.read("c0").columns


def test_multi_target_ts_finish(spark, tmp_path):
    """Fleet finish-at: every table stops exactly at target_ts, the feed is
    terminal, and each table equals the LWW oracle over its own stream
    clamped to target_ts (changefeed_finish over a multi-table feed)."""
    tgt = 2_500  # mid-stream, past t1's scoped DDL, before the global one
    mt, specs = _build(spark, str(tmp_path / "fin"),
                       cfg=ChangefeedConfig(changefeed_id="mt-fin",
                                            n_buckets=4, target_ts=tgt))
    mt.run()
    assert mt.is_finished and mt.checkpoint() == tgt
    s2 = mt.run()  # terminal no-op
    assert s2["merges"] == 0 and s2["events"] == 0
    for t, spec in specs.items():
        want = expected_final_state(
            gen_binlog(spark, spec), mt.feeds[t].registry, tgt, KEY)
        assert_df_equal(mt.read(t), want, KEY)


def test_partition_add_truncate_reorganize_drop(spark, tmp_path, monkeypatch):
    """The remaining upstream partition DDLs
    (/root/reference/cdc/entry/schema_storage_test.go:824-833):
    ADD PARTITION activates a new span at its barrier, TRUNCATE PARTITION
    clears the span's target, REORGANIZE PARTITION re-shards the old
    span's final state into new spans by the range predicates carried in
    the DDL (post-barrier DML arrives under the new span names), DROP
    PARTITION removes the span from the logical table. Resume replays all
    four barriers idempotently."""
    X1, X2, X3, X4 = 1_500, 2_000, 2_500, 3_000
    sp = BinlogSpec(n_events=4_000, n_convs=100, n_turns=8, seed=31)
    h = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    raw = gen_binlog(spark, sp)
    # family 2's span exists only in (X1, X4] — upstream rows can only be
    # written to a partition while it exists
    raw = raw.filter(~((h == 2) & ((F.col("commit_ts") <= X1) | (F.col("commit_ts") > X4))))
    tbl = (
        F.when(h == 1, "pt#p1")
        .when(h == 2, "pt#p2")
        # family 0: physical home is p0 until the reorganize, then the
        # key's hash partition — the routing key must be IMMUTABLE under
        # key-changing updates (conv_id is; turn_idx is not), exactly as
        # upstream ranges are defined over the partition key
        .when(F.col("commit_ts") <= X3, "pt#p0")
        .when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "pt#p0a")
        .otherwise("pt#p0b")
    )
    binlog = raw.withColumn("table_name", tbl)
    ddl_rows = [
        {"commit_ts": X1, "ddl_type": "add_table_partition",
         "query": "ALTER TABLE pt ADD PARTITION (PARTITION p2 VALUES LESS THAN (25))",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": X1, "table_name": "pt#p2"},
        {"commit_ts": X2, "ddl_type": "truncate_table_partition",
         "query": "ALTER TABLE pt TRUNCATE PARTITION p1",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": X2, "table_name": "pt#p1"},
        {"commit_ts": X3, "ddl_type": "reorganize_partition",
         "query": "ALTER TABLE pt REORGANIZE PARTITION p0 INTO "
                  "(PARTITION p0a, PARTITION p0b)",
         "column": "p0a,p0b", "old_column": "p0",
         "col_type": "pmod(xxhash64(conv_id), 2) = 0",
         "schema_version": X3, "table_name": "pt"},
        {"commit_ts": X4, "ddl_type": "drop_table_partition",
         "query": "ALTER TABLE pt DROP PARTITION p2",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": X4, "table_name": "pt#p2"},
    ]

    def build():
        return MultiTableChangefeed(
            spark, binlog, gen_resolved_log(spark, sp), ddl_rows,
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t.replace('#', '_')}"),
            config=ChangefeedConfig(changefeed_id="pr", n_buckets=4),
            tables=["pt"],
            partitions={"pt": ["p0", "p1"]},
        )

    spans = []  # (span upper bound, write jobs)
    orig = MultiTableChangefeed._apply_span_all

    def record(self, lo, uppers):
        out = orig(self, lo, uppers)
        spans.append((uppers[-1], out["write_jobs"]))
        return out

    monkeypatch.setattr(MultiTableChangefeed, "_apply_span_all", record)
    mt = build()
    assert sorted(mt.feeds) == ["pt#p0", "pt#p1"]
    mt.run()
    monkeypatch.undo()
    assert sorted(mt.feeds) == ["pt#p0a", "pt#p0b", "pt#p1"]
    # the truncate diverges p1's schema chain from its siblings', yet every
    # span after it still writes every span table in ONE job
    after = [w for hi, w in spans if hi > X2]
    assert after and set(after) == {1}, spans
    # the reorganize re-shards by the key predicate, so each family-0 key's
    # final LWW state lands in exactly one new span (per-span registries:
    # the truncate DDL is scoped to pt#p1 alone)
    reg0 = mt.feeds["pt#p0a"].registry
    h2 = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    want_a = expected_final_state(
        raw.filter((h == 0) & (h2 == 0)), reg0, sp.max_commit_ts, KEY)
    want_b = expected_final_state(
        raw.filter((h == 0) & (h2 == 1)), reg0, sp.max_commit_ts, KEY)
    assert_df_equal(mt.read("pt#p0a"), want_a, KEY)
    assert_df_equal(mt.read("pt#p0b"), want_b, KEY)
    # truncate at X2: only post-X2 events of p1 survive
    want_p1 = expected_final_state(
        raw.filter(h == 1), mt.feeds["pt#p1"].registry, sp.max_commit_ts, KEY)
    assert_df_equal(mt.read("pt#p1"), want_p1, KEY)
    # dropped partition left the logical table
    with pytest.raises(KeyError):
        mt.read("pt#p2")
    assert (
        mt.read_logical("pt").count()
        == want_a.count() + want_b.count() + want_p1.count()
    )
    # resume: replaying add/truncate/reorganize/drop is idempotent — the
    # migration merge is recognized, no regression of post-barrier writes
    mt2 = build()
    mt2.run()
    assert_df_equal(mt2.read("pt#p0a"), want_a, KEY)
    assert_df_equal(mt2.read("pt#p0b"), want_b, KEY)
    assert_df_equal(mt2.read("pt#p1"), want_p1, KEY)


def test_reorganize_partition_of_blocked_table_is_skipped(spark, tmp_path):
    """A reorganize_partition barrier on a logical table the block list
    excludes: the fleet runs to completion (and resumes) without ever
    activating the new spans, and the allowed table replicates in full."""
    X = 2_000
    sp = BinlogSpec(n_events=2_000, n_convs=60, n_turns=8, seed=37)
    raw = gen_binlog(spark, sp)
    h = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    tbl = (
        F.when(h == 0, "t0")
        .when(F.col("commit_ts") <= X, "pt#p0")
        .when(F.pmod(F.xxhash64("turn_idx"), F.lit(2)) == 0, "pt#p0a")
        .otherwise("pt#p0b")
    )
    binlog = raw.withColumn("table_name", tbl)
    ddl_rows = [
        {"commit_ts": X, "ddl_type": "reorganize_partition",
         "query": "ALTER TABLE pt REORGANIZE PARTITION p0 INTO "
                  "(PARTITION p0a, PARTITION p0b)",
         "column": "p0a,p0b", "old_column": "p0",
         "col_type": "pmod(xxhash64(turn_idx), 2) = 0",
         "schema_version": X, "table_name": "pt"},
    ]

    def build():
        return MultiTableChangefeed(
            spark, binlog, gen_resolved_log(spark, sp), ddl_rows,
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t.replace('#', '_')}"),
            config=ChangefeedConfig(changefeed_id="blk", n_buckets=4,
                                    table_block=("pt",)),
            tables=["t0", "pt"],
            partitions={"pt": ["p0"]},
        )

    mt = build()
    assert sorted(mt.feeds) == ["t0"]
    mt.run()
    assert sorted(mt.feeds) == ["t0"]
    assert mt.checkpoint() == sp.max_commit_ts
    want = expected_final_state(
        raw.filter(h == 0), mt.feeds["t0"].registry, sp.max_commit_ts, KEY)
    assert_df_equal(mt.read("t0"), want, KEY)
    assert not any(p.startswith("pt") for p in os.listdir(tmp_path))
    # resume replays the barrier below the checkpoint: still a no-op
    mt2 = build()
    mt2.run()
    assert sorted(mt2.feeds) == ["t0"]
    assert_df_equal(mt2.read("t0"), want, KEY)


def test_rename_tables_atomic_swap(spark, tmp_path):
    """ActionRenameTables (schema_storage.go:405): RENAME TABLE a TO b,
    b TO a is ATOMIC — both feeds swap names against the pre-barrier
    snapshot (sequential rename_table application would chain a->b->a
    and collapse the two feeds onto one target). Each logical stream
    stays continuous across the swap: ta's stream appears in the WAL as
    'ta' before X and 'tb' after X, and lands on ONE target throughout."""
    X = 3_000
    sa = BinlogSpec(n_events=3_000, n_convs=80, seed=41)
    sb = BinlogSpec(n_events=3_000, n_convs=80, seed=42)
    a, b = gen_binlog(spark, sa), gen_binlog(spark, sb)
    # the WAL name of each stream flips at the barrier
    wal = (
        a.withColumn("table_name",
                     F.when(F.col("commit_ts") <= X, "ta").otherwise("tb"))
        .unionByName(
            b.withColumn("table_name",
                         F.when(F.col("commit_ts") <= X, "tb").otherwise("ta")))
    )
    ddl_rows = [
        {"commit_ts": X, "ddl_type": "rename_tables",
         "query": "RENAME TABLE ta TO tb, tb TO ta",
         "column": "tb,ta", "old_column": "ta,tb", "col_type": None,
         "schema_version": X, "table_name": None},
    ]

    def build():
        return MultiTableChangefeed(
            spark, wal, gen_resolved_log(spark, sa), ddl_rows,
            table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
            config=ChangefeedConfig(changefeed_id="rns", n_buckets=4),
            tables=["ta", "tb"],
        )

    mt = build()
    mt.run()
    assert sorted(mt.feeds) == ["ta", "tb"]
    # feed 'tb' post-swap IS the old 'ta' feed: its target holds stream a
    want_a = expected_final_state(a, mt.feeds["tb"].registry, sa.max_commit_ts, KEY)
    want_b = expected_final_state(b, mt.feeds["ta"].registry, sb.max_commit_ts, KEY)
    assert_df_equal(mt.read("tb"), want_a, KEY)
    assert_df_equal(mt.read("ta"), want_b, KEY)
    # targets are physically continuous (the swap is metadata-only)
    assert mt.feeds["tb"].target.path.endswith("/ta")
    assert mt.feeds["ta"].target.path.endswith("/tb")
    # resume replays the swap idempotently
    mt2 = build()
    mt2.run()
    assert_df_equal(mt2.read("tb"), want_a, KEY)
    assert_df_equal(mt2.read("ta"), want_b, KEY)


def test_recover_table_and_batch_create(spark, tmp_path):
    """ActionRecoverTable (snapshot.go:51,492 — treated as create): a
    dropped table's retained target IS the recovered content; DML in the
    dropped gap never replicates; post-recover DML applies on top.
    ActionCreateTables: one barrier creates several tables at once."""
    X, Y = 2_000, 4_000
    sa = BinlogSpec(n_events=5_000, n_convs=80, seed=51)
    sb = BinlogSpec(n_events=5_000, n_convs=80, seed=52)
    a = gen_binlog(spark, sa).withColumn("table_name", F.lit("ta"))
    b = gen_binlog(spark, sb)
    # two batch-created tables split one stream by conv hash
    b = b.withColumn(
        "table_name",
        F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "tn0").otherwise("tn1"),
    ).filter(F.col("commit_ts") > X)
    wal = a.unionByName(b)
    ddl_rows = [
        {"commit_ts": X, "ddl_type": "drop_table", "query": "DROP TABLE ta",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": X, "table_name": "ta"},
        {"commit_ts": X, "ddl_type": "create_tables",
         "query": "CREATE TABLE tn0 (...); CREATE TABLE tn1 (...)",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": X, "table_name": "tn0,tn1"},
        {"commit_ts": Y, "ddl_type": "recover_table", "query": "RECOVER TABLE ta",
         "column": None, "old_column": None, "col_type": None,
         "schema_version": Y, "table_name": "ta"},
    ]
    mt = MultiTableChangefeed(
        spark, wal, gen_resolved_log(spark, sa), ddl_rows,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="rcv", n_buckets=4),
        tables=["ta"],
    )
    mt.run()
    assert sorted(mt.feeds) == ["ta", "tn0", "tn1"]
    reg = mt.feeds["ta"].registry
    # recovered = pre-drop state + post-recover DML; the gap (X, Y] is lost
    want_a = expected_final_state(
        gen_binlog(spark, sa).filter(
            (F.col("commit_ts") <= X) | (F.col("commit_ts") > Y)),
        reg, sa.max_commit_ts, KEY)
    assert_df_equal(mt.read("ta"), want_a, KEY)
    # batch-created tables consumed exactly their post-create events
    h2 = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for t, cond in (("tn0", h2 == 0), ("tn1", h2 == 1)):
        want = expected_final_state(
            gen_binlog(spark, sb).filter(cond & (F.col("commit_ts") > X)),
            mt.feeds[t].registry, sb.max_commit_ts, KEY)
        assert_df_equal(mt.read(t), want, KEY)


@pytest.mark.parametrize("n_tables,n_buckets", [(3, 4), (2, 1)],
                         ids=["aligned", "spread"])
def test_fleet_bootstrap_state_identical_and_single_pass(
        spark, tmp_path, write_plans, n_tables, n_buckets):
    """Fleet initial load: when every applying table is empty, the span
    folds once and writes every table's compacted BASE in one job — final
    state, checkpoints and per-window batch ids identical to the
    journal+delta path; bases populated, zero deltas, journal untouched.
    Fewer (table, bucket) slots than cores take the spread placement: two
    exchanges instead of one."""
    specs = {f"f{i}": BinlogSpec(n_events=3_000, n_convs=60, seed=70 + i)
             for i in range(n_tables)}
    parts = [gen_binlog(spark, sp).withColumn("table_name", F.lit(t))
             for t, sp in specs.items()]
    wal = parts[0]
    for p in parts[1:]:
        wal = wal.unionByName(p)
    resolved = gen_resolved_log(spark, next(iter(specs.values())))

    def build(base, fast):
        return MultiTableChangefeed(
            spark, wal, resolved, None,
            table_factory=lambda t: LakeTable(spark, f"{base}/{t}"),
            config=ChangefeedConfig(changefeed_id="fb", n_buckets=n_buckets,
                                    bootstrap_fast_path=fast),
            tables=list(specs),
        )

    fast = build(f"{tmp_path}/fast", True)
    s_fast, group = in_job_group(spark, fast.run)
    assert len(write_plans) == 1
    n_slots, dp = n_tables * n_buckets, spark.sparkContext.defaultParallelism
    assert write_plans[0].count("Exchange") == (1 if n_slots >= dp else 2), write_plans[0]
    # the (table, bucket) slots share min(slots, cores) tasks of the write's
    # stage, and each slot still lands in one file
    assert write_stage_tasks(spark, group) == [min(n_slots, dp)]
    slow = build(f"{tmp_path}/slow", False)
    slow.run()
    for t in specs:
        assert_df_equal(fast.read(t), slow.read(t), KEY)
        mf = fast.feeds[t].target.manifest()
        assert all(len(i["files"]) == 1 for i in mf["buckets"].values())
        assert not mf.get("deltas")
        assert (fast.feeds[t].target.checkpoint["resolved_ts"]
                == slow.feeds[t].target.checkpoint["resolved_ts"])
        assert (set(fast.feeds[t].target.committed_batch_ids())
                == set(slow.feeds[t].target.committed_batch_ids()))
    assert s_fast["write_jobs"] == 1
    assert not fast.journal.pending()
    # replaying the whole feed is a no-op (recognition at bootstrap commit)
    again = build(f"{tmp_path}/fast", True)
    again.run()
    for t in specs:
        assert_df_equal(again.read(t), slow.read(t), KEY)
