"""Lineage from the mount UDF's tap, checked against a plain reference.

Every delta write takes its per-(batch, source partition) lineage from the
tap inside the mount UDF (``functions/mount.py::LineageTap``). A reference
that shares none of that machinery must agree with it on every feed shape:
for each committed batch, ``(batch_id, partition_id) -> (event_count,
max_commit_ts)`` equals a plain ``groupBy(window, partition_id)
.agg(count, max(commit_ts))`` over the prepared WAL slice (differential
testing after SPES, ICDE 2022). A tap that ran outside its write's result
stage, or a mount UDF that Catalyst evaluated once per extracted field,
would count rows twice and fail here.

The job-count guards hold the one MOR write form at two Spark jobs (the
dedup's map stage and the write) whatever the span size or table count."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import in_job_group
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
from ticdc_spark.streaming.structured import MULTI_BINLOG_SCHEMA, run_streaming_multi


def _tapped(table: LakeTable) -> set:
    return {(r["batch_id"], r["partition_id"], r["event_count"], r["max_commit_ts"])
            for r in table.lineage_df().collect()}


def _reference(spark, prepared, windows: list) -> set:
    """The plain aggregate over ``prepared``: ``windows`` = [(batch_id, lo,
    hi)], a window holding the events with lo < commit_ts <= hi."""
    wins = spark.createDataFrame(windows, "batch_id string, lo long, hi long")
    joined = prepared.join(F.broadcast(wins), (F.col("commit_ts") > F.col("lo"))
                           & (F.col("commit_ts") <= F.col("hi")))
    return {tuple(r) for r in joined.groupBy("batch_id", "partition_id")
            .agg(F.count(F.lit(1)), F.max("commit_ts")).collect()}


def _windows(feed_id: str, table: LakeTable) -> list:
    """Every committed window of ``table``, from its syncpoints."""
    rts = sorted({r for r, _ in table.syncpoints()})
    return [(f"{feed_id}:{lo}:{hi}", lo, hi) for lo, hi in zip([0] + rts[:-1], rts)]


def _check_feed(spark, feed: Changefeed, wal) -> None:
    prepared, _ = feed._prepare_window(wal, "reference")
    want = _reference(spark, prepared, _windows(feed.config.changefeed_id, feed.target))
    got = _tapped(feed.target)
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
    assert want


def _single(spark, tmp_path, spec, binlog=None, runs=(None,), **cfg):
    binlog = gen_binlog(spark, spec) if binlog is None else binlog
    ddl = gen_ddl_log(spark, spec).collect() if spec.ddls else None
    feed = Changefeed(spark, binlog, gen_resolved_log(spark, spec), ddl,
                      LakeTable(spark, f"{tmp_path}/t"),
                      ChangefeedConfig(changefeed_id="lt", n_buckets=4, **cfg))
    for max_merges in runs:
        feed.run(max_merges=max_merges)
    _check_feed(spark, feed, binlog)
    return feed


def test_lone_windows(spark, tmp_path):
    _single(spark, tmp_path, BinlogSpec(n_events=3_000, n_convs=60, seed=11, block=500),
            max_windows_per_job=1)


def test_sixteen_window_span(spark, tmp_path):
    # a lone window first, so the span lands on a non-empty table as deltas
    spec = BinlogSpec(n_events=8_500, n_convs=120, seed=12, block=500)
    feed = _single(spark, tmp_path, spec, runs=(1, None))
    assert len(feed.target.syncpoints()) == 17


def test_bootstrap_span(spark, tmp_path):
    # the one other lineage mechanism: the bootstrap's WAL re-scan
    _single(spark, tmp_path, BinlogSpec(n_events=3_000, n_convs=60, seed=13, block=500))


def test_ddl_barrier_sub_window(spark, tmp_path):
    # the add-column DDL sits inside a window: (lo, 2250] is a barrier
    # sub-window
    spec = BinlogSpec(n_events=3_000, n_convs=60, seed=14, block=500,
                      ddls=(DDLSpec(commit_ts=2_250, ddl_type="add_column",
                                    column="tool_args"),))
    feed = _single(spark, tmp_path, spec, runs=(1, None))
    assert 2_250 in {r for r, _ in feed.target.syncpoints()}


KEY_CHANGES = BinlogSpec(n_events=3_000, n_convs=60, seed=14, block=500, key_change_pct=30)


def test_key_changes_window_totals(spark, tmp_path):
    """Key-changing updates split into D + I before the dedup: every
    window still counts each prepared row once, in total."""
    binlog = gen_binlog(spark, KEY_CHANGES)
    feed = Changefeed(spark, binlog, gen_resolved_log(spark, KEY_CHANGES), None,
                      LakeTable(spark, f"{tmp_path}/t"),
                      ChangefeedConfig(changefeed_id="lt", n_buckets=4))
    feed.run(max_merges=1)
    feed.run()
    prepared, _ = feed._prepare_window(binlog, "reference")

    def totals(rows) -> dict:
        out: dict = {}
        for bid, _, n, mx in rows:
            n0, mx0 = out.get(bid, (0, mx))
            out[bid] = (n0 + n, max(mx0, mx))
        return out

    want = totals(_reference(spark, prepared, _windows("lt", feed.target)))
    assert totals(_tapped(feed.target)) == want and len(want) == 6


@pytest.mark.xfail(strict=True, reason=(
    "lineage attributes a key's events to its winning row's partition; the "
    "D half of a key-changing update carries the new key's partition_id"))
def test_key_changes_per_partition(spark, tmp_path):
    _single(spark, tmp_path, KEY_CHANGES, runs=(1, None))


def test_checksum_quarantine(spark, tmp_path):
    spec = BinlogSpec(n_events=3_000, n_convs=60, seed=15, block=500)
    good = F.md5(F.coalesce(F.col("payload"), F.lit("")))
    bad = F.md5(F.concat(F.coalesce(F.col("payload"), F.lit("")), F.lit("X")))
    binlog = gen_binlog(spark, spec).withColumn(
        "checksum", F.when(F.col("commit_ts") % 7 == 0, bad).otherwise(good))
    _single(spark, tmp_path, spec, binlog=binlog, runs=(1, None), verify_checksums=True)


@pytest.mark.parametrize("mode", ["cow", "force_replicate"])
def test_per_window_sinks(spark, tmp_path, mode):
    spec = BinlogSpec(n_events=2_000, n_convs=50, seed=16, block=500)
    cfg = ({"sink_mode": "cow"} if mode == "cow" else
           {"force_replicate": True})
    _single(spark, tmp_path, spec, runs=(1, None), **cfg)


def _fleet(spark, base, tables: list, col_types: dict, n_events=2_000):
    """A fleet whose tables in ``col_types`` add a scoped ``xcol`` of the
    given type at 2250 (inside a window), so their chains diverge."""
    wal = None
    for i, t in enumerate(tables):
        part = gen_binlog(spark, BinlogSpec(n_events=n_events, n_convs=50, seed=40 + i,
                                            block=500)).withColumn("table_name", F.lit(t))
        wal = part if wal is None else wal.unionByName(part)
    ddl = [{"commit_ts": 2_250, "ddl_type": "add_column", "query": "", "column": "xcol",
            "old_column": None, "col_type": ty, "schema_version": 2_250, "table_name": t}
           for t, ty in col_types.items()]
    spec = BinlogSpec(n_events=n_events, n_convs=50, seed=40, block=500)
    mt = MultiTableChangefeed(
        spark, wal, gen_resolved_log(spark, spec), ddl,
        table_factory=lambda t: LakeTable(spark, os.path.join(base, t)),
        config=ChangefeedConfig(changefeed_id="fl", n_buckets=4), tables=tables)
    return mt, wal


@pytest.mark.parametrize("col_types", [{"t1": "string"}, {"t1": "string", "t2": "int"}],
                         ids=["diverged_chains", "type_conflict"])
def test_fleet(spark, tmp_path, col_types):
    mt, wal = _fleet(spark, str(tmp_path), ["t0", *col_types], col_types)
    mt.run(max_merges_per_table=1)
    stats = mt.run()
    # a type conflict writes each post-DDL span in two groups
    assert (stats["write_jobs"] > stats["windows"]) == (len(col_types) > 1), stats
    for t, f in mt.feeds.items():
        _check_feed(spark, f, wal.filter(F.col("table_name") == t).drop("table_name"))


def test_streaming_multi(spark, tmp_path):
    """Each drain is one micro-batch here (no file cap), so a batch's
    reference slice is exactly the files that landed before it."""
    src = f"{tmp_path}/wal"
    parts = {t: gen_binlog(spark, BinlogSpec(n_events=1_500, n_convs=40, seed=60 + i,
                                             block=500)).withColumn("table_name", F.lit(t))
             for i, t in enumerate(["a", "b"])}
    cfg = ChangefeedConfig(changefeed_id="ls", n_buckets=4)

    def drain(epoch: int, lo: int, hi: int) -> list:
        for t, p in parts.items():
            (p.filter((F.col("commit_ts") > lo) & (F.col("commit_ts") <= hi))
             .write.mode("append").parquet(src))
        run_streaming_multi(spark, src, lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
                            config=cfg, checkpoint_dir=f"{tmp_path}/ck")
        return [(f"ls/{t}:epoch-{epoch}", lo, hi) for t in parts]

    windows = drain(0, 0, 1_800) + drain(1, 1_800, 10**9)
    wal = spark.read.schema(MULTI_BINLOG_SCHEMA).parquet(src)
    for t in parts:
        prepared = wal.filter(F.col("table_name") == t)
        want = _reference(spark, prepared, [w for w in windows if w[0].startswith(f"ls/{t}:")])
        assert _tapped(LakeTable(spark, f"{tmp_path}/{t}")) == want
        assert len(want) == 2 * 4  # two epochs x four source partitions


# ---------------- job-count guards ----------------


def _jobs(spark, fn) -> int:
    _, group = in_job_group(spark, fn)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("n_windows", [1, 4])
def test_mor_span_is_two_jobs(spark, tmp_path, n_windows):
    spec = BinlogSpec(n_events=3_000, n_convs=60, seed=21, block=500)
    feed = Changefeed(spark, gen_binlog(spark, spec), gen_resolved_log(spark, spec), None,
                      LakeTable(spark, f"{tmp_path}/t"),
                      ChangefeedConfig(changefeed_id="j", n_buckets=4))
    feed.run(max_merges=1)
    lo = feed.target.checkpoint["resolved_ts"]
    uppers = [lo + 500 * (i + 1) for i in range(n_windows)]
    n = _jobs(spark, lambda: feed._apply_span(lo, uppers))
    assert feed.target.checkpoint["resolved_ts"] == uppers[-1]
    assert n <= 2, f"a {n_windows}-window MOR span launched {n} Spark jobs"


def test_fleet_mor_span_is_two_jobs(spark, tmp_path):
    mt, _ = _fleet(spark, str(tmp_path), ["t0", "t1"], {})
    mt.run(max_merges_per_table=1)
    lo = mt.checkpoint()
    n = _jobs(spark, lambda: mt._apply_span_all(lo, [lo + 500, lo + 1_000]))
    assert mt._state["t1"]["ckpt"] == lo + 1_000
    assert n <= 2, f"a 2-table x 2-window fleet span launched {n} Spark jobs"
