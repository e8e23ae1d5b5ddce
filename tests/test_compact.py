"""Compaction as one placed fold over a group of tables.

``LakeTable.compact(with_tables=...)`` folds every table of a group —
affected-bucket base rows plus all delta rows — through one placement
exchange and one write. In the spirit of SPES (equivalence under bag
semantics) the property test holds each table's post-compaction state
equal to its plain MOR read before compaction. The job-count and plan
guards make a fallback to per-table work fail loudly; the crash test
injects a failure between the group's per-table manifest commits.
"""

import itertools
import os
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal, in_job_group, write_stage_tasks
from ticdc_spark.operators.placement import (aligned_partition_tokens, murmur3_long,
                                             slot_partitions)
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
from ticdc_spark.streaming.multi import MultiTableChangefeed
from ticdc_spark.streaming.pipeline import ChangefeedConfig, expected_final_state

KEY = ["conv_id", "turn_idx"]
META = ["_commit_ts", "_start_ts", "_op_rank", "_deleted"]

_TYPES = {"conv_id": "string", "turn_idx": "int", "text": "string", "tool": "string",
          "_commit_ts": "long", "_start_ts": "long", "_op_rank": "int", "_deleted": "int"}

_ts = itertools.count(1_000)


def _jobs_in_group(spark, fn) -> tuple:
    """``fn()`` and the Spark jobs it launched, counted under a job group
    of its own."""
    out, group = in_job_group(spark, fn)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _create(spark, path, layout="flat", n_buckets=4, extra=False) -> LakeTable:
    t = LakeTable(spark, path)
    fields = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string")]
    t.create(key=KEY, fields=fields + ([("tool", "string")] if extra else []),
             n_buckets=n_buckets, with_order_cols=True, delta_layout=layout)
    return t


def _append(spark, t, rows, bid) -> None:
    """One delta batch: ``rows`` = [(conv, deleted)], at most one per key
    (a later duplicate wins); every row gets a fresh commit-ts."""
    names = [x[0] for x in t.manifest()["schema"]]
    schema = ", ".join(f"{n} {_TYPES[n]}" for n in names)
    batch = {}
    for conv, deleted in rows:
        ts = next(_ts)
        batch[conv] = {"conv_id": f"c{conv}", "turn_idx": 0, "text": f"v{ts}",
                       "tool": f"x{ts}", "_commit_ts": ts, "_start_ts": ts - 1,
                       "_op_rank": 1 if deleted else 2, "_deleted": int(deleted)}
    df = spark.createDataFrame([tuple(r[n] for n in names) for r in batch.values()], schema)
    t.append_delta(df, bid, resolved_ts=next(_ts))


_rows = st.lists(st.tuples(st.integers(0, 11), st.booleans()), max_size=6)


@st.composite
def _fleets(draw):
    """1-3 tables: layout, bucket count and schema vary (so a fleet mixes
    fold signatures), an optional compacted base, then 1-3 deltas, any of
    which may be zero-row."""
    tables = [
        {"layout": draw(st.sampled_from(["flat", "bucketed"])),
         "n_buckets": draw(st.sampled_from([2, 4])),
         "extra": draw(st.booleans()),
         "base": draw(_rows),
         "deltas": draw(st.lists(_rows, min_size=1, max_size=3))}
        for _ in range(draw(st.integers(1, 3)))
    ]
    return tables, draw(st.booleans())


def _snapshot(t) -> list:
    """Every stored row, tombstones and LWW metadata included, ``_deleted``
    and the row's bucket first."""
    bucket = LakeTable._bucket_expr(t.manifest()["n_buckets"], KEY[0])
    return sorted(tuple(r) for r in t.read(include_deleted=True, include_meta=True)
                  .select("_deleted", bucket, *sorted(t.read().columns), *META[:3])
                  .collect())


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_fleets())
@example(([{"layout": "flat", "n_buckets": 4, "extra": False, "base": [(1, False)],
            "deltas": [[], []]}], True))  # only zero-row deltas
@example(([{"layout": "flat", "n_buckets": 4, "extra": False,
            "base": [(c, True) for c in range(8)], "deltas": [[(0, False)]]}],
          True))  # tombstones in buckets the deltas do not touch
@example(([{"layout": "flat", "n_buckets": 4, "extra": False, "base": [(1, False), (2, True)],
            "deltas": [[(1, True), (3, False)], []]},
           {"layout": "bucketed", "n_buckets": 4, "extra": False, "base": [],
            "deltas": [[(1, False), (4, True)]]},
           {"layout": "flat", "n_buckets": 2, "extra": True, "base": [(5, False)],
            "deltas": [[(5, False)]]}], False))
def test_group_compact_equals_plain_read(spark, tmp_path, case):
    specs, drop = case
    root = tmp_path / uuid.uuid4().hex
    tables = []
    for i, s in enumerate(specs):
        t = _create(spark, str(root / f"t{i}"), s["layout"], s["n_buckets"], s["extra"])
        if s["base"]:
            _append(spark, t, s["base"], "base")
            t.compact(drop_tombstones=False)
        for k, rows in enumerate(s["deltas"]):
            _append(spark, t, rows, f"d{k}")
        tables.append(t)
    before = [(_snapshot(t), t.checkpoint, t.committed_batch_ids()) for t in tables]
    res = tables[0].compact(drop_tombstones=drop, with_tables=tables[1:])
    assert res["status"] == "compacted"
    for t, (rows, ck, bids) in zip(tables, before):
        # tombstones go from the rewritten buckets only; the others are
        # carried forward untouched
        rewritten = res.get("tables", {t.path: res})[t.path]["buckets"]
        want = [r for r in rows if not (drop and r[0] == 1 and r[1] in rewritten)]
        assert _snapshot(t) == want
        assert t.delta_depth() == 0
        assert t.checkpoint == ck
        assert t.committed_batch_ids() == bids


def _fleet(spark, root, layout, n):
    tables = []
    for i in range(n):
        t = _create(spark, os.path.join(root, f"t{i}"), layout)
        _append(spark, t, [(c, False) for c in range(12)], "base")
        t.compact()
        _append(spark, t, [(1, False), (2, True), (7, False)], "d1")
        _append(spark, t, [(3, False), (9, False)], "d2")
        tables.append(t)
    return tables


def test_flat_fleet_compaction_is_one_fold(spark, tmp_path, write_plans):
    t0, t1 = _fleet(spark, str(tmp_path), "flat", 2)
    write_plans.clear()
    res, group = in_job_group(spark, lambda: t0.compact(with_tables=[t1]))
    n = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    assert n <= 4, f"compacting a 2-table flat fleet launched {n} Spark jobs"
    assert {r["status"] for r in res["tables"].values()} == {"compacted"}
    assert len(write_plans) == 1, "one write for the whole group"
    assert write_plans[0].count("Exchange") == 1, write_plans[0]
    # the (table, bucket) slots share min(slots, cores) tasks of the fold's
    # stage, and each slot still lands in one file
    n_slots = sum(len(r["buckets"]) for r in res["tables"].values())
    dp = spark.sparkContext.defaultParallelism
    assert write_stage_tasks(spark, group) == [min(n_slots, dp)]
    for t in (t0, t1):
        for b in res["tables"][t.path]["buckets"]:
            assert len(t.manifest()["buckets"][str(b)]["files"]) == 1


def test_bucketed_compaction_takes_buckets_from_manifest(spark, tmp_path, write_plans):
    (t,) = _fleet(spark, str(tmp_path), "bucketed", 1)
    write_plans.clear()
    res, n = _jobs_in_group(spark, t.compact)
    assert res["status"] == "compacted" and res["buckets"]
    assert n <= 2, f"compacting a bucketed table launched {n} Spark jobs"
    assert len(write_plans) == 1 and write_plans[0].count("Exchange") == 1


def test_mixed_signatures_fold_separately(spark, tmp_path):
    """Tables whose bucket count or schema differ still compact in one
    call, one fold per signature."""
    a = _create(spark, str(tmp_path / "a"), n_buckets=4)
    b = _create(spark, str(tmp_path / "b"), n_buckets=2)
    c = _create(spark, str(tmp_path / "c"), extra=True)
    for t in (a, b, c):
        _append(spark, t, [(1, False), (2, False), (3, True)], "d1")
    before = {t.path: _snapshot(t) for t in (a, b, c)}
    res = a.compact(drop_tombstones=False, with_tables=[b, c])
    assert set(res["tables"]) == {a.path, b.path, c.path}
    for t in (a, b, c):
        assert _snapshot(t) == before[t.path]
        assert t.delta_depth() == 0


@given(st.integers(1, 300), st.integers(1, 64))
@settings(max_examples=200, deadline=None)
def test_slot_partitions_place_each_slot_once_balanced(n_slots, parallelism):
    """Spark-free: the slots fill ``min(n_slots, parallelism)`` partitions,
    each slot in one, per-partition slot counts within one of each other,
    and each slot's token hashes (Spark's Murmur3, as ``HashPartitioning``
    routes) into that slot's partition."""
    parts = slot_partitions(n_slots, parallelism)
    n = min(n_slots, parallelism)
    assert len(parts) == n_slots
    counts = [parts.count(p) for p in range(n)]
    assert sum(counts) == n_slots and max(counts) - min(counts) <= 1
    toks = aligned_partition_tokens(n)
    assert [murmur3_long(toks[p]) % n for p in parts] == parts


def test_placement_tokens_launch_no_job(spark):
    toks, n = _jobs_in_group(spark, lambda: aligned_partition_tokens(53))
    assert n == 0
    hashed = spark.createDataFrame([(t,) for t in toks], "x long").select(
        F.pmod(F.hash("x"), F.lit(53)).alias("p")).collect()
    assert [r["p"] for r in hashed] == list(range(53))


_LONG = st.integers(-(2**63), 2**63 - 1)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_LONG, min_size=1, max_size=40))
@example([0, 1, -1, 2**63 - 1, -(2**63), 2**32, 2**32 - 1, -(2**31)])
def test_python_murmur3_matches_spark_hash(spark, xs):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x long")
    got = [r["h"] for r in df.orderBy("i").select(F.hash("x").alias("h")).collect()]
    assert got == [murmur3_long(x) for x in xs]


# ---------------- crash between the group's per-table commits ----------------


def _crash_fleet(spark, root):
    specs = {t: BinlogSpec(n_events=3_000, n_convs=80, seed=700 + i)
             for i, t in enumerate(["a", "b"])}
    wal = None
    for t, spec in specs.items():
        p = gen_binlog(spark, spec).withColumn("table_name", F.lit(t))
        wal = p if wal is None else wal.unionByName(p)
    mt = MultiTableChangefeed(
        spark, wal, gen_resolved_log(spark, specs["a"]), None,
        table_factory=lambda t: LakeTable(spark, os.path.join(root, t)),
        config=ChangefeedConfig(changefeed_id="crash", n_buckets=4, compact_every=2,
                                max_windows_per_job=1, bootstrap_fast_path=False),
        tables=list(specs))
    return mt, specs


def _referenced(t) -> set:
    out = set()
    for v in t._versions():
        m = t.manifest(v)
        for info in m["buckets"].values():
            out.update(info["files"])
        for d in m.get("deltas", []):
            out.update(d["files"])
    return out


def test_crash_between_group_commits_recovers(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    mt, specs = _crash_fleet(spark, root)
    armed = {"compact": False, "commits": 0}
    orig_compact, orig_commit = LakeTable.compact, LakeTable._commit

    def compact(self, *a, **kw):
        armed["compact"] = bool(kw.get("with_tables"))
        try:
            return orig_compact(self, *a, **kw)
        finally:
            armed["compact"] = False

    def commit(self, m):
        if armed["compact"]:
            armed["commits"] += 1
            if armed["commits"] == 2:
                raise RuntimeError("injected crash before the second table's commit")
        return orig_commit(self, m)

    monkeypatch.setattr(LakeTable, "compact", compact)
    monkeypatch.setattr(LakeTable, "_commit", commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        mt.run()
    monkeypatch.undo()
    # one table committed its compaction, the other did not
    depths = sorted(mt.feeds[t].target.delta_depth() for t in specs)
    assert depths[0] == 0 and depths[1] >= 2

    mt2, _ = _crash_fleet(spark, root)
    mt2.run()
    for t, spec in specs.items():
        target = mt2.feeds[t].target
        want = expected_final_state(gen_binlog(spark, spec), mt2.feeds[t].registry,
                                    spec.max_commit_ts, KEY)
        assert_df_equal(target.read(), want, KEY)
        # every window's batch committed exactly once
        lin = target.lineage_df()
        assert lin.groupBy("batch_id", "partition_id").count().filter("count > 1").count() == 0
        assert lin.select("batch_id").distinct().count() == spec.n_blocks
        assert lin.agg(F.sum("event_count")).collect()[0][0] == spec.n_events
        # no retained manifest references a missing file
        assert all(os.path.exists(f) for f in _referenced(target))
        # expiry reaps the crashed fold's orphaned files
        target.expire_snapshots(keep_last=1)
        live = {os.path.realpath(f) for f in _referenced(target)}
        for d, _, files in os.walk(target.path):
            for f in files:
                if f.endswith(".parquet"):
                    assert os.path.realpath(os.path.join(d, f)) in live
        assert_df_equal(target.read(), want, KEY)
