"""W8: GC safepoint / snapshot expiry + bounded manifest metadata
(/root/reference/cdc/owner/changefeed.go:363-376)."""

import os

from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

KEY = ["conv_id", "turn_idx"]
FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string")]


def _mk(spark, path):
    t = LakeTable(spark, path)
    t.create(key=KEY, fields=FIELDS, n_buckets=2, with_order_cols=True)
    return t


def _batch(spark, i):
    return spark.createDataFrame(
        [("c", 1, f"v{i}", "I", i, i - 1, 3, 0)],
        "conv_id string, turn_idx int, text string, op string, _commit_ts long, "
        "_start_ts long, _op_rank int, _deleted int",
    )


def test_manifest_size_bounded_across_batches(spark, tmp_table_path):
    """100 commits: the manifest must stay O(live state), not O(history) —
    lineage rides in append-only sidecars, recognized batch_ids are pruned
    by the monotone-window rule."""
    t = _mk(spark, tmp_table_path)
    sizes = []
    for i in range(1, 101):
        t.merge(
            _batch(spark, i), f"b{i}",
            lineage_rows=[{"batch_id": f"b{i}", "partition_id": 0, "resolved_ts": i,
                           "event_count": 1, "max_commit_ts": i}],
            resolved_ts=i,
        )
        mf = os.path.join(t.meta_dir, f"v{t.manifest()['version']:08d}.json")
        sizes.append(os.path.getsize(mf))
        if i % 20 == 0:
            t.expire_snapshots(keep_last=2)
    # batch_ids pruned to the frontier batch only
    assert len(t.manifest()["batch_ids"]) == 1
    # manifest growth over 80 batches is bounded (syncpoints: 2 ints/commit);
    # the unbounded version embedded every lineage row + every batch id
    assert sizes[-1] - sizes[19] < 8_000
    # lineage survives in sidecars — all 100 batches auditable
    assert t.lineage_df().count() == 100


def test_manifest_flat_in_streaming_epoch_mode(spark, tmp_table_path):
    """60 arrival-ordered (resolved_ts=None) commits with monotone epochs:
    the manifest byte-size must be FLAT — epoch batch_ids prune by the
    epoch high-water mark, syncpoints live in a sidecar."""
    t = _mk(spark, tmp_table_path)
    sizes = []
    for e in range(60):
        t.merge(_batch(spark, e + 1), f"cf:epoch-{e}", epoch=e)
        mf = os.path.join(t.meta_dir, f"v{t.manifest()['version']:08d}.json")
        sizes.append(os.path.getsize(mf))
    m = t.manifest()
    assert len(m["batch_ids"]) == 1  # only the newest epoch retained
    assert m["checkpoint"]["epoch_hwm"] == 59
    # byte-flat up to integer digit-width (epoch/seq counters), not O(history)
    assert sizes[-1] - sizes[10] < 50
    # an epoch BELOW the feed's high-water mark with an unseen id cannot be
    # a legitimate replay (Spark only re-delivers the newest epoch) — it
    # means the streaming checkpoint was reset; the sink must refuse loudly
    # rather than silently skip what may be new data
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="epoch regression"):
        t.merge(_batch(spark, 3), "cf:epoch-3", epoch=3)
    # re-delivery of the NEWEST epoch (the only one Spark can re-deliver)
    res = t.merge(_batch(spark, 777), "cf:epoch-59", epoch=59)
    assert res["status"] == "skipped"
    # a SECOND changefeed's epochs are an independent namespace: its epoch 0
    # must apply, not be judged against cf's high-water mark of 59
    res = t.merge(_batch(spark, 70), "cf2:epoch-0", epoch=0)
    assert res["status"] == "committed"
    final = {r["_commit_ts"] for r in t.read(include_meta=True).collect()}
    assert final == {70}


def test_manifest_flat_in_resolved_ts_mode(spark, tmp_table_path):
    """60 resolved-ts commits: manifest byte-size flat (syncpoints rotated
    to the sidecar; batch_ids pruned by the monotone-window rule) while the
    full syncpoint history stays readable."""
    t = _mk(spark, tmp_table_path)
    sizes = []
    for i in range(1, 61):
        t.merge(_batch(spark, i), f"b{i}", resolved_ts=i)
        mf = os.path.join(t.meta_dir, f"v{t.manifest()['version']:08d}.json")
        sizes.append(os.path.getsize(mf))
    assert sizes[-1] - sizes[10] < 50  # flat up to counter digit-width
    sp = t.syncpoints()
    assert len(sp) == 60 and sp[0][0] == 1 and sp[-1][0] == 60
    # new batch SHARING the checkpoint ts is NOT silently dropped (strict <)
    res = t.merge(_batch(spark, 999), "b-extra", resolved_ts=60)
    assert res["status"] == "committed"
    # but replaying an already-committed batch at the checkpoint is
    res = t.merge(_batch(spark, 60), "b60", resolved_ts=60)
    assert res["status"] == "skipped"


def test_expire_honors_safepoint_and_gcs_files(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    for i in range(1, 9):
        t.merge(_batch(spark, i), f"b{i}", resolved_ts=i)
    vs = t._versions()
    assert len(vs) == 9  # create + 8 commits
    # safepoint at resolved_ts 6: versions with checkpoint >= 6 are protected
    res = t.expire_snapshots(keep_last=1, safepoint_ts=6)
    kept = t._versions()
    # versions 7..9 (checkpoints 6,7,8) + latest retained; older gone
    assert all(t.manifest(v)["checkpoint"]["resolved_ts"] >= 6 or v == kept[-1]
               for v in kept)
    assert res["expired_versions"] and min(kept) > min(vs)
    # expired versions are unreadable, retained ones still time-travel
    try:
        t.manifest(vs[0])
        raised = False
    except FileNotFoundError:
        raised = True
    assert raised
    for v in kept:
        assert t.read(version=v).count() >= 0  # files all present
    # live read unaffected
    assert t.read().count() == 1
    # data files on disk are exactly the union of retained manifests' files
    live = set()
    for v in kept:
        m = t.manifest(v)
        for info in m["buckets"].values():
            live.update(info["files"])
        for d in m.get("deltas", []):
            live.update(d["files"])
    on_disk = set()
    for root, _, files in os.walk(t.data_dir):
        on_disk.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    assert on_disk == live
    # and nothing else is left behind: every other file is a live file's
    # checksum sidecar or a write marker of a dir whose subtree still
    # holds a live file, and no dir is empty
    live_dirs = {os.path.dirname(f) for f in live}
    for root, dirs, files in os.walk(t.data_dir):
        holds_live = any(d == root or d.startswith(root + os.sep) for d in live_dirs)
        assert files or dirs or root == t.data_dir, f"empty dir left: {root}"
        for f in files:
            p = os.path.join(root, f)
            assert (p in live
                    or (f.startswith(".") and f.endswith(".crc")
                        and os.path.join(root, f[1:-4]) in live)
                    or (f in ("_SUCCESS", "._SUCCESS.crc") and holds_live)), p


def test_expire_never_removes_versions_at_or_after_safepoint(spark, tmp_table_path):
    """The GC-safepoint law, stated directly: after expiry, every checkpoint
    >= safepoint is still replayable (its manifest version exists)."""
    t = _mk(spark, tmp_table_path)
    for i in range(1, 6):
        t.merge(_batch(spark, i), f"b{i}", resolved_ts=i)
    before = {v: t.manifest(v)["checkpoint"]["resolved_ts"] for v in t._versions()}
    t.expire_snapshots(keep_last=1, safepoint_ts=3)
    after = set(t._versions())
    for v, ck in before.items():
        if ck >= 3:
            assert v in after, f"version {v} (checkpoint {ck}) wrongly expired"


def test_engine_gc_tick(spark, tmp_table_path):
    """The driver loop's expire_every hook keeps the version count bounded
    across a replay while the final state stays correct."""
    from tests.conftest import assert_df_equal
    from ticdc_spark.streaming.pipeline import expected_final_state

    spec = BinlogSpec(n_events=6_000, n_convs=150)
    cfg = ChangefeedConfig(n_buckets=4, expire_every=2, expire_keep_last=2)
    cf = Changefeed(
        spark, gen_binlog(spark, spec), gen_resolved_log(spark, spec), None,
        LakeTable(spark, tmp_table_path), cfg,
    )
    cf.run()
    assert len(cf.target._versions()) <= 4
    want = expected_final_state(gen_binlog(spark, spec), cf.registry, spec.max_commit_ts, KEY)
    assert_df_equal(cf.target.read(), want, KEY)


def test_pruned_batch_replay_still_skipped(spark, tmp_table_path):
    """After batch-id pruning, replaying an OLD batch directly against the
    LakeTable API (resolved_ts below the checkpoint) must still be a no-op
    — the monotone-checkpoint rule, not just the id set, guards it."""
    t = _mk(spark, tmp_table_path)
    for i in range(1, 6):
        t.merge(_batch(spark, i), f"b{i}", resolved_ts=i)
    assert "b1" not in t.committed_batch_ids()  # pruned
    res = t.merge(_batch(spark, 1), "b1", resolved_ts=1)  # replay attempt
    assert res["status"] == "skipped"
    final = {r["_commit_ts"] for r in t.read(include_meta=True).collect()}
    assert final == {5}  # newest image intact, stale replay ignored


def test_batch_resolved_mode_sub_batches_at_one_ts(spark, tmp_table_path):
    """Batch-resolved-mode analog (ResolvedTs Mode Batch + BatchID,
    /root/reference/cdc/model/mounter.go:154-198): ONE huge transaction's
    rows flush as MULTIPLE sub-batches sharing a resolved_ts. The strict-<
    monotone-window rule admits distinct new ids AT the checkpoint, while
    each committed id stays replay-proof."""
    t = _mk(spark, tmp_table_path)
    rts = 100
    for part in range(3):  # three sub-batches of the same resolved window
        df = spark.createDataFrame(
            [(f"c{part}", 1, f"v{part}", "I", rts, rts - 1, 3, 0)],
            "conv_id string, turn_idx int, text string, op string, _commit_ts long, "
            "_start_ts long, _op_rank int, _deleted int",
        )
        res = t.merge(df, f"b:{rts}:{part}", resolved_ts=rts)
        assert res["status"] == "committed", part
    # all three sub-batches landed
    assert t.read().count() == 3
    # replaying any sub-batch id is a no-op
    for part in range(3):
        df = spark.createDataFrame(
            [(f"c{part}", 1, "REPLAYED", "I", rts, rts - 1, 3, 0)],
            "conv_id string, turn_idx int, text string, op string, _commit_ts long, "
            "_start_ts long, _op_rank int, _deleted int",
        )
        assert t.merge(df, f"b:{rts}:{part}", resolved_ts=rts)["status"] == "skipped"
    assert t.read().filter("text = 'REPLAYED'").count() == 0
