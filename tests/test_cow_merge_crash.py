"""Crash between the copy-on-write bucket rewrite and the manifest rename.

``LakeTable.merge`` writes the rewritten buckets to a fresh data dir, then
installs the manifest that references them. A crash in between must leave
the table at its previous snapshot: re-running the same batch id commits it
exactly once, and snapshot expiry reaps the crashed write's dir. Checked
for both branches of ``merge`` (plain MERGE INTO and order-column LWW).
"""

import os

import pytest

from ticdc_spark.operators.sortdedup import OP_RANK
from ticdc_spark.sinks.lake import LakeTable

FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("payload", "string")]
KEY = ["conv_id", "turn_idx"]
PLAIN_SRC = "conv_id string, turn_idx int, op string, payload string"
LWW_SRC = (PLAIN_SRC + ", _commit_ts long, _start_ts long, _op_rank int, _deleted int")

# (conv_id, turn_idx, op, payload, commit_ts) per batch; batch 2 deletes a
# stored key, updates another, inserts new ones and carries an event OLDER
# than the stored row (the LWW branch must keep the stored row)
BATCHES = [
    [("a", 0, "I", "a0", 10), ("b", 0, "I", "b0", 10), ("c", 1, "I", "c1", 10),
     ("d", 0, "I", "d0", 10)],
    [("a", 0, "D", None, 20), ("b", 0, "U", "b0v2", 20), ("e", 1, "I", "e1", 20),
     ("f", 0, "I", "f0", 20), ("d", 0, "U", "d0-stale", 5)],
]


def _src(spark, rows, lww):
    if not lww:
        return spark.createDataFrame([r[:4] for r in rows], PLAIN_SRC)
    return spark.createDataFrame(
        [(*r[:4], r[4], r[4] - 1, OP_RANK[r[2]], int(r[2] == "D")) for r in rows], LWW_SRC)


def _table(spark, path, lww):
    t = LakeTable(spark, path)
    t.create(key=KEY, fields=FIELDS, n_buckets=4, with_order_cols=lww)
    return t


def _merge(spark, t, i, lww):
    lineage = [{"batch_id": f"b{i}", "partition_id": 0, "resolved_ts": 10 * (i + 1),
                "event_count": len(BATCHES[i]), "max_commit_ts": 10 * (i + 1)}]
    return t.merge(_src(spark, BATCHES[i], lww), f"b{i}", lineage_rows=lineage,
                   resolved_ts=10 * (i + 1))


def _state(t):
    return sorted(tuple(r) for r in t.read(include_deleted=True, include_meta=True)
                  .select(*[x[0] for x in t.manifest()["schema"]]).collect())


def _referenced(t) -> set:
    out = set()
    for v in t._versions():
        for info in t.manifest(v)["buckets"].values():
            out.update(info["files"])
    return out


@pytest.mark.parametrize("lww", [False, True], ids=["plain", "lww"])
def test_crash_between_cow_write_and_manifest_rename(spark, tmp_path, monkeypatch, lww):
    ref = _table(spark, str(tmp_path / "ref"), lww)
    for i in range(len(BATCHES)):
        _merge(spark, ref, i, lww)

    t = _table(spark, str(tmp_path / "t"), lww)
    _merge(spark, t, 0, lww)
    v_before = t.manifest()["version"]
    dirs_before = set(os.listdir(t.data_dir))
    orig_commit = LakeTable._commit
    crashed = []

    def commit(self, m):
        if not crashed:
            # the bucket rewrite is on disk, the manifest is not installed
            assert all(os.path.exists(f) for info in m["buckets"].values()
                       for f in info["files"])
            crashed.append(m["version"])
            raise RuntimeError("injected crash before the manifest rename")
        return orig_commit(self, m)

    monkeypatch.setattr(LakeTable, "_commit", commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        _merge(spark, t, 1, lww)
    monkeypatch.undo()
    crash_dirs = set(os.listdir(t.data_dir)) - dirs_before
    assert len(crash_dirs) == 1
    # the table still reads its previous snapshot
    assert t.manifest()["version"] == v_before

    assert _merge(spark, t, 1, lww)["status"] == "committed"
    assert _merge(spark, t, 1, lww)["status"] == "skipped"
    assert _state(t) == _state(ref)
    # the batch committed exactly once: one version, one lineage record
    assert t.manifest()["version"] == v_before + 1 == crashed[0]
    assert t.lineage_df().filter("batch_id = 'b1'").count() == 1
    assert t.syncpoints() == ref.syncpoints()
    # no manifest references a missing file; expiry reaps the crashed dir
    assert all(os.path.exists(f) for f in _referenced(t))
    t.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(os.path.join(t.data_dir, d)) for d in crash_dirs)
    assert all(os.path.exists(f) for f in _referenced(t))
    assert _state(t) == _state(ref)
