"""LakeTable: atomic snapshots, CoW MERGE, idempotent replay, schema
evolution at the sink (K1/K2/K7 analogs)."""

import pytest

from ticdc_spark.sinks.lake import LakeTable

FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("role", "string"), ("text", "string")]
KEY = ["conv_id", "turn_idx"]
SRC = "conv_id string, turn_idx int, op string, role string, text string"


def _mk(spark, path, n_buckets=4):
    t = LakeTable(spark, path)
    t.create(key=KEY, fields=FIELDS, n_buckets=n_buckets)
    return t


def _state(t):
    return {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"]) for r in t.read().collect()}


def test_merge_insert_update_delete(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    b1 = spark.createDataFrame(
        [("c1", 0, "I", "user", "hello"), ("c1", 1, "I", "assistant", "hi"), ("c2", 0, "I", "user", "x")],
        SRC,
    )
    t.merge(b1, "b1", resolved_ts=10)
    assert _state(t) == {("c1", 0): ("user", "hello"), ("c1", 1): ("assistant", "hi"), ("c2", 0): ("user", "x")}

    b2 = spark.createDataFrame(
        [("c1", 0, "U", "user", "hello v2"), ("c2", 0, "D", None, None), ("c3", 5, "I", "tool", "y")],
        SRC,
    )
    t.merge(b2, "b2", resolved_ts=20)
    assert _state(t) == {("c1", 0): ("user", "hello v2"), ("c1", 1): ("assistant", "hi"), ("c3", 5): ("tool", "y")}
    assert t.checkpoint["resolved_ts"] == 20


def test_merge_idempotent_replay(spark, tmp_table_path):
    """Replaying a committed batch_id is a no-op — the redo/exactly-once
    guarantee (replaces cdc/redo, see mysql.go:516 safe-mode analog)."""
    t = _mk(spark, tmp_table_path)
    b = spark.createDataFrame([("c1", 0, "I", "user", "v1")], SRC)
    r1 = t.merge(b, "batch-1", resolved_ts=10)
    assert r1["status"] == "committed"
    b_changed = spark.createDataFrame([("c1", 0, "I", "user", "DIFFERENT")], SRC)
    r2 = t.merge(b_changed, "batch-1", resolved_ts=10)
    assert r2["status"] == "skipped"
    assert _state(t)[("c1", 0)] == ("user", "v1")


def test_delete_of_missing_key_is_noop(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    b = spark.createDataFrame([("ghost", 9, "D", None, None)], SRC)
    t.merge(b, "b1")
    assert _state(t) == {}


def test_bucket_pruning_only_rewrites_affected(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path, n_buckets=8)
    rows = [(f"c{i}", 0, "I", "user", f"t{i}") for i in range(50)]
    t.merge(spark.createDataFrame(rows, SRC), "b1")
    m1 = t.manifest()
    t.merge(spark.createDataFrame([("c1", 0, "U", "user", "t1v2")], SRC), "b2")
    m2 = t.manifest()
    changed = [b for b in m1["buckets"] if m1["buckets"][b]["files"] != m2["buckets"][b]["files"]]
    assert len(changed) == 1  # only c1's bucket rewritten


def test_alter_add_and_rename_with_old_files(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    t.merge(spark.createDataFrame([("c1", 0, "I", "user", "old-file-row")], SRC), "b1")
    assert t.alter("add_column", "tool_args", schema_version=100)
    assert not t.alter("add_column", "tool_args", schema_version=100)  # foregone
    assert t.alter("rename_column", "speaker", old_column="role", schema_version=200)

    src2 = "conv_id string, turn_idx int, op string, speaker string, text string, tool_args string"
    t.merge(spark.createDataFrame([("c9", 1, "I", "tool", "new-row", "args")], src2), "b2")
    got = {(r["conv_id"], r["turn_idx"]): (r["speaker"], r["text"], r["tool_args"]) for r in t.read().collect()}
    # old file: role→speaker via name_history, tool_args backfilled NULL
    assert got == {("c1", 0): ("user", "old-file-row", None), ("c9", 1): ("tool", "new-row", "args")}


def test_lineage_and_batch_registry(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    lin = [{"batch_id": "b1", "partition_id": 0, "resolved_ts": 10, "event_count": 1, "max_commit_ts": 9}]
    t.merge(spark.createDataFrame([("c1", 0, "I", "u", "x")], SRC), "b1", lineage_rows=lin, resolved_ts=10)
    ldf = t.lineage_df()
    assert ldf.count() == 1
    assert t.committed_batch_ids() == {"b1"}


def test_create_requires_key_in_schema(spark, tmp_table_path):
    t = LakeTable(spark, tmp_table_path)
    with pytest.raises(ValueError):
        t.create(key=["missing"], fields=FIELDS)


def test_time_travel(spark, tmp_table_path):
    t = _mk(spark, tmp_table_path)
    t.merge(spark.createDataFrame([("c1", 0, "I", "u", "v1")], SRC), "b1")
    v_after_b1 = t.manifest()["version"]
    t.merge(spark.createDataFrame([("c1", 0, "U", "u", "v2")], SRC), "b2")
    assert [r["text"] for r in t.read(version=v_after_b1).collect()] == ["v1"]
    assert [r["text"] for r in t.read().collect()] == ["v2"]


def test_delta_layout_validation_and_manifest(spark, tmp_table_path):
    import pytest as _pt

    t = LakeTable(spark, tmp_table_path + "_dl")
    with _pt.raises(ValueError):
        t.create(key=KEY, fields=FIELDS, delta_layout="zoned")
    t.create(key=KEY, fields=FIELDS, with_order_cols=True, delta_layout="bucketed")
    assert t.manifest()["delta_layout"] == "bucketed"


def test_syncpoint_consistent_read(spark, tmp_table_path):
    """read_at_source_ts pins the snapshot the syncpoint pair names: the
    state at the newest syncpoint <= the requested source ts (the consumer
    half of mysql_syncpoint_store.go — consistent cross-system reads)."""
    t = _mk(spark, tmp_table_path)
    t.merge(spark.createDataFrame([("c1", 0, "I", "user", "v1")], SRC), "b1", resolved_ts=10)
    t.merge(
        spark.createDataFrame([("c1", 0, "U", "user", "v2"), ("c2", 0, "I", "user", "x")], SRC),
        "b2", resolved_ts=20,
    )
    got_mid = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read_at_source_ts(15).collect()}
    assert got_mid == {("c1", 0): "v1"}
    got_now = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read_at_source_ts(99).collect()}
    assert got_now == {("c1", 0): "v2", ("c2", 0): "x"}
    with pytest.raises(LookupError):
        t.syncpoint_for(9)


def test_syncpoint_group_commit_validity(spark, tmp_table_path):
    """A group commit records several resolved-ts against ONE version; only
    the highest is a consistent read point — reading a lower one would
    surface later windows' rows."""
    t = LakeTable(spark, tmp_table_path + "_grp")
    t.create(key=KEY, fields=FIELDS, n_buckets=2, with_order_cols=True)
    t.append_delta_files_group(
        [{"batch_id": "w1", "files": [], "resolved_ts": 10, "lineage_rows": []}])
    v1 = t.manifest()["version"]
    t.append_delta_files_group([
        {"batch_id": "w2", "files": [], "resolved_ts": 20, "lineage_rows": []},
        {"batch_id": "w3", "files": [], "resolved_ts": 30, "lineage_rows": []},
    ])
    assert t.syncpoint_for(25) == (10, v1)  # 20 shares w3's version: not a read point
    rts, vg = t.syncpoint_for(30)
    assert rts == 30 and vg > v1


def test_changes_between_ops_and_images(spark, tmp_table_path):
    """Lake changelog: I for appeared keys, U for changed payloads (new
    image), D for vanished keys (old image); unchanged keys emit nothing,
    and null payloads are compared null-safely."""
    t = _mk(spark, tmp_table_path)
    b1 = spark.createDataFrame(
        [("c1", 0, "I", "user", "hello"), ("c1", 1, "I", None, None),
         ("c2", 0, "I", "user", "stays"), ("c3", 0, "I", "tool", "bye")],
        SRC,
    )
    t.merge(b1, "b1", resolved_ts=10)
    v1 = t.manifest()["version"]
    b2 = spark.createDataFrame(
        [("c1", 0, "U", "user", "hello v2"),  # U: text changes
         ("c1", 1, "U", None, None),           # same (null) payload: no row
         ("c3", 0, "D", None, None),           # D
         ("c4", 7, "I", "system", "new")],     # I
        SRC,
    )
    t.merge(b2, "b2", resolved_ts=20)
    v2 = t.manifest()["version"]
    rows = {(r["op"], r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
            for r in t.changes_between(v1, v2).collect()}
    assert rows == {
        ("U", "c1", 0): ("user", "hello v2"),
        ("D", "c3", 0): ("tool", "bye"),
        ("I", "c4", 7): ("system", "new"),
    }
    # identity diff is empty; reversed endpoints invert the ops
    assert t.changes_between(v2, v2).count() == 0
    rev = {(r["op"], r["conv_id"], r["turn_idx"]) for r in t.changes_between(v2, v1).collect()}
    assert rev == {("U", "c1", 0), ("I", "c3", 0), ("D", "c4", 7)}


def test_changes_between_prunes_untouched_buckets(spark, tmp_table_path):
    """The diff's read set comes from MANIFEST comparison: buckets whose
    filesets are identical between the two versions never participate."""
    t = _mk(spark, tmp_table_path, n_buckets=8)
    import pyspark.sql.functions as F
    wide = spark.range(64).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"), F.lit("I").alias("op"),
        F.lit("user").alias("role"), F.lit("x").alias("text"),
    )
    t.merge(wide, "b1", resolved_ts=10)
    v1 = t.manifest()["version"]
    one = spark.createDataFrame([("c0", 0, "U", "user", "x2")], SRC)
    t.merge(one, "b2", resolved_ts=20)
    v2 = t.manifest()["version"]
    changed = t._changed_buckets(v1, v2)
    assert changed is not None and len(changed) == 1  # only c0's bucket
    out = t.changes_between(v1, v2).collect()
    assert {(r["op"], r["conv_id"]) for r in out} == {("U", "c0")}


def test_replicate_changes_chains_lake_to_lake(spark, tmp_path):
    """Cascading replication: applying the changelog between two source
    snapshots onto a second lake table reproduces the source's final
    state there — chained changefeed without an MQ hop; idempotent."""
    src = _mk(spark, f"{tmp_path}/src")
    dst = _mk(spark, f"{tmp_path}/dst")
    b1 = spark.createDataFrame(
        [("c1", 0, "I", "user", "v1"), ("c2", 0, "I", "tool", "gone"),
         ("c3", 1, "I", "system", "keep")],
        SRC,
    )
    src.merge(b1, "b1", resolved_ts=10)
    v1 = src.manifest()["version"]
    # seed dst with the v1 state (the chained feed starts in sync)
    dst.merge(b1, "seed", resolved_ts=10)
    b2 = spark.createDataFrame(
        [("c1", 0, "U", "user", "v2"), ("c2", 0, "D", None, None),
         ("c4", 2, "I", "assistant", "new")],
        SRC,
    )
    src.merge(b2, "b2", resolved_ts=20)
    v2 = src.manifest()["version"]
    r = src.replicate_changes_to(dst, v1, v2)
    assert r["status"] == "committed"
    assert _state(dst) == _state(src)
    # replay is recognized
    assert src.replicate_changes_to(dst, v1, v2)["status"] == "skipped"
