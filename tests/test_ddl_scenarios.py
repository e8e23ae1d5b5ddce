"""Extra DDL scenarios from the reference integration suite:
sequential DDLs (`ddl_manager`), reentrant DDL (`ddl_reentrant`),
DDL + MOR sink combination."""

from pyspark.sql import functions as F

from tests.conftest import assert_df_equal
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, DDLSpec, gen_binlog, gen_ddl_log, gen_resolved_log
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig, expected_final_state

KEY = ["conv_id", "turn_idx"]


def _run(spark, spec, path, cfg=None, max_merges=None):
    cf = Changefeed(
        spark, gen_binlog(spark, spec), gen_resolved_log(spark, spec),
        gen_ddl_log(spark, spec) if spec.ddls else None,
        LakeTable(spark, path), cfg,
    )
    return cf, cf.run(max_merges=max_merges)


def _check(spark, spec, cf, drop_meta=False):
    want = expected_final_state(gen_binlog(spark, spec), cf.registry, spec.max_commit_ts, KEY)
    got = cf.target.read()
    if drop_meta:
        got = got.drop("_commit_ts", "_start_ts", "_op_rank", "_deleted")
    assert_df_equal(got, want, KEY)


def test_sequential_ddls_add_then_rename(spark, tmp_table_path):
    """Two barriers in one stream: add_column at 1500, then rename of a
    base column at 3500 (ddl_manager: many sequential DDLs)."""
    ddls = (
        DDLSpec(commit_ts=1_500, ddl_type="add_column", column="tool_args"),
        DDLSpec(commit_ts=3_500, ddl_type="rename_column", column="speaker", old_column="role"),
    )
    spec = BinlogSpec(n_events=5_000, n_convs=120, ddls=ddls)
    cf, stats = _run(spark, spec, tmp_table_path)
    _check(spark, spec, cf)
    got = cf.target.read()
    assert {"speaker", "tool_args"} <= set(got.columns) and "role" not in got.columns
    # events written pre-add have NULL tool_args; all role data survived rename
    assert got.filter("speaker IS NULL").count() == 0


def test_two_ddls_inside_one_frontier_window(spark, tmp_table_path):
    """Both DDLs commit inside a single resolved window — the barrier must
    split the batch twice (ddl_only_block_related_table granularity)."""
    ddls = (
        DDLSpec(commit_ts=1_200, ddl_type="add_column", column="a1"),
        DDLSpec(commit_ts=1_700, ddl_type="add_column", column="a2"),
    )
    spec = BinlogSpec(n_events=3_000, n_convs=100, block=3_000, ddls=ddls)  # ONE window
    cf, stats = _run(spark, spec, tmp_table_path)
    assert stats["merges"] == 3  # (0,1200], (1200,1700], (1700,4000]
    _check(spark, spec, cf)


def test_ddl_reentrant(spark, tmp_table_path):
    """Applying the same DDL again is foregone (ddl_reentrant analog)."""
    spec = BinlogSpec(n_events=2_000, n_convs=60,
                      ddls=(DDLSpec(commit_ts=1_500, ddl_type="add_column", column="x"),))
    cf, _ = _run(spark, spec, tmp_table_path)
    assert not cf.target.alter("add_column", "x", schema_version=1_500)
    assert not cf.registry.apply_ddl(1_500, "add_column", "x")
    _check(spark, spec, cf)


def test_ddl_with_mor_sink_and_compaction(spark, tmp_table_path):
    """Schema evolution while deltas are outstanding; compaction folds
    mixed-schema filesets correctly."""
    spec = BinlogSpec(n_events=4_000, n_convs=100,
                      ddls=(DDLSpec(commit_ts=2_200, ddl_type="add_column", column="tool_args"),))
    cfg = ChangefeedConfig(changefeed_id="mordd", sink_mode="mor", compact_every=100)
    cf, _ = _run(spark, spec, tmp_table_path, cfg=cfg)
    _check(spark, spec, cf, drop_meta=True)
    cf.target.compact()
    _check(spark, spec, cf, drop_meta=True)
    got = cf.target.read()
    assert got.filter(
        "_commit_ts > 2200 AND tool_args IS NULL"
    ).count() == 0


def test_drop_column_then_readd_same_name(spark, tmp_table_path):
    """The column-ID rule (cdc/entry/schema/snapshot.go:412-551): after
    drop tool + add tool, data written under the ORIGINAL tool column must
    NOT leak into its re-added namesake — old writers map by id, and the
    dropped id is retired."""
    ddls = (
        DDLSpec(commit_ts=1_500, ddl_type="drop_column", column="tool"),
        DDLSpec(commit_ts=3_500, ddl_type="add_column", column="tool"),
    )
    spec = BinlogSpec(n_events=5_000, n_convs=120, ddls=ddls)
    cf, _ = _run(spark, spec, tmp_table_path)
    _check(spark, spec, cf)
    got = cf.target.read()
    assert "tool" in got.columns
    # rows whose final image predates the re-add MUST be NULL even when the
    # original writer had a tool value (the leak the name-map model allowed)
    assert got.filter(
        "ts <= timestamp_micros(CAST(1700000000 + 3500 AS BIGINT) * 1000000)"
        " AND tool IS NOT NULL"
    ).count() == 0
    # re-added-column data from new writers does flow
    assert got.filter("tool IS NOT NULL").count() > 0


def test_truncate_table_mid_stream(spark, tmp_table_path):
    """TRUNCATE barrier (ddl_manager scenario, snapshot.go:503-509): all
    rows at/below the truncate ts vanish; only later DML survives. The
    final state must equal the LWW oracle over the post-truncate stream."""
    ddls = (DDLSpec(commit_ts=3_000, ddl_type="truncate_table"),)
    spec = BinlogSpec(n_events=6_000, n_convs=150, ddls=ddls)
    cf, _ = _run(spark, spec, tmp_table_path)
    assert cf.registry.truncate_ts == 3_000
    _check(spark, spec, cf)  # expected_final_state applies the truncate rule
    got = cf.target.read()
    # nothing older than the truncate survives (text encodes the commit_ts)
    assert got.filter(
        "CAST(regexp_extract(text, 'v(\\\\d+)$', 1) AS BIGINT) <= 3000"
    ).count() == 0
    assert got.count() > 0


def test_truncate_drops_stale_late_dml_in_arrival_mode(spark, tmp_table_path):
    """A pre-truncate event arriving AFTER the truncate (arrival-ordered
    mode) is a stale DML of the dead incarnation — merge_lww must drop it,
    not resurrect the row."""
    t = LakeTable(spark, tmp_table_path)
    t.create(key=KEY, fields=[("conv_id", "string"), ("turn_idx", "int"), ("text", "string")],
             n_buckets=2, with_order_cols=True)
    rows = lambda *rs: spark.createDataFrame(  # noqa: E731
        list(rs),
        "conv_id string, turn_idx int, text string, op string, _commit_ts long, "
        "_start_ts long, _op_rank int, _deleted int",
    )
    t.merge(rows(("c", 1, "v10", "I", 10, 9, 3, 0)), "b1")
    t.alter("truncate_table", None, schema_version=20)
    assert t.read().count() == 0
    # late stale event (commit 15 < truncate 20) must be dropped
    t.merge(rows(("c", 2, "v15", "I", 15, 14, 3, 0)), "b2")
    assert t.read().count() == 0
    # post-truncate event applies normally
    t.merge(rows(("c", 3, "v25", "I", 25, 24, 3, 0)), "b3")
    assert [r["turn_idx"] for r in t.read().collect()] == [3]
