"""Structured-Streaming mode: tail a binlog directory with a file-source
readStream and apply arrival-ordered micro-batches via foreachBatch.

Two execution modes exist for the same engine:

1. ``pipeline.Changefeed`` — resolved-ts-driven windows (commit-ts space is
   partitioned across batches; barrier-exact DDL). This mirrors TiCDC's
   semantics precisely and is the mode used for DDL scenarios.
2. this module — Spark-native streaming over file arrival. Batch
   boundaries are arbitrary w.r.t. commit-ts, so the sink must be
   order-aware: ``LakeTable.merge`` into an order-column table compares
   each event against the stored ``(_commit_ts, _start_ts, _op_rank)``
   and keeps delete tombstones, making the final state independent of
   batching — the generalization of the MySQL sink's REPLACE idempotency
   (/root/reference/cdc/sink/dmlsink/txn/mysql/mysql.go:516,533-537).

The multi-table twin (:func:`run_streaming_multi`) runs each micro-batch
through the span executor (streaming/span.py) as a span of one window —
the same dedup, per-chain mount, staged write and mount-tap lineage the
driver loops use, two Spark jobs for a one-group batch — and commits it
with one feed-journal append per write group (one unless tables' chains
disagree on a column's type) carrying the epoch. Both modes take lineage
from the mount UDF's tap (``functions/mount.py::LineageTap``).

Both create their targets at the base schema version and replay every DDL
row onto them (as ``Changefeed.ensure_target`` + ``_reconcile_ddl`` do),
so a ``truncate_table`` takes effect and its stale DML is dropped.

Exactly-once: Spark's streaming checkpoint provides offset tracking;
re-delivered epochs are no-ops via the batch_id registry committed
atomically with the data (same guarantee as the driver-loop mode).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.mount import LineageTap, mount, mounted_columns
from ticdc_spark.operators.sortdedup import lww_dedup, with_op_rank
from ticdc_spark.plans.schema_registry import SchemaRegistry
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.streaming.pipeline import (
    ChangefeedConfig,
    ddl_rows_of,
    table_fields,
    table_matches,
)
from ticdc_spark.streaming.span import (
    WIN,
    SpanExecutor,
    lineage_rows,
    order_meta,
    tapped_lineage,
)

BINLOG_SCHEMA = (
    "commit_ts long, start_ts long, op string, conv_id string, turn_idx int, "
    "payload string, pre_payload string, schema_version long, partition_id int"
)

_FAR_FUTURE = 2**62


def run_streaming(
    spark: SparkSession,
    binlog_dir: str,
    target: LakeTable,
    config: ChangefeedConfig | None = None,
    registry: SchemaRegistry | None = None,
    ddl_log=None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Drain all currently-available binlog files (Trigger.AvailableNow)
    into the lake table. Restartable via ``checkpoint_dir``; safe to call
    repeatedly as new files land.

    DDL in this mode is applied MONOTONICALLY rather than as commit-ts
    barriers: batch boundaries are arbitrary w.r.t. commit-ts here, so
    ``ddl_log`` (rows or DataFrame) is replayed into the registry up front,
    the target evolves to the newest schema, and every event decodes
    against its own writer version (the per-row ``schema_version`` column —
    snapshot-at-CRTs-1, cdc/entry/mounter.go:173). Equivalent final state:
    the schema chain is column-ID-stable (add/rename/drop never reuse an
    id), so late old-version events land as NULL-backfilled rows exactly as
    a barrier replay would produce. Barrier-exact intermediate states need
    the resolved-ts driver loop."""
    config = config or ChangefeedConfig(changefeed_id="cf-stream")
    registry = registry or SchemaRegistry(config.payload_fields)
    ddl_rows = ddl_rows_of(ddl_log)
    registry.replay(ddl_rows)
    _epoch_reset_guard(target, config.changefeed_id, checkpoint_dir)
    _ensure_target(target, registry, config, ddl_rows)
    payload_cols = mounted_columns(registry, _FAR_FUTURE)
    stats = {"batches": 0, "events": 0}

    def process(batch_df, epoch_id: int):
        batch_id = f"{config.changefeed_id}:epoch-{epoch_id}"
        deduped = lww_dedup(with_op_rank(batch_df), config.key, stats=True)
        # lineage rides in the mount UDF — zero extra Spark jobs per
        # micro-batch (same tap as the resolved-ts driver loop)
        tap = LineageTap(spark, ["partition_id"])
        mounted = mount(deduped, registry, as_of_ts=_FAR_FUTURE,
                        defaults=config.defaults, tap=tap)
        src = mounted.select(*config.key, "op", *payload_cols, *order_meta())
        # epoch rides into the commit so the manifest can PRUNE old epoch
        # batch_ids by the monotone epoch high-water mark (foreachBatch
        # epochs are monotone; only the newest can be re-delivered) — the
        # arrival-ordered twin of the monotone-window rule
        res = target.merge(src, batch_id,
                           lineage_rows=tapped_lineage(tap, batch_id, None),
                           epoch=int(epoch_id))
        stats["batches"] += 1
        stats["events"] += sum(r["event_count"] for r in res.get("lineage", []))

    reader = spark.readStream.schema(BINLOG_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(binlog_dir)
    writer = stream.writeStream.foreachBatch(process).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return stats


MULTI_BINLOG_SCHEMA = BINLOG_SCHEMA + ", table_name string"


def _ensure_target(target: LakeTable, registry: SchemaRegistry, config,
                   ddl_rows: list) -> None:
    """Create ``target`` at the base schema version and evolve it to the
    newest one DDL by DDL (idempotent by schema_version — the streaming twin
    of ``Changefeed.ensure_target`` + ``_reconcile_ddl``). Creating at the
    newest version instead would make every DDL foregone, a
    ``truncate_table`` included, and its stale DML would survive."""
    if not target.exists():
        target.create(
            key=list(config.key),
            fields=table_fields(registry, 0, config.key),
            n_buckets=config.n_buckets,
            with_order_cols=True,
            delta_layout=config.delta_layout,
        )
    for d in ddl_rows:
        target.alter(
            d["ddl_type"], d["column"], d["old_column"],
            (d["col_type"] or "string"), schema_version=int(d["commit_ts"]),
        )


def _epoch_reset_guard(target: LakeTable, feed_id: str,
                       checkpoint_dir: str | None) -> None:
    """Refuse to stream into a target that holds committed epochs for this
    changefeed unless the ORIGINAL streaming checkpoint is supplied —
    restarted epochs would collide with committed ones and lose data (the
    friendly up-front twin of the manifest's epoch-regression raise)."""
    if not target.exists():
        return
    ck = target.checkpoint
    hwms = ck.get("epoch_hwms")
    feed_hwm = (
        ck.get("epoch_hwm", -1) if hwms is None  # legacy scalar manifest
        else hwms.get(feed_id, -1)
    )
    if feed_hwm < 0 and any(
        b.startswith(f"{feed_id}:epoch-") for b in target.committed_batch_ids()
    ):
        feed_hwm = 0
    if feed_hwm >= 0:
        off_dir = os.path.join(checkpoint_dir or "", "offsets")
        committed = -1
        if checkpoint_dir and os.path.isdir(off_dir):
            nums = [int(f) for f in os.listdir(off_dir) if f.isdigit()]
            committed = max(nums) if nums else -1
        if checkpoint_dir is None or committed < feed_hwm:
            raise ValueError(
                f"target holds committed epochs (hwm={feed_hwm}) for "
                f"changefeed {feed_id!r} but the streaming checkpoint "
                f"{'is missing' if checkpoint_dir is None else f'only reaches offset {committed}'} "
                "— resume with the ORIGINAL checkpoint_dir so epochs "
                "continue instead of restarting at 0"
            )


def run_streaming_multi(
    spark: SparkSession,
    binlog_dir: str,
    table_factory,
    config: ChangefeedConfig | None = None,
    ddl_log=None,
    tables: list | None = None,
    table_col: str = "table_name",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Multi-table Structured-Streaming twin of
    ``multi.MultiTableChangefeed``: tail ONE WAL directory carrying a whole
    fleet's change events and drain it (Trigger.AvailableNow) with the same
    single-pass execution shape as the driver loop — per micro-batch ONE
    LWW-dedup exchange keyed (table, conv, turn), one mount per schema
    chain, and ONE write job partitioned by table plus ONE fsync'd
    feed-journal append per write group (one unless chains disagree on a
    column's type); per-table manifests group-fold at the end of the
    drain. Reference anchor: the processor's sink manager multiplexing N
    tables' sinks through one worker pool
    (/root/reference/cdc/processor/sinkmanager/manager.go:489-663).

    Batch boundaries are ARRIVAL-ordered (arbitrary w.r.t. commit-ts), so
    correctness leans on the order-independent MOR read: deltas carry
    ``(_commit_ts, _start_ts, _op_rank)`` and the read-time ``max_by``
    re-resolves LWW across batches — final state equals the driver loop's
    on the same WAL regardless of file batching (asserted by pytest).
    Consequences of arrival order, handled:

    - replay recognition uses the per-changefeed monotone-EPOCH rule
      (``cf/table:epoch-N`` ids), not the resolved-ts window rule;
    - delete tombstones are retained (a later-arriving lower-commit-ts
      event must still lose to them), so compaction here never drops them;
    - DDL is applied MONOTONICALLY up front exactly as single-table
      ``run_streaming`` does (per-row ``schema_version`` decodes each
      event against its writer schema); barrier-exact intermediate states
      need the driver loop. Lifecycle DDL (create/drop/rename/exchange)
      requires barriers by nature -> rejected here;
    - a table's events at or below its ``truncate_table`` are stale DML
      of the dead incarnation and are dropped before the dedup (the
      journal fold has no stale-DML filter).

    Each table decodes with its own registry (global DDL rows plus its
    scoped ones)."""
    import re

    from ticdc_spark.sinks.journal import FeedJournal
    from ticdc_spark.streaming.multi import fold_feed_journal

    config = config or ChangefeedConfig(changefeed_id="cf-multi-stream")
    ddl_rows = ddl_rows_of(ddl_log)
    lifecycle = [r for r in ddl_rows
                 if r["ddl_type"] in ("create_table", "drop_table",
                                      "rename_table", "exchange_table_partition")]
    if lifecycle:
        raise ValueError(
            "lifecycle DDL needs barrier semantics — use the resolved-ts "
            "driver loop (MultiTableChangefeed) for create/drop/rename/"
            "exchange scenarios"
        )
    batch_read = spark.read.schema(MULTI_BINLOG_SCHEMA).parquet(binlog_dir)
    if tables is None:
        tables = sorted(
            r[0] for r in batch_read.select(table_col).distinct().collect()
            if r[0] is not None
        )
    tables = [t for t in tables if table_matches(t, config)]
    if not tables:
        return {"tables": 0, "batches": 0, "events": 0}

    # crash recovery FIRST — before the epoch guard reads any manifest and
    # before any DDL bumps schema_version. A crash after journal appends
    # but before the fold leaves manifests lagging the journal: the guard
    # would read a pre-fold epoch hwm (defeating the reset protection),
    # and folding AFTER an alter would stamp old staged files with the new
    # written_version, silently NULLing renamed columns at read time (the
    # driver loop's fold-before-DDL barrier rule, applied at setup). The
    # journal root derives from the factory's PATH only — no create needed.
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", config.changefeed_id)
    feed_dir = os.path.join(
        os.path.dirname(os.path.abspath(table_factory(tables[0]).path)),
        f"_feed_{safe}",
    )
    journal = FeedJournal(feed_dir)
    fold_feed_journal(spark, journal)

    # per-table registry: global rows (table_col NULL) + scoped rows
    registries: dict = {}
    targets: dict = {}
    for t in tables:
        rows = [r for r in ddl_rows
                if r.get(table_col) is None or r[table_col] == t]
        registries[t] = SchemaRegistry(config.payload_fields)
        registries[t].replay(rows)
        targets[t] = table_factory(t)
        _epoch_reset_guard(targets[t], f"{config.changefeed_id}/{t}",
                           checkpoint_dir)
        _ensure_target(targets[t], registries[t], config, rows)
    stale = [(F.col(table_col) == t) & (F.col("commit_ts") <= reg.truncate_ts)
             for t, reg in registries.items() if reg.truncate_ts]

    stats = {"tables": len(tables), "batches": 0, "events": 0,
             "wal_scans_per_batch": 1}

    def process(batch_df, epoch_id: int):
        df = batch_df.filter(F.col(table_col).isin(*tables))
        for cond in stale:
            df = df.filter(~cond)
        # the micro-batch is a span of one window, mounted at the newest
        # schema (per-row schema_version picks each event's writer)
        span = SpanExecutor(spark, with_op_rank(df), 0, [_FAR_FUTURE],
                            registries, config, table_col)

        def layout(group) -> tuple:
            # one write job + ONE journal append (the commit point) per
            # write group. Fleet mode (the driver loop's rule, applied per
            # batch): at/above shared_deltas_after tables, ONE SHARED
            # per-bucket fileset caps the file count at O(tasks x buckets),
            # independent of table count
            shared = len(group) >= config.shared_deltas_after
            bucketed = shared or config.delta_layout == "bucketed"
            return (journal.span_staging(),
                    config.n_buckets if bucketed else None, shared)

        staged, by = span.stage_groups(tables, layout)
        landed = False
        for group, staging, bucketed, shared in staged:
            # a table commits the batch only if it had events in it
            entry = {}
            for t in group:
                if (0, t) not in by:
                    continue
                bid = f"{config.changefeed_id}/{t}:epoch-{int(epoch_id)}"
                rows = lineage_rows(bid, by[(0, t)], None)
                entry[t] = {"src": t, "path": targets[t].path, "bid": bid,
                            "lineage": rows}
                stats["events"] += sum(r["event_count"] for r in rows)
            if entry:
                seq = journal.adopt(os.path.join(staging, f"{WIN}=0"))
                journal.append_window(seq, 0, 0, bucketed, entry, table_col,
                                      shared=shared, epoch=int(epoch_id))
                landed = True
            shutil.rmtree(staging, ignore_errors=True)
        stats["batches"] += landed

    reader = spark.readStream.schema(MULTI_BINLOG_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(binlog_dir)
    writer = stream.writeStream.foreachBatch(process).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    # manifests catch up with the journal so ordinary per-table reads see
    # every batch; tombstone-retaining compaction keeps read cost bounded;
    # shared fleet filesets whose last manifest reference compacted away
    # are reclaimed by the same GC the driver loop uses
    from ticdc_spark.streaming.multi import gc_shared_filesets

    fold_feed_journal(spark, journal)
    due = [targets[t] for t in tables
           if targets[t].delta_depth() >= config.compact_every]
    if due:
        due[0].compact(drop_tombstones=False, with_tables=due[1:])
        gc_shared_filesets(spark, journal)
    return stats
