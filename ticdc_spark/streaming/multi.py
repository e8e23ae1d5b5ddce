"""Multi-table changefeed: N tables through ONE feed, single-pass.

TiCDC multiplexes every table's spans through one puller pass
(/root/reference/cdc/puller/multiplexing_puller.go:175-520) and targets
100,000 tables per node (docs/design/2022-03-16-ticdc-db-sorter.md:177-181);
per-table state is everywhere else — per-table schema storage
(/root/reference/cdc/entry/schema_storage.go:72-153), per-table DDL barriers
with global vs table-scoped events
(/root/reference/cdc/owner/ddl_manager.go:40-85,459-532), and the feed
checkpoint = min over tables
(/root/reference/cdc/scheduler/internal/v3/replication/replication_manager.go:556-731).

Spark-first single-pass execution: a multi-table front end over
streaming/span.py. The window walker (``span.walk``, shared with the
single-table feed) schedules the windows, and every window — a DDL-free
span, a lone window or a barrier sub-window — runs as a span: the shared WAL
is scanned ONCE and LWW-deduped ONCE with ``table_name`` prepended to the
handle key — one shuffle for all N tables. A MOR span mounts once per
schema chain below its upper bound (one mount for a fleet on one chain,
barrier windows too) and writes every table in one job per type-compatible
write group (one group unless chains disagree on a column's type); each
(window, write group) commits with one feed-journal append. The initial
load onto empty tables writes every table's compacted base in one job. CoW
rewrites each table's base per window. Work per window is O(window events),
not N full WAL scans. Store the WAL partitioned by ``table_name``
(:func:`write_wal_partitioned`) so any residual per-table scan
partition-prunes.

Mid-stream table lifecycle (batch_add_table / multi_tables_ddl analogs,
/root/reference/tests/integration_tests/batch_add_table/,
/root/reference/cdc/entry/schema/snapshot.go:412-551):

- ``create_table`` DDL at ts c: a new feed activates at the barrier; its
  windows start at c (upstream guarantees no DML below a table's create-ts).
- ``drop_table`` at ts d: the feed applies its final window ending at d,
  then deactivates (replicated data is retained, as TiCDC's sink does).
- ``rename_table`` at ts r (``old_column`` = old name, ``table_name`` = new
  name): same target table, same registry; WAL events carry the old name
  through r and the new name after — windows split at r, so each window
  filters exactly one source name.

Exactly-once and resume stay per-table: each LakeTable manifest carries its
own checkpoint and batch_ids, so a crash mid-feed resumes every table from
its own high-water mark; the feed-level checkpoint is the min over tables.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from collections.abc import Callable
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.sinks.journal import FeedJournal
from ticdc_spark.sinks.lake import LakeTable, staged_files
from ticdc_spark.sources.frontier import frontier_steps
from ticdc_spark.streaming.pipeline import (
    Changefeed,
    ChangefeedConfig,
    ddl_rows_of,
    table_matches,
)
from ticdc_spark.streaming.span import (
    WIN,
    SpanExecutor,
    bootstrap_ready,
    part_dirs,
    plan_windows,
    quarantined,
    walk,
)

_LIFECYCLE = ("create_table", "recover_table", "drop_table", "rename_table",
              "rename_tables", "exchange_table_partition",
              "add_table_partition", "drop_table_partition",
              "reorganize_partition")


def _logical(name: str) -> str:
    """Logical table of a feed key: partition feeds are keyed
    ``<table>#<partition>`` (each upstream partition is its own
    replication span, /root/reference/cdc/entry/schema/snapshot.go:64 —
    partition ids are first-class physical tables there)."""
    return name.split("#", 1)[0]


def write_wal_partitioned(df: DataFrame, path: str, table_col: str = "table_name") -> None:
    """Persist a multi-table WAL partitioned by table so per-table reads
    partition-prune instead of scanning every table's events (the storage
    layout the single-pass driver assumes at scale)."""
    df.write.partitionBy(table_col).parquet(path)


class MultiTableChangefeed:
    def __init__(
        self,
        spark: SparkSession,
        binlog: DataFrame,
        resolved_log: DataFrame,
        ddl_log: DataFrame | list | None,
        table_factory: Callable[[str], LakeTable],
        config: ChangefeedConfig | None = None,
        tables: list | None = None,
        table_col: str = "table_name",
        partitions: dict | None = None,
    ):
        """``binlog`` carries a ``table_col`` column; ``ddl_log`` rows carry
        one too (NULL = global DDL, applied to every table). ``tables``
        skips the discovery scan when the table set is known. Tables with a
        ``create_table`` DDL activate at that barrier even if absent from
        ``tables``/discovery.

        ``partitions`` maps a LOGICAL table to its partition names
        (snapshot.go:64,218-246 — each upstream partition is its own
        replication span): ``{"pt": ["p0", "p1"]}`` expands to feed keys
        ``pt#p0``/``pt#p1``, whose WAL events arrive under those physical
        names. Column DDLs scoped to the logical name apply to every
        partition feed; :meth:`read_logical` unions the partition targets;
        ``exchange_table_partition`` (ddl row: table_name = partition feed
        key, old_column = the normal table) swaps the partition's target
        with the normal table's at the barrier — the downstream half of
        the upstream metadata swap, O(1) metadata, no data movement."""
        self.spark = spark
        self.binlog = binlog
        self.resolved_log = resolved_log
        self.config = config or ChangefeedConfig(changefeed_id="cf-multi")
        self.table_col = table_col
        self.table_factory = table_factory
        self.ddl_rows = ddl_rows_of(ddl_log)
        # ActionTruncateTablePartition (ALTER TABLE ... TRUNCATE PARTITION,
        # /root/reference/cdc/entry/schema_storage_test.go:826): downstream
        # it is exactly a truncate of the PARTITION SPAN's target — the
        # existing per-span truncate_table path, scoped to the span key.
        # ActionCreateTables (batch CREATE, snapshot.go:51): order-
        # independent per-table creates at one barrier — normalize into
        # individual create_table rows (table_name = comma-joined names).
        normalized = []
        for r in self.ddl_rows:
            if r["ddl_type"] == "truncate_table_partition":
                normalized.append(
                    {**(r.asDict() if hasattr(r, "asDict") else dict(r)),
                     "ddl_type": "truncate_table"})
            elif r["ddl_type"] == "create_tables":
                base = r.asDict() if hasattr(r, "asDict") else dict(r)
                for t in r[table_col].split(","):
                    normalized.append(
                        {**base, "ddl_type": "create_table", table_col: t})
            else:
                normalized.append(r)
        self.ddl_rows = normalized
        self.lifecycle = [r for r in self.ddl_rows if r["ddl_type"] in _LIFECYCLE]
        created = {r[table_col] for r in self.lifecycle if r["ddl_type"] == "create_table"}
        if tables is None:
            tables = sorted(
                r[0] for r in binlog.select(table_col).distinct().collect() if r[0] is not None
            )
            # renamed tables appear in the WAL under BOTH names; only the
            # original (pre-rename) name is a table of its own at start
            renamed_to = {r[table_col] for r in self.lifecycle if r["ddl_type"] == "rename_table"}
            for r in self.lifecycle:
                if r["ddl_type"] == "rename_tables":
                    # atomic multi-rename: exclude new names NOT also being
                    # renamed away at the same barrier (a cyclic swap keeps
                    # every name live; a plain batch rename retires olds)
                    olds = set(r["old_column"].split(","))
                    renamed_to |= {n for n in r["column"].split(",") if n not in olds}
            tables = [t for t in tables if t not in renamed_to]
        # partitioned tables: expand each logical table into its spans
        self.partitions = dict(partitions or {})
        expanded = []
        for t in tables:
            for p in self.partitions.get(t, [None]):
                expanded.append(t if p is None else f"{t}#{p}")
        # allow/block routing decides the replicated set (filter.go:95-235),
        # matched on the LOGICAL name for partition spans;
        # mid-stream creates start INACTIVE and activate at their barrier
        self.tables = [
            t for t in expanded
            if table_matches(_logical(t), self.config) and t not in created
        ]
        self.feeds: dict = {}
        # current WAL source name per feed key (diverges on rename)
        self._source_name: dict = {}
        # per-feed driver-cached state (checkpoint, layout, delta depth):
        # the window loop must not re-read N manifest JSONs per window
        self._state: dict = {}
        for t in self.tables:
            self._add_feed(t, start_ts=self.config.start_ts)
        # feed-level window journal root: a DETERMINISTIC sibling of the
        # table dirs (same name on resume; same filesystem, so fold renames
        # never degrade to copies)
        probe_name = self.tables[0] if self.tables else next(
            (r[table_col] for r in self.lifecycle if r["ddl_type"] == "create_table"),
            None,
        )
        self.feed_dir = None
        if probe_name is not None:
            safe = re.sub(r"[^A-Za-z0-9_.-]", "_", self.config.changefeed_id)
            self.feed_dir = os.path.join(
                os.path.dirname(os.path.abspath(table_factory(probe_name).path)),
                f"_feed_{safe}",
            )
        self._journal: FeedJournal | None = None

    @property
    def journal(self) -> FeedJournal:
        if self._journal is None:
            if self.feed_dir is None:
                raise RuntimeError("feed has no tables; no journal root")
            self._journal = FeedJournal(self.feed_dir)
        return self._journal

    def _table_ddls(self, t: str) -> list:
        """Column-DDL rows scoped to table t (global rows included; a row
        scoped to a LOGICAL table covers every partition span of it)."""
        return [
            r for r in self.ddl_rows
            if r["ddl_type"] not in _LIFECYCLE
            and (r[self.table_col] is None or r[self.table_col] == t
                 or r[self.table_col] == _logical(t))
        ]

    def _add_feed(self, t: str, start_ts: int) -> None:
        self.feeds[t] = Changefeed(
            self.spark,
            self.binlog.filter(F.col(self.table_col) == t).drop(self.table_col),
            self.resolved_log,
            self._table_ddls(t),
            self.table_factory(t),
            replace(self.config, changefeed_id=f"{self.config.changefeed_id}/{t}",
                    start_ts=start_ts),
        )
        self._source_name[t] = t

    # -------------- feed-level aggregation --------------

    def checkpoint(self) -> int:
        """Feed checkpoint = min over tables (replication_manager.go:631-641)."""
        vals = [f.target.checkpoint["resolved_ts"] for f in self.feeds.values()
                if f.target.exists()]
        return min(vals) if vals else 0

    @property
    def is_finished(self) -> bool:
        """Finish-at state (changefeed_finish): target_ts set and EVERY
        table's checkpoint has reached it — terminal for the whole fleet."""
        t = self.config.target_ts
        if t is None or not self.feeds:
            return False
        return all(
            f.target.exists() and f.target.checkpoint["resolved_ts"] >= t
            for f in self.feeds.values()
        )

    def is_synced(self) -> bool:
        """Synced when every table's checkpoint reached the shared global
        frontier — computed ONCE (the per-feed form would run one frontier
        job per table; at fleet scale that is N jobs for one boolean)."""
        from ticdc_spark.sources.frontier import global_frontier

        if not self.feeds:
            return True
        gf = global_frontier(self.resolved_log,
                             self.config.expected_partitions)
        return all(
            f.target.checkpoint["resolved_ts"] >= gf
            for f in self.feeds.values()
        )

    def read(self, table: str) -> DataFrame:
        return self.feeds[table].target.read()

    def read_logical(self, logical: str) -> DataFrame:
        """A partitioned table's LOGICAL state: union of its partition
        spans' targets (partition pruning on the physical span is free —
        each partition is its own storage unit)."""
        keys = sorted(
            t for t in self.feeds
            if t == logical or _logical(t) == logical
        )
        if not keys:
            raise KeyError(f"no feeds for logical table {logical!r}")
        out = self.feeds[keys[0]].target.read()
        for t in keys[1:]:
            out = out.unionByName(self.feeds[t].target.read(),
                                  allowMissingColumns=True)
        return out

    def read_union(self) -> DataFrame:
        """All tables' final states as one DataFrame (schemas reconciled by
        name: a column a table never had is NULL there)."""
        parts = []
        for t in sorted(self.feeds):
            parts.append(
                self.feeds[t].target.read().withColumn(self.table_col, F.lit(t))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -------------- driver-cached per-feed state --------------

    def _load_state(self, t: str) -> None:
        """ONE manifest read per (feed, load point) — refreshed only at
        resume, create barriers, and compactions. Everything the window
        loop consults per window (checkpoint, delta layout, bucket count,
        delta depth) lives here so per-window driver cost is
        independent of both table count and manifest size."""
        f = self.feeds[t]
        m = f.target.manifest()
        self._state[t] = {
            "ckpt": max(m["checkpoint"]["resolved_ts"], f.config.start_ts),
            "layout": m.get("delta_layout", "flat"),
            "n_buckets": m["n_buckets"],
            "depth": len(m.get("deltas", [])),
        }

    # -------------- lifecycle barriers --------------

    def _apply_lifecycle(self, d) -> None:
        ts = int(d["commit_ts"])
        t = d[self.table_col]
        if d["ddl_type"] in ("create_table", "recover_table"):
            # ActionRecoverTable (FLASHBACK/RECOVER, snapshot.go:51,492 —
            # treated as create): drop_table RETAINS the target's data, so
            # the recovered feed re-attaches to it — the pre-drop rows ARE
            # the recovered content (TiDB recovers by un-deleting the
            # physical table), and post-recover DML applies on top; events
            # in the dropped gap never replicate, matching upstream where
            # the table did not exist to receive writes.
            self._activate(t, ts)
        elif d["ddl_type"] == "drop_table":
            self._retire(t)  # stop replicating; data retained
        elif d["ddl_type"] == "rename_table":
            old = d["old_column"]
            if old in self.feeds and t not in self.feeds:
                self.feeds[t] = self.feeds.pop(old)
                self._source_name[t] = t  # WAL carries the new name after ts
                del self._source_name[old]
                if old in self._state:
                    self._state[t] = self._state.pop(old)
        elif d["ddl_type"] == "rename_tables":
            # ActionRenameTables (RENAME TABLE a TO b, b TO a, ...;
            # /root/reference/cdc/entry/schema_storage.go:405): ATOMIC
            # multi-rename — all (old -> new) pairs swap simultaneously
            # against a snapshot of the pre-barrier feed map, so cyclic
            # renames (the a<->b swap) do not chain through intermediate
            # states the way sequential rename_table applications would.
            olds = d["old_column"].split(",")
            news = d["column"].split(",")
            snap = {o: (self.feeds.get(o), self._state.get(o)) for o in olds}
            for o in olds:
                self._retire(o)
            for o, nn in zip(olds, news):
                f, st = snap[o]
                if f is None or nn in self.feeds:
                    continue
                self.feeds[nn] = f
                self._source_name[nn] = nn  # WAL carries the new name after ts
                if st is not None:
                    self._state[nn] = st
        elif d["ddl_type"] == "exchange_table_partition":
            # ALTER TABLE <logical> EXCHANGE PARTITION p WITH TABLE <nt>
            # (snapshot.go:218-246 swaps the physical ids): upstream swaps
            # DATA by metadata, so downstream swaps the two spans' targets.
            # Replay-safe: the feed->target map is rebuilt from the factory
            # at construction, so re-applying the barrier on resume
            # reconstructs the same post-exchange association.
            pk, nt = t, d["old_column"]
            if pk in self.feeds and nt in self.feeds:
                fp, fn = self.feeds[pk], self.feeds[nt]
                fp.target, fn.target = fn.target, fp.target
                if pk in self._state and nt in self._state:
                    self._state[pk], self._state[nt] = (
                        self._state[nt], self._state[pk])
        elif d["ddl_type"] == "add_table_partition":
            # ALTER TABLE <logical> ADD PARTITION (schema_storage_test.go:
            # 825): a NEW replication span activates at the barrier — the
            # partition id is a first-class physical table upstream
            # (snapshot.go:64), so downstream this is create_table for the
            # span key; global/logical column DDLs below the barrier catch
            # the newborn span up, same as create.
            self._activate(t, ts)
        elif d["ddl_type"] == "drop_table_partition":
            # ALTER TABLE <logical> DROP PARTITION (schema_storage_test.go:
            # 824): upstream deletes the partition's rows by metadata, so
            # the span leaves the logical table — replication stops and
            # read_logical() no longer unions the span's target (files
            # retained for time travel, same posture as drop_table).
            self._retire(t)
        elif d["ddl_type"] == "reorganize_partition":
            self._apply_reorganize(d, ts)

    def _activate(self, t: str, ts: int) -> None:
        """A feed (table or partition span) becomes live at barrier ``ts``:
        its windows start there, and column DDLs below the barrier catch
        the newborn target's schema up. Idempotent (a resumed run replays
        barriers below its checkpoint); tables the allow/block lists
        exclude never activate."""
        if t in self.feeds or not table_matches(_logical(t), self.config):
            return
        self._add_feed(t, start_ts=ts)
        f = self.feeds[t]
        f.ensure_target()
        f._reconcile_ddl(ts)
        self._load_state(t)

    def _retire(self, t: str):
        """A feed leaves the live set (its target's data is retained);
        returns the retired feed, or None if ``t`` was not live."""
        self._source_name.pop(t, None)
        self._state.pop(t, None)
        return self.feeds.pop(t, None)

    def _apply_reorganize(self, d, ts: int) -> None:
        """ALTER TABLE <logical> REORGANIZE PARTITION p.. INTO (p'.. VALUES
        LESS THAN ..) (/root/reference/cdc/entry/schema_storage_test.go:833,
        ActionReorganizePartition): upstream re-shards the named partitions'
        rows into new physical partitions by the range metadata carried IN
        the DDL. DDL row encoding: ``table_name`` = the logical table,
        ``old_column`` = comma-joined old partition names, ``column`` =
        comma-joined new partition names, ``col_type`` = ';'-joined SQL
        boolean predicates routing a row to each new span in order (the
        VALUES LESS THAN metadata; the LAST span takes the remainder, so
        len(predicates) == len(new spans) - 1).

        Downstream: the new spans activate at the barrier, the old spans'
        final state (consistent — lifecycle barriers run between windows)
        is re-sharded into the new targets by the routing predicates as ONE
        LWW merge per new span, and the old spans leave the feed. Replay
        safety: the migration merge carries batch_id ``reorg-<ts>`` and
        resolved_ts=<ts>, so re-applying the barrier on resume is
        recognized (batch-id tier, or checkpoint tier once later windows
        advanced past ts) and skipped — exactly-once, no regression of
        post-barrier writes. A logical table the allow/block lists exclude
        has no live spans, so its reorganize is a no-op."""
        logical = d[self.table_col]
        if not table_matches(logical, self.config):
            return
        olds =[f"{logical}#{p}" for p in d["old_column"].split(",")]
        news = [f"{logical}#{p}" for p in d["column"].split(",")]
        preds = [p.strip() for p in (d["col_type"] or "").split(";") if p.strip()]
        if len(preds) != len(news) - 1:
            raise ValueError(
                "reorganize_partition needs one routing predicate per new "
                "span except the last (remainder)")
        for nk in news:
            self._activate(nk, ts)
        src = None
        for ok in olds:
            f = self._retire(ok)
            if f is not None and f.target.exists():
                # include_meta: migrated rows keep their ORIGINAL LWW order
                # metadata, so post-barrier events win ties exactly as if
                # the rows had always lived in the new span
                r = f.target.read(include_meta=True)
                src = r if src is None else src.unionByName(r)
        if src is not None:
            route = None
            for i, p in enumerate(preds):
                cond = F.expr(p)
                route = F.when(cond, i) if route is None else route.when(cond, i)
            routed = src.withColumn(
                "_route",
                route.otherwise(len(news) - 1) if route is not None
                else F.lit(0),
            )
            for i, nk in enumerate(news):
                part = (
                    routed.filter(F.col("_route") == i)
                    .drop("_route")
                    .withColumn("op", F.lit("I"))
                )
                self.feeds[nk].target.merge(
                    part, batch_id=f"reorg-{ts}", resolved_ts=ts)
        for nk in news:
            self._load_state(nk)

    def _replay_lifecycle_below(self, ckpt: int) -> None:
        """Resume: re-apply lifecycle barriers at/below the checkpoint so a
        fresh engine instance reconstructs the live table set (idempotent —
        create of an existing feed is a no-op, targets self-describe)."""
        for d in self.lifecycle:
            if int(d["commit_ts"]) <= ckpt:
                self._apply_lifecycle(d)

    def _apply_column_ddl(self, d) -> None:
        ts = int(d["commit_ts"])
        scope = (
            list(self.feeds) if d[self.table_col] is None else
            [t for t in self.feeds
             if t == d[self.table_col] or _logical(t) == d[self.table_col]]
        )
        for t in scope:
            self.feeds[t].target.alter(
                d["ddl_type"], d["column"], d["old_column"],
                d["col_type"] or "string", schema_version=ts,
            )
            if d["ddl_type"] == "truncate_table" and t in self._state:
                # truncate cleared every delta fileset. No stale-DML filter
                # is needed downstream: windows split at the truncate, so
                # every later window holds only DML above it
                self._state[t]["depth"] = 0

    # -------------- the single-pass driver loop --------------

    def run(self, max_merges_per_table: int | None = None) -> dict:
        """Advance every table to the current global frontier, scanning the
        shared WAL ONCE per window (not once per table): filters + update
        splits + the LWW dedup shuffle run over all tables together with
        ``table_name`` prepended to the key; each table then consumes a
        narrow cached filter of the dedup output. Windows split at every
        table's DDL commit-ts (a barrier only quiesces its own table's
        slice; others just see a finer window)."""
        # crash recovery FIRST: pending journal windows are durable but not
        # yet in the per-table manifests — fold so every checkpoint below
        # reflects them (a lagging checkpoint would replay lifecycle
        # barriers short and mis-place the window loop's start)
        self._fold_journal()
        # reap orphan fleet-bootstrap staging (a crash mid-bootstrap leaves
        # the uncommitted span dir; committed tables are non-empty and the
        # gate routes the rest through the normal path)
        if self.feed_dir and os.path.isdir(self.feed_dir):
            for d in os.listdir(self.feed_dir):
                if d.startswith("_bootstrap_"):
                    shutil.rmtree(os.path.join(self.feed_dir, d),
                                  ignore_errors=True)
        # resume: rebuild live table set, targets, and missed column DDL
        start_ckpt = self.checkpoint()
        self._replay_lifecycle_below(start_ckpt)
        for f in self.feeds.values():
            f.ensure_target()
            f._reconcile_ddl(f.target.checkpoint["resolved_ts"])
        for t in self.feeds:
            self._load_state(t)

        effective = [st["ckpt"] for st in self._state.values()]
        ckpt = min(effective) if effective else self.config.start_ts
        steps = frontier_steps(
            self.resolved_log, low=ckpt,
            expected_partitions=self.config.expected_partitions,
        )
        # finish-at (changefeed_finish): the whole fleet stops AT
        # target_ts — same clamp rule as the single-table feed
        uppers = plan_windows(steps, ckpt, self.config)

        cfg = self.config
        budget = max_merges_per_table
        stats = {"tables": len(self.feeds), "merges": 0, "events": 0,
                 "windows": 0, "write_jobs": 0, "wal_scans_per_window": 1}
        merged_windows = 0

        def cap() -> int:
            # DDL-free spans of up to max_windows_per_job windows x all
            # tables run as ONE job (each (window, table) still commits its
            # own batch id through the journal)
            if cfg.sink_mode != "mor" or cfg.max_windows_per_job <= 1:
                return 1
            c = cfg.max_windows_per_job
            return min(c, budget - merged_windows) if budget else c

        def apply(lo: int, ws: list) -> bool:
            nonlocal merged_windows
            s = self._apply_span_all(lo, ws)
            for k in ("merges", "events", "write_jobs"):
                stats[k] += s[k]
            stats["windows"] += len(ws)
            merged_windows += s["windows_merged"]
            return bool(budget) and merged_windows >= budget

        def barrier(d) -> None:
            # quiesce done: fold pending journal windows (manifest state
            # must be current before a DDL mutates schema_version or the
            # table set), then apply the DDL
            self._fold_journal()
            if d["ddl_type"] in _LIFECYCLE:
                self._apply_lifecycle(d)
            else:
                self._apply_column_ddl(d)

        def tick() -> None:
            due = [
                t for t, f in self.feeds.items()
                if f.config.sink_mode == "mor"
                and self._state[t]["depth"] >= f.config.compact_every
            ]
            if due:
                self._fold_journal()
                first, *rest = [self.feeds[t].target for t in due]
                first.compact(drop_tombstones=True, with_tables=rest)
                for t in due:
                    self._load_state(t)
                self._gc_shared()

        walk(uppers, ckpt, self.ddl_rows, cap, apply, barrier, tick)
        # end-of-run fold: manifests catch up with the journal so external
        # readers (tests, downstream queries, a fresh engine instance) see
        # every window through the ordinary per-table read path
        self._fold_journal()
        stats["tables"] = len(self.feeds)
        stats["checkpoint"] = self.checkpoint()
        return stats

    def _apply_span_all(self, lo: int, uppers: list) -> dict:
        """A DDL-free SPAN of windows, all tables: ONE WAL scan + ONE dedup
        exchange through the span executor (span.py), then (MOR) one write
        job per type-compatible write group — one in practice — for the
        whole span x table cross-product, each (window, table) still
        committing its own batch id through the journal. A lone window and
        a barrier sub-window are spans of one, in the same form."""
        hi = uppers[-1]
        live = {
            t: f for t, f in self.feeds.items() if hi > self._state[t]["ckpt"]
        }
        out = {"merges": 0, "events": 0, "windows_merged": 0, "write_jobs": 0}
        if not live:
            return out
        wal = self.binlog.filter(
            (F.col("commit_ts") > lo) & (F.col("commit_ts") <= hi)
        )
        # source-name routing: each live feed reads exactly one WAL name in
        # this span (spans never cross rename barriers)
        names = {self._source_name[t]: t for t in live}
        wal = wal.filter(F.col(self.table_col).isin(*names))
        probe = next(iter(live.values()))
        df, qobs = probe._prepare_window(wal, f"{self.config.changefeed_id}:{lo}:{hi}")
        span = SpanExecutor(self.spark, df, lo, uppers,
                            {name: live[t].registry for name, t in names.items()},
                            self.config, self.table_col)
        nb = self._bootstrap_gate(live, names, uppers)
        if nb is not None:
            # FLEET initial load: the journal is bypassed for the span (its
            # per-window amortization exists for steady state; an initial
            # load pays N manifest commits ONCE)
            staging = os.path.join(self.feed_dir, f"_bootstrap_{uuid.uuid4().hex}")
            feeds = {name: (live[t].target, live[t].config.changefeed_id)
                     for name, t in names.items()}
            for name, res in span.bootstrap(feeds, nb, staging).items():
                out["events"] += sum(r["event_count"] for r in res.get("lineage", []))
                out["merges"] += len(uppers)
                self._state[names[name]]["ckpt"] = hi
            out["windows_merged"] += len(uppers)
            out["write_jobs"] += 1
        elif self.config.sink_mode == "mor":
            self._apply_mor(live, names, span, out)
        else:
            # CoW rewrites each table's base: per window, per table, off one
            # cached dedup clustered by table WITHIN partitions (no extra
            # exchange): cache batches become single-table runs, so a
            # table's slice filter prunes other tables' batches via the
            # in-memory scan's per-batch column stats instead of rescanning
            # the whole cache N times
            deduped = span.dedup().sortWithinPartitions(self.table_col).persist()
            try:
                for i, prev, u in span.windows():
                    wdf = deduped.filter(F.col(WIN) == i).drop(WIN)
                    w_merged = 0
                    for name, t in sorted(names.items()):
                        res = live[t]._sink_deduped(
                            wdf.filter(F.col(self.table_col) == name)
                            .drop(self.table_col), prev, u)
                        out["events"] += res.get("events", 0)
                        w_merged += res["status"] == "committed"
                        out["write_jobs"] += 1
                        self._state[t]["ckpt"] = max(self._state[t]["ckpt"], u)
                    out["merges"] += w_merged
                    out["windows_merged"] += w_merged > 0
            finally:
                deduped.unpersist()
        out["quarantined"] = quarantined(qobs)
        return out

    def _bootstrap_gate(self, live: dict, names: dict, uppers: list) -> int | None:
        """FLEET initial-load gate — the multi-table twin of the single-table
        bootstrap span: a span of 2+ windows whose applying tables are all
        completely EMPTY, with no journal window pending and no table
        resuming mid-span, folds ONCE across windows per (table, key)
        (:meth:`SpanExecutor.bootstrap`). The normal path would journal
        every window as deltas and write the data again at the first fold
        + compaction. A span of 2+ windows never holds a DDL (the walker
        splits barrier windows off as spans of one). Excluded: CoW,
        diverged schema chains, truncate incarnations (``bootstrap_ready``),
        shared fleet filesets (their per-bucket mixed files have no
        per-table split yet) and mixed bucket counts — those fleets take
        the normal path, correct either way. Returns the common bucket
        count, or None."""
        cfg = self.config
        hi = uppers[-1]
        if (len(uppers) < 2 or not cfg.bootstrap_fast_path
                or cfg.sink_mode != "mor" or len(names) >= cfg.shared_deltas_after):
            return None
        ts = list(names.values())
        if any(self._state[t]["ckpt"] >= uppers[0] for t in ts):
            return None  # resumes mid-span: the per-window path handles it
        if len({live[t].registry.chain_digest(hi - 1) for t in ts}) > 1:
            return None  # diverged chains: one mount can't decode all
        nbs = {self._state[t]["n_buckets"] for t in ts}
        # one staged layout needs one bucket count; unfolded journal
        # windows would mean the manifests understate the tables' state
        if len(nbs) != 1 or self.journal.pending():
            return None
        if not all(bootstrap_ready(live[t].target, cfg) for t in ts):
            return None
        return nbs.pop()

    def _apply_mor(self, live: dict, names: dict, span: SpanExecutor,
                   out: dict) -> None:
        """The MOR write of every non-bootstrap span: the span executor
        mounts once per schema chain at the decode snapshot ``hi − 1`` and
        writes every table's delta files in ONE Spark job per write group
        (partitionBy table — plus ``_bucket`` when the group's tables use
        the bucketed delta layout, so the 7.9x point-read dial survives
        multi-table mode), with lineage from the mount's tap — two Spark
        jobs for a one-group span; the dedup is cached only for 2+ groups;
        each (window, write group) then commits with ONE feed-journal
        append. A fleet on one schema chain (the 100k-table
        case — one transcript schema, global DDLs only) is one group;
        per-table DDL churn and truncates only add mounts, not writes.
        Driver cost per window: one jsonl append per group — independent
        of table count; per-table manifest I/O is amortized into group
        folds at barriers/compactions/run end."""
        cfg = self.config
        # per-table checkpoint snapshot BEFORE updates: a table resuming
        # mid-span applies only windows above its own mark (the others'
        # batches are recognized as replays at fold anyway)
        ckpt0 = {t: self._state[t]["ckpt"] for t in names.values()}

        def layout(group) -> tuple:
            st = [self._state[names[n]] for n in group]
            nbs = {s["n_buckets"] for s in st}
            # fleet mode: above the threshold, per-table partition dirs
            # would write O(tasks x tables) tiny files per window — write
            # ONE SHARED per-bucket fileset instead (file count
            # O(tasks x buckets), per-table split deferred to the
            # compactor). Bucketed files need one common bucket count.
            shared = len(group) >= cfg.shared_deltas_after and len(nbs) == 1
            bucketed = len(nbs) == 1 and (
                shared or any(s["layout"] == "bucketed" for s in st))
            return (self.journal.span_staging(),
                    next(iter(nbs)) if bucketed else None, shared)

        staged, stats = span.stage_groups(names, layout)
        out["write_jobs"] += len(staged)
        commits = {name: span.commits(live[t].config.changefeed_id, name, stats,
                                     None, False)
                   for name, t in names.items()}
        for i, prev, u in span.windows():
            merged = False
            for group, staging, bucketed, shared in staged:
                # the window's partition dir becomes its own journal staging
                # (cheap rename; a crash before the append leaves an orphan
                # dir above the newest journal seq — reaped)
                seq = self.journal.adopt(os.path.join(staging, f"{WIN}={i}"))
                entry_tables: dict = {}
                for name in group:
                    t = names[name]
                    if u <= ckpt0[t]:
                        continue  # this table already has this window
                    b = commits[name][i]
                    entry_tables[t] = {"src": name, "path": live[t].target.path,
                                       "bid": b["batch_id"],
                                       "lineage": b["lineage_rows"]}
                    self._state[t]["ckpt"] = u
                    self._state[t]["depth"] += 1
                    out["events"] += sum(r["event_count"] for r in b["lineage_rows"])
                    out["merges"] += 1
                if entry_tables:
                    # the commit point: ONE durable append for the group
                    self.journal.append_window(seq, prev, u, bucketed,
                                               entry_tables, self.table_col,
                                               shared=shared)
                    merged = True
            out["windows_merged"] += merged
        for _, staging, _, _ in staged:
            shutil.rmtree(staging, ignore_errors=True)

    def _fold_journal(self) -> None:
        """Fold pending journal windows into per-table manifests — see
        :func:`fold_feed_journal`. Amortization points: run start (crash
        recovery), DDL barriers, compaction, run end."""
        if self.feed_dir is None or (
            self._journal is None and not os.path.isdir(self.feed_dir)
        ):
            return
        fold_feed_journal(self.spark, self.journal)

    def _gc_shared(self) -> int:
        if self._journal is None:
            return 0
        return gc_shared_filesets(self.spark, self.journal)


def gc_shared_filesets(spark: SparkSession, j: FeedJournal) -> int:
    """Reclaim SHARED window filesets no manifest references anymore
    (after compaction folds a table's deltas into its base, the last
    reference to a shared window dies). O(folded entries x referencing
    tables) manifest checks — run at compaction points, not per
    window. Shared by the driver-loop feed and the streaming twin."""
    hwm = j.fold_hwm()
    manifests: dict = {}
    removed = 0
    for e in j._entries():
        if e["seq"] > hwm or not e.get("shared"):
            continue
        d = os.path.join(j.root, e["dir"])
        if not os.path.isdir(d):
            continue
        prefix = os.path.realpath(d)
        live = False
        for info in e["tables"].values():
            p = info["path"]
            if p not in manifests:
                # every RETAINED manifest version counts — a time-travel
                # read of an un-expired snapshot must keep working
                tab = LakeTable(spark, p)
                ms = []
                for v in tab._versions():
                    try:
                        ms.append(tab.manifest(v))
                    except FileNotFoundError:
                        pass
                manifests[p] = ms
            if any(
                os.path.realpath(f).startswith(prefix)
                for m in manifests[p]
                for dd in m.get("deltas", [])
                for f in dd["files"]
            ):
                live = True
                break
        if not live:
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return removed


def fold_feed_journal(spark: SparkSession, j: FeedJournal) -> None:
    """Fold pending journal windows into per-table manifests: move each
    table's staged partition dir into its own ``data_dir`` (same-fs
    rename; deterministic ``jw<seq>`` names make a re-fold after a
    crash idempotent) and GROUP-commit all of a table's pending batches
    in one manifest rewrite. Shared by the driver-loop multi feed and the
    arrival-ordered streaming twin (entries carrying ``epoch`` commit
    under the monotone-epoch replay rule instead of the resolved-ts
    rule)."""
    entries = j.pending()
    if not entries:
        # still reap orphans (a crash between staging write and journal
        # append leaves a dir no entry names) — one listdir, O(dirs)
        j.cleanup()
        return

    staged = {
        e["seq"]: part_dirs(os.path.join(j.root, e["dir"]), e["table_col"])
        for e in entries if not e.get("shared")
    }
    # shared windows: ONE listing serves every table in the window
    shared_listing = {
        e["seq"]: staged_files(os.path.join(j.root, e["dir"]), e.get("bucketed", False))
        for e in entries if e.get("shared")
    }
    per_table: dict = {}
    for e in entries:
        for t, info in e["tables"].items():
            per_table.setdefault(info["path"], []).append((e, info))

    def _batch(e, info, files, buckets) -> dict:
        b = {
            "batch_id": info["bid"], "files": files, "buckets": buckets,
            "lineage_rows": info.get("lineage") or [],
        }
        if e.get("epoch") is not None:
            # arrival-ordered streaming window: commit under the monotone
            # per-changefeed epoch rule, not the resolved-ts window rule
            b["resolved_ts"] = None
            b["epoch"] = e["epoch"]
        else:
            b["resolved_ts"] = e["hi"]
        return b

    for path, items in sorted(per_table.items()):
        table = LakeTable(spark, path)
        group = []
        for e, info in items:
            if e.get("shared"):
                # fleet mode: files stay under the feed's journal dir
                # (every table references them; _gc_shared reclaims the
                # window once all references compact away)
                files, buckets = shared_listing[e["seq"]]
                b = _batch(e, info, files, buckets)
                b["shared"] = (e["table_col"], info["src"])
                group.append(b)
                continue
            src = staged[e["seq"]].get(info["src"], "")
            dest = os.path.join(table.data_dir, f"jw{e['seq']:08d}")
            if src and os.path.isdir(src):
                os.makedirs(table.data_dir, exist_ok=True)
                try:
                    os.rename(src, dest)
                except OSError:
                    shutil.move(src, dest)
            files, buckets = staged_files(dest, e.get("bucketed", False))
            group.append(_batch(e, info, files, buckets))
        table.append_delta_files_group(group)
    j.mark_folded(entries[-1]["seq"])
    j.cleanup()


def route_tables(names: list, allow: tuple = (), block: tuple = ()) -> list:
    """Standalone allow/block router (F1) for callers without a config."""
    cfg = ChangefeedConfig(table_allow=tuple(allow), table_block=tuple(block))
    return [n for n in names if table_matches(n, cfg)]
