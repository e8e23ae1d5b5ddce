"""Changefeed — the watermark-driven micro-batch driver loop.

This is the owner/processor tick re-expressed
(/root/reference/cdc/owner/changefeed.go:268-527,
/root/reference/cdc/processor/sinkmanager/manager.go:489-663):

per micro-batch
  1. advance the global frontier (min per-partition resolved-ts, W1)
  2. split the window at DDL commit-ts — the barrier
     (/root/reference/cdc/owner/ddl_manager.go:346-532): DML with
     commit_ts <= ddl_ts flushes against the pre-DDL schema, then the
     ALTER applies, then later DML proceeds on the new schema
  3. mount (vectorized pandas-UDF decode vs the snapshot at CRTs-1)
  4. last-writer-wins dedup per handle key
  5. exactly-once MERGE into the lake table, committing per-partition
     lineage + the new checkpoint in the same atomic manifest

A single-table front end over streaming/span.py: the window walker
(``span.walk``, shared with the multi-table feed) schedules the windows,
and every MOR window — a DDL-free run of windows, a lone window, a window
that ends at a DDL barrier — executes as a span with this table as a fleet
of one (a literal table column, the same executor the multi-table feed
uses) and commits with one group manifest rewrite. Only force-replicate
and steady-state CoW take the per-window sink. Lineage rides in the mount
UDF (``LineageTap``) in both forms. Every window decodes at its upper
bound − 1 (``span.mount_window``).

Exactly-once across restarts: the batch_id is derived from the window
bounds, recorded in the manifest commit; replaying a window after a crash
is a recognized no-op, and a crash between a barrier-merge and its ALTER
is healed by the idempotent DDL reconciliation at startup
(the changefeed-init edge where a DDL commits exactly at the checkpoint,
/root/reference/cdc/owner/changefeed.go:620-630).
"""

from __future__ import annotations

import os
import uuid

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.mount import mount, mounted_columns
from ticdc_spark.operators.sortdedup import (
    HANDLE_KEY,
    lww_dedup,
    split_key_changing_updates,
    split_updates,
    with_op_rank,
)
from ticdc_spark.plans.schema_registry import BASE_PAYLOAD_FIELDS, SchemaRegistry
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.frontier import frontier_steps
from ticdc_spark.streaming.span import (
    LineageTap,
    SpanExecutor,
    bootstrap_ready,
    dedup,
    mount_window,
    op_from_rank,
    plan_windows,
    quarantined,
    tapped_lineage,
    walk,
)

# the literal table column that makes a single-table feed a fleet of one
_TABLE, _SELF = "_table", "self"


@dataclass
class ChangefeedConfig:
    """ReplicaConfig analog (/root/reference/pkg/config/replica_config.go:132-167)."""

    changefeed_id: str = "cf-1"
    key: tuple = HANDLE_KEY
    n_buckets: int = 16
    # base (version-0) payload schema of the transcript table; override for
    # feeds whose payload carries extra typed columns (e.g. modify_column
    # scenarios start from an int column)
    payload_fields: tuple = BASE_PAYLOAD_FIELDS
    frontiers_per_batch: int = 1  # resolved steps folded into one micro-batch
    safe_mode_ts: int = 0  # updates with commit_ts <= this split into D+I (S5)
    defaults: dict = field(default_factory=dict)
    start_ts: int = 0
    # finish-at semantics (changefeed_finish integration test; TargetTs in
    # cdc/model/changefeed.go): nothing with commit_ts > target_ts ever
    # replicates; once the source frontier resolves past it the final
    # window clamps AT target_ts, the checkpoint reaches it, and the feed
    # is FINISHED (terminal — run() becomes a no-op). None = unbounded.
    target_ts: int | None = None
    # sink mode: "mor" appends LWW deltas and compacts every `compact_every`
    # batches (LSM trade — O(batch) ingest; the production default), "cow"
    # rewrites affected buckets per batch (Iceberg copy-on-write MERGE
    # semantics — the reference path for consumers that need merge-free reads)
    sink_mode: str = "mor"
    compact_every: int = 8
    # MOR delta layout: "flat" = max ingest throughput (the north metric);
    # "bucketed" = O(bucket delta) point reads between compactions (7.9x)
    # at ~1.7x ingest cost — measured trade-off, BENCH/OPERATORS.md
    delta_layout: str = "flat"
    # force-replicate (replica_config.go:135; force_replicate_table
    # integration test): replicate a KEYLESS table append-only — no dedup,
    # no MERGE; every event lands as a row of an insert log (op and
    # commit_ts become ordinary columns). The F4 default (refuse keyless
    # tables) stays; this is the explicit opt-in degradation.
    force_replicate: bool = False
    # DDL-free spans of resolved windows are executed as ONE Spark job
    # (window-id partitioned write; each window still commits its OWN
    # fileset/batch-id/syncpoint/lineage via one group manifest rewrite).
    # This amortizes the per-job serial constant (~1s of plan/codegen/
    # commit) across up to this many windows — the single-table twin of
    # the multi-table feed journal. 1 = spans of one window (the same
    # write form, one window per job).
    max_windows_per_job: int = 16
    # initial-load fast path: when the FIRST span lands on an EMPTY table
    # (no base, no deltas, no truncate incarnation), fold it across
    # windows and write the compacted BASE directly — the normal path
    # would write every window as a delta and immediately compact,
    # writing the data twice and decoding one row per key PER WINDOW.
    # Exactly-once and final state are bit-identical (LWW is associative;
    # every window still commits its own batch id/syncpoint/lineage
    # atomically) — tests/test_mor.py proves state equality vs the flag
    # off. The 100-TB initial-sync path.
    bootstrap_fast_path: bool = True
    # multi-table homogeneous windows: at/above this many applying tables,
    # the window's delta is written as ONE SHARED per-bucket fileset (all
    # tables mixed, clustered by table within each bucket file) instead of
    # per-table partition dirs. Per-window file count becomes
    # O(tasks x buckets) — independent of table count — which is what keeps
    # a 100k-table fleet from writing tasks x N tiny files per window; the
    # trade is that per-table MOR reads before the next compaction scan the
    # shared window files and filter (deltas are recent and small; the
    # compactor re-splits per table). Measured: scripts/bench_commit_tail.py
    shared_deltas_after: int = 32
    # snapshot expiry (W8): every N committed merges, expire snapshots older
    # than the newest `expire_keep_last`, except versions protected by the
    # GC safepoint (checkpoint >= gc_safepoint_ts is never expired). 0 = off.
    expire_every: int = 0
    expire_keep_last: int = 2
    gc_safepoint_ts: int | None = None
    # source partitions the frontier must hear from before advancing; None
    # derives the set from the resolved log itself (a partition that never
    # reports would then NOT hold the frontier at 0 — set this in production)
    expected_partitions: int | None = None
    # ---- event/table filters (pkg/filter/filter.go:95-235 +
    # replica_config.go:132-167 analog) ----
    # regex allow/block lists over table names (multi-table feeds): a table
    # replicates iff it matches an allow pattern (or allow is None) and no
    # block pattern. Single-table feeds ignore these.
    table_allow: tuple = ()
    table_block: tuple = ()
    # event ops to drop outright (sql_event_filter 'ignore-event' analog)
    ignore_ops: tuple = ()
    # SQL boolean expression over event columns; matching events are DROPPED
    # (expr_filter.go:249 'ignore-*-value-expr' analog)
    ignore_event_expr: str | None = None
    # transactions to skip by start_ts (filter.go:159-184 ignore-txn-start-ts)
    ignore_start_ts: tuple = ()
    # BDR mode (replica_config.go:147; bdr_mode integration test): in a
    # bidirectional-replication pair, events the PEER cluster's changefeed
    # applied here carry its origin marker — re-replicating them back would
    # loop forever. With bdr_mode on, events whose `origin` column names a
    # different cluster are dropped before the sink; locally-originated
    # writes (origin NULL or == cluster_id) replicate normally.
    bdr_mode: bool = False
    cluster_id: str = "cluster-1"
    # P3 integrity verification: when the binlog carries a `checksum`
    # column, recompute it over the payload and QUARANTINE mismatches
    # (dropped from the merge; surfaced via quarantine_count in run stats —
    # cdc/entry/mounter.go:453-523)
    verify_checksums: bool = False
    checksum_algo: str = "md5"


def apply_event_filters(df: DataFrame, config: "ChangefeedConfig") -> DataFrame:
    """Configured event filters, applied BEFORE the update splits and dedup
    (the reference filters at the puller, pkg/filter/filter.go:95-235).
    All are native Column predicates — they push down into the WAL scan."""
    if config.ignore_ops:
        df = df.filter(~F.col("op").isin(*config.ignore_ops))
    if config.ignore_start_ts:
        df = df.filter(~F.col("start_ts").isin(*[int(t) for t in config.ignore_start_ts]))
    if config.ignore_event_expr:
        df = df.filter(~F.expr(config.ignore_event_expr))
    if config.bdr_mode and "origin" in df.columns:
        # replication-loop guard (BDR, replica_config.go:147): drop events
        # the peer cluster originated; pushed into the WAL scan like every
        # other filter
        df = df.filter(
            F.col("origin").isNull() | (F.col("origin") == config.cluster_id)
        )
    return df


def table_matches(name: str, config: "ChangefeedConfig") -> bool:
    """Allow/block-list table routing (filter.go:95-235): replicate iff the
    name matches an allow pattern (or the allow list is empty) and no block
    pattern. Full-match regex, like the reference's table matchers."""
    import re as _re

    if config.table_allow and not any(_re.fullmatch(p, name) for p in config.table_allow):
        return False
    return not any(_re.fullmatch(p, name) for p in config.table_block)


def ddl_rows_of(ddl_log) -> list:
    """DDL log rows sorted by commit-ts, from None, a list of rows/dicts or
    a DataFrame (collected — the DDL stream is tiny by nature)."""
    if ddl_log is None:
        return []
    rows = ddl_log if isinstance(ddl_log, list) else ddl_log.collect()
    return sorted(rows, key=lambda r: r["commit_ts"])


def table_fields(registry: SchemaRegistry, as_of_ts: int, key=HANDLE_KEY) -> list:
    """Full sink-table schema at a snapshot: key columns + payload columns
    (ts transported as long → timestamp)."""
    snap = registry.snapshot_at(as_of_ts)
    key_fields = [("conv_id", "string"), ("turn_idx", "int")]
    payload = [(n, "timestamp" if n == "ts" and t == "long" else t) for n, t in snap.fields]
    return key_fields + payload


class Changefeed:
    def __init__(
        self,
        spark: SparkSession,
        binlog: DataFrame,
        resolved_log: DataFrame,
        ddl_log: DataFrame | None,
        target: LakeTable,
        config: ChangefeedConfig | None = None,
    ):
        self.spark = spark
        self.binlog = binlog
        self.resolved_log = resolved_log
        self.config = config or ChangefeedConfig()
        self.target = target
        self.registry = SchemaRegistry(self.config.payload_fields, base_version=0)
        self.ddl_rows = ddl_rows_of(ddl_log)
        self.registry.replay(self.ddl_rows)  # snapshot chain; lookups are ts-bounded

    # -------------- lifecycle --------------

    def ensure_target(self) -> None:
        if self.target.exists():
            return
        if self.config.force_replicate:
            tf = table_fields(self.registry, 0, self.config.key)
            nk = len(self.config.key)
            self.target.create(
                key=[],
                fields=tf[:nk] + [("op", "string"), ("commit_ts", "long")] + tf[nk:],
                n_buckets=self.config.n_buckets,
                schema_version=0,
                append_only=True,
            )
            return
        self.target.create(
            key=list(self.config.key),
            fields=table_fields(self.registry, 0, self.config.key),
            n_buckets=self.config.n_buckets,
            schema_version=0,
            with_order_cols=(self.config.sink_mode == "mor"),
            delta_layout=self.config.delta_layout,
        )

    def _reconcile_ddl(self, ckpt: int) -> None:
        """Idempotently re-apply any DDL at or below the checkpoint that the
        table missed (crash between barrier-merge and ALTER)."""
        for d in self.ddl_rows:
            if d["commit_ts"] <= ckpt:
                self.target.alter(
                    d["ddl_type"], d["column"], d["old_column"],
                    d["col_type"] or "string", schema_version=int(d["commit_ts"]),
                )

    # -------------- one sub-batch --------------

    def _prepare_window(self, df: DataFrame, batch_id: str):
        """Shared pre-dedup pipeline on a WAL slice: configured event
        filters, checksum quarantine, update splits, op-rank. Returns
        (df, quarantine_observation|None)."""
        df = apply_event_filters(df, self.config)
        qobs = None
        if self.config.verify_checksums and "checksum" in df.columns:
            # P3: recompute + quarantine corrupt rows; the count rides the
            # same scan via an Observation (no extra job)
            from pyspark.sql import Observation

            if self.config.checksum_algo == "md5":
                recomputed = F.md5(F.coalesce(F.col("payload"), F.lit("")))
            else:
                recomputed = F.xxhash64(F.coalesce(F.col("payload"), F.lit(""))).cast("string")
            ok = F.col("checksum").isNull() | (F.col("checksum") == recomputed)
            qobs = Observation(f"quarantine-{batch_id}")
            df = df.withColumn("_ck_ok", ok).observe(
                qobs, F.sum(F.when(~F.col("_ck_ok"), 1).otherwise(0)).alias("quarantined")
            ).filter(F.col("_ck_ok")).drop("_ck_ok", "checksum")
        # key-changing updates FIRST (they stop being 'U'), then safe mode
        df = split_key_changing_updates(df, self.config.key)
        if self.config.safe_mode_ts:
            df = split_updates(df, self.config.safe_mode_ts)
        # pre_payload is consumed by the splits above and op is an exact
        # function of op_rank — dropping both keeps dead bytes out of the
        # dedup shuffle (the one exchange per batch)
        return with_op_rank(df).drop("pre_payload", "op"), qobs

    def _apply_span(self, lo: int, uppers: list) -> dict:
        """Execute a DDL-free SPAN of resolved windows (a lone window is a
        span of one) as ONE Spark job — this feed as a fleet of one through
        the span executor (span.py): the initial load (2+ windows on an
        empty table, the fleet's gate too) writes the folded BASE once;
        otherwise the span dedups per (window, key), mounts once, writes
        once partitioned by window, and every window's fileset, batch id,
        syncpoint and lineage commit in ONE group manifest rewrite
        (:meth:`LakeTable.append_delta_files_group`). Windows dedup
        independently; the LWW read re-resolves across them. CoW and
        force-replicate windows (``cap()`` keeps them lone outside the
        bootstrap) go to :meth:`_apply_window`.

        Crash contract: the group commit is atomic — a crash before it
        leaves only unreferenced staged files (reaped by snapshot expiry),
        after it every window is durable with its own batch id."""
        cfg = self.config
        cid = cfg.changefeed_id
        boot = len(uppers) > 1 and bootstrap_ready(self.target, cfg)
        if not boot and (cfg.force_replicate or cfg.sink_mode != "mor"):
            (hi,) = uppers
            return self._apply_window(lo, hi)
        hi = uppers[-1]
        df = self.binlog.filter((F.col("commit_ts") > lo) & (F.col("commit_ts") <= hi))
        df, qobs = self._prepare_window(df, f"{cid}:{lo}:{hi}:span")
        span = SpanExecutor(self.spark, df.withColumn(_TABLE, F.lit(_SELF)), lo,
                            uppers, {_SELF: self.registry}, cfg, _TABLE)
        m = self.target.manifest()
        staging = os.path.join(self.target.data_dir, uuid.uuid4().hex)
        if boot:
            res = span.bootstrap({_SELF: (self.target, cid)}, m["n_buckets"],
                                 staging)[_SELF]
        else:
            nb = m["n_buckets"] if m.get("delta_layout") == "bucketed" else None
            ((_, _, bucketed, _),), stats = span.stage_groups(
                [_SELF], lambda _: (staging, nb, False))
            res = self.target.append_delta_files_group(span.commits(
                cid, _SELF, stats, staging, bucketed))
        return {"status": res["status"], "windows": res.get("batches", 0),
                "events": sum(r["event_count"] for r in res.get("lineage", [])),
                "quarantined": quarantined(qobs)}

    def _apply_window(self, lo: int, hi: int) -> dict:
        """One CoW or force-replicate window through :meth:`_sink_deduped`."""
        df = self.binlog.filter((F.col("commit_ts") > lo) & (F.col("commit_ts") <= hi))
        df, qobs = self._prepare_window(df, f"{self.config.changefeed_id}:{lo}:{hi}")
        if self.config.force_replicate:
            # keyless insert log: no dedup shuffle, every event is a row
            df = df.withColumn("op", op_from_rank())
        else:
            # dedup BEFORE mount: the decode then touches only surviving rows
            df = dedup(df, self.config.key)
        res = self._sink_deduped(df, lo, hi)
        res["windows"] = int(res["status"] == "committed")
        res["quarantined"] = quarantined(qobs)
        return res

    def _sink_deduped(self, deduped: DataFrame, lo: int, hi: int) -> dict:
        """Mount + exactly-once sink of one CoW or force-replicate window:
        a CoW merge, or — force-replicate — an ``append_log`` of the raw
        events (the cheapest sink; the degradation the reference applies
        to no-PK tables). The multi-table CoW loop dedups ALL tables in one
        shuffle and feeds each table's slice here (streaming/multi.py)."""
        batch_id = f"{self.config.changefeed_id}:{lo}:{hi}"
        # recognition is two-tier: the monotone-window rule (a window whose
        # upper bound is at/below the checkpoint was already applied — lets
        # the manifest PRUNE old batch ids instead of growing forever) plus
        # the live batch-id set for in-flight windows
        if hi <= max(self.target.checkpoint["resolved_ts"], self.config.start_ts) or (
            batch_id in self.target.committed_batch_ids()
        ):
            return {"status": "skipped", "batch_id": batch_id}
        # per-source-partition lineage (A2/A5) rides in the mount UDF — NO
        # extra Spark job per micro-batch; a key's events count at its
        # winning row's partition_id
        tap = LineageTap(self.spark, ["partition_id"])
        mounted, payload_cols = mount_window(deduped, self.registry, hi,
                                             self.config.defaults, tap)
        lineage = tapped_lineage(tap, batch_id, hi)
        if self.config.force_replicate:
            src = mounted.select(*self.config.key, "op", "commit_ts", *payload_cols)
            res = self.target.append_log(src, batch_id, lineage_rows=lineage,
                                         resolved_ts=hi)
        else:
            src = mounted.select(*self.config.key, "op", *payload_cols)
            res = self.target.merge(src, batch_id, lineage_rows=lineage, resolved_ts=hi)
        res["events"] = sum(r["event_count"] for r in res.get("lineage", []))
        return res

    def is_synced(self, use_cached_frontier: bool = True) -> bool:
        """Synced detection (W7, /root/reference/cdc/api/v2/changefeed.go:974-976):
        the feed is fully synced when the sink checkpoint has reached the
        source's global frontier — every resolved event is applied.

        ``run()`` caches the frontier it already computed, so the common
        call pattern (run → is_synced) costs ZERO extra Spark jobs — the
        single-table twin of the multi-table feed's one-job rule. Pass
        ``use_cached_frontier=False`` to re-read a resolved log that may
        have grown since the last run."""
        from ticdc_spark.sources.frontier import global_frontier

        gf = getattr(self, "_cached_frontier", None)
        if not use_cached_frontier or gf is None:
            gf = global_frontier(self.resolved_log, self.config.expected_partitions)
            self._cached_frontier = gf
        return self.target.checkpoint["resolved_ts"] >= gf

    @property
    def is_finished(self) -> bool:
        """Finish-at state (W5; changefeed_finish integration test): a feed
        with target_ts set is terminal once its sink checkpoint reaches it.
        The owner (ChangefeedManager) flips the registry state to
        ``finished`` on observing this."""
        t = self.config.target_ts
        if t is None or not self.target.exists():
            return False
        return max(self.target.checkpoint["resolved_ts"], self.config.start_ts) >= t

    def syncpoints(self) -> list:
        """Syncpoint store analog (K8,
        /root/reference/cdc/syncpointstore/mysql_syncpoint_store.go:133-180):
        (source resolved-ts → lake snapshot version) pairs, one per commit —
        the mapping a consistent cross-system snapshot read needs. Read from
        the table's append-only sidecar (bounded manifests)."""
        return [
            {"primary_ts": rts, "version": v}
            for rts, v in self.target.syncpoints()
        ]

    # -------------- the driver loop --------------

    def run(self, max_merges: int | None = None) -> dict:
        """Process all currently-resolved input; returns run stats.
        Restartable: picks up from the manifest checkpoint."""
        self.ensure_target()
        ckpt = max(self.target.checkpoint["resolved_ts"], self.config.start_ts)
        self._reconcile_ddl(ckpt)
        steps = frontier_steps(
            self.resolved_log, low=ckpt,
            expected_partitions=self.config.expected_partitions,
        )
        # the same scan gave the frontier, cached so run -> is_synced costs
        # no extra frontier job
        self._cached_frontier = steps.frontier
        uppers = plan_windows(steps, ckpt, self.config)

        cfg = self.config
        n = {"merges": 0, "events": 0, "quarantined": 0}
        last_expired = 0  # merges count at the last snapshot-expiry tick

        def cap() -> int:
            # DDL-free spans run as ONE Spark job with per-window group
            # commits; CoW takes the span path ONLY for the bootstrap span
            # (empty table): the folded base write is mode-agnostic
            if (cfg.force_replicate or cfg.max_windows_per_job <= 1
                    or not (cfg.sink_mode == "mor"
                            or bootstrap_ready(self.target, cfg))):
                return 1
            c = cfg.max_windows_per_job
            return min(c, max_merges - n["merges"]) if max_merges else c

        def apply(lo: int, ws: list) -> bool:
            res = self._apply_span(lo, ws)
            n["merges"] += res.get("windows", 0)
            n["events"] += res.get("events", 0)
            n["quarantined"] += res.get("quarantined", 0)
            return bool(max_merges) and n["merges"] >= max_merges

        def barrier(d) -> None:
            # quiesce done (the window up to d committed): apply the ALTER
            self.target.alter(d["ddl_type"], d["column"], d["old_column"],
                              d["col_type"] or "string",
                              schema_version=int(d["commit_ts"]))

        def tick() -> None:
            nonlocal last_expired
            if (cfg.sink_mode == "mor" and not cfg.force_replicate
                    and self.target.delta_depth() >= cfg.compact_every):
                # resolved-ts mode: nothing older than the checkpoint can
                # arrive → tombstones are droppable at compaction
                self.target.compact(drop_tombstones=True)
            # span batching advances `merges` by the span size, so an exact
            # `merges % expire_every == 0` test would fire gcd-dependently;
            # fire whenever the counter CROSSES a multiple since last tick
            ee = cfg.expire_every
            if ee and n["merges"] // ee > last_expired // ee:
                last_expired = n["merges"]
                self.target.expire_snapshots(
                    keep_last=cfg.expire_keep_last,
                    safepoint_ts=cfg.gc_safepoint_ts,
                )

        ckpt = walk(uppers, ckpt, self.ddl_rows, cap, apply, barrier, tick)
        return {**n, "checkpoint": ckpt}


def expected_final_state(
    binlog: DataFrame,
    registry: SchemaRegistry,
    frontier: int,
    key=HANDLE_KEY,
    safe_mode_ts: int = 0,
    config: ChangefeedConfig | None = None,
) -> DataFrame:
    """The batch LWW oracle: what the lake table must equal after replaying
    everything <= frontier (SURVEY §5 — final-state equivalence is the
    reference's own correctness oracle, tests/integration_tests/_utils/check_sync_diff)."""
    df = binlog.filter(F.col("commit_ts") <= frontier)
    if 0 < registry.truncate_ts <= frontier:
        # a truncate wipes everything at/below it; only later DML survives
        df = df.filter(F.col("commit_ts") > registry.truncate_ts)
    if config is not None:
        df = apply_event_filters(df, config)
    df = split_key_changing_updates(df, key)
    if safe_mode_ts:
        df = split_updates(df, safe_mode_ts)
    df = with_op_rank(df)
    mounted = mount(df, registry, as_of_ts=frontier)
    deduped = lww_dedup(mounted, key)
    payload_cols = mounted_columns(registry, frontier)
    return deduped.filter(F.col("op") != "D").select(*key, *payload_cols)
