"""The span executor: one DDL-free span of resolved windows over 1..N tables.

Per resolved window the engine does one job — scan, prepare, LWW dedup,
mount, write, then an atomic per-window commit — and TiCDC's sink manager
runs that same per-span pipeline for one table or for 100k
(cdc/processor/sinkmanager/manager.go:489-663). This module is that one
pipeline. Its input is a prepared WAL slice whose rows carry a table
column; a single-table feed adds a literal one and is a fleet of one. The
executor never knows which front end it serves:

- ``pipeline.Changefeed`` commits the staged windows with one group
  manifest rewrite (``LakeTable.append_delta_files_group``);
- ``multi.MultiTableChangefeed`` commits each (window, write group) with
  one feed-journal append;
- ``structured.run_streaming_multi`` commits each micro-batch (a span of one
  window) with one journal append per write group, carrying its epoch.

Two halves:

- :meth:`SpanExecutor.bootstrap` — every target is EMPTY (the initial
  load): fold the span once per (table, bucket, key) straight off the raw
  slice (LWW is associative over (commit_ts, start_ts, op_rank)), drop
  tombstones, mount the survivors, write every table's compacted BASE in one
  ``partitionBy(table, _bucket)`` job, take lineage from one column-pruned
  re-scan and commit with ``bootstrap_base_group`` per table.
- :meth:`SpanExecutor.stage_groups` — the delta span, the one MOR write form of every feed shape (a lone window
  and a barrier sub-window are spans of one): dedup per (window, table,
  key), mount once per schema chain, one ``partitionBy`` write (flat,
  bucketed or a shared per-bucket fileset) per type-compatible write
  group. Lineage comes from the mount's tap (:class:`LineageTap`) inside
  each write's result stage: no job of its own, and the dedup is cached
  only when 2+ write groups read it. The caller commits.

Each table brings its own schema registry. Tables whose chains agree below
the span's upper bound mount together; a fleet on one chain (the common
case, and every single-table feed) mounts once with no filter, union or
extra exchange. Diverged chains mount per chain and union by name, and
only a TYPE conflict on a shared column name splits the write.

The module-level helpers are the pieces every front end shares: window
planning, span extent, the window walker (:func:`walk`, the driver loop of
``Changefeed.run`` and ``MultiTableChangefeed.run``), the window tag, the
decode-snapshot rule (:func:`mount_window`, CRTs−1), the LWW order-metadata
columns, lineage rows, the quarantine read and the empty-table gate.
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.mount import LineageTap, mount, mounted_columns
from ticdc_spark.operators.placement import cluster_parallelism, placed_fold
from ticdc_spark.operators.sortdedup import lww_dedup
from ticdc_spark.sinks.lake import LakeTable, staged_files

WIN = "_win"


# ---------------- window planning ----------------


def plan_windows(steps: list, ckpt: int, config) -> list:
    """Window upper bounds from ``frontier_steps`` output: fold
    ``frontiers_per_batch`` resolved steps into one window; with finish-at
    (``target_ts``) no window passes it, and the last one clamps AT it once
    the frontier has resolved past it."""
    k = max(1, config.frontiers_per_batch)
    uppers = steps[k - 1 :: k]
    if steps and (not uppers or uppers[-1] != steps[-1]):
        uppers.append(steps[-1])
    tgt = config.target_ts
    if tgt is not None:
        reached = bool(steps) and steps[-1] >= tgt
        uppers = [u for u in uppers if u < tgt]
        if reached and ckpt < tgt:
            uppers.append(tgt)
    return uppers


def span_end(uppers: list, i: int, cap: int, ddl_rows: list) -> int:
    """Index of the last window of the span starting at ``uppers[i]``: at
    most ``cap`` windows, never crossing a DDL commit-ts."""
    j = i
    while (
        j + 1 < len(uppers) and (j + 1 - i) < cap
        and not any(uppers[j] < int(d["commit_ts"]) <= uppers[j + 1]
                    for d in ddl_rows)
    ):
        j += 1
    return j


def walk(uppers: list, ckpt: int, ddl_rows: list, cap, apply, barrier,
         tick) -> int:
    """The driver loop of every front end — TiCDC's barrier-split tick
    (cdc/owner/ddl_manager.go:346-532) — from checkpoint ``ckpt`` over the
    planned window upper bounds ``uppers``. A DDL-free run of windows goes
    to ``apply(lo, span)`` as one span of at most ``cap()`` windows; a
    window holding DDLs splits at each commit-ts d into ``apply(lo, [d])``
    then ``barrier(d)`` (the empty ``(d, d]`` window between two DDLs at
    one commit-ts is skipped), then its remainder. ``tick()`` runs after
    each planned window or span. ``apply`` returns True once the merge
    budget is spent: the walk stops there (after the barrier of a barrier
    sub-window, before its tick). Returns the checkpoint reached."""
    i = 0
    while i < len(uppers):
        lo = ckpt
        bounds = [d for d in ddl_rows if lo < int(d["commit_ts"]) <= uppers[i]]
        j = i if bounds else span_end(uppers, i, cap(), ddl_rows)
        for d in bounds:
            hi = int(d["commit_ts"])
            spent = lo < hi and apply(lo, [hi])
            barrier(d)
            lo = hi
            if spent:
                return lo
        ckpt = uppers[j]
        spent = lo < ckpt and apply(lo, uppers[i:j + 1])
        tick()
        if spent:
            break
        i = j + 1
    return ckpt


def tag_windows(df: DataFrame, uppers: list) -> DataFrame:
    """``_win`` = index of the first upper bound >= commit_ts."""
    w = F.lit(len(uppers) - 1)
    for i in range(len(uppers) - 2, -1, -1):
        w = F.when(F.col("commit_ts") <= uppers[i], i).otherwise(w)
    return df.withColumn(WIN, w.cast("int"))


# ---------------- per-row pieces ----------------


def op_from_rank() -> Column:
    return (F.when(F.col("op_rank") == 1, "D")
            .when(F.col("op_rank") == 2, "U").otherwise("I"))


def mount_window(df: DataFrame, registry, hi: int, defaults: dict,
                 tap: LineageTap | None = None) -> tuple:
    """Mount a window (or span) ending at ``hi``: (mounted df, payload
    columns) against the snapshot at ``hi - 1`` — a DML at commit-ts c
    decodes against the schema BEFORE any DDL at c (cdc/entry/mounter.go:173).
    Exact for every window: windows split at every DDL commit-ts, so none
    holds a DDL below its upper bound. ``tap`` counts the rows' lineage."""
    return (mount(df, registry, as_of_ts=hi - 1, defaults=defaults, tap=tap),
            mounted_columns(registry, hi - 1))


def dedup(df: DataFrame, key) -> DataFrame:
    """LWW dedup with per-key lineage stats folded into the SAME aggregate
    (one exchange), and ``op`` re-derived from the winning rank."""
    return lww_dedup(df, list(key), stats=True).withColumn("op", op_from_rank())


def order_meta() -> list:
    """The LWW order metadata a MOR row carries (deduped rows in, table
    columns out)."""
    return [
        F.col("commit_ts").alias("_commit_ts"),
        F.col("start_ts").alias("_start_ts"),
        F.col("op_rank").alias("_op_rank"),
        (F.col("op") == "D").cast("int").alias("_deleted"),
    ]


# ---------------- lineage ----------------


def lineage_rows(batch_id: str, stats, resolved_ts: int | None) -> list:
    """One commit's lineage rows; ``stats`` = [(partition_id, events,
    max_commit_ts)]."""
    return [
        {"batch_id": batch_id, "partition_id": int(p), "resolved_ts": resolved_ts,
         "event_count": int(n), "max_commit_ts": int(mx)}
        for p, n, mx in stats
    ]


def tapped_lineage(tap: LineageTap, batch_id: str, resolved_ts: int | None):
    """Thunk of one window's lineage rows from a ``["partition_id"]`` tap,
    read after the sink's write (an empty slice taps nothing: no rows)."""
    return lambda: lineage_rows(batch_id, [
        (p, n, mx) for (p,), (n, mx) in sorted(tap.counts().items())], resolved_ts)


def quarantined(qobs) -> int:
    """Rows the checksum quarantine dropped (0 without verification, or
    when the observed action never ran)."""
    if qobs is None:
        return 0
    try:
        return int(qobs.get.get("quarantined") or 0)
    except Exception:
        return 0


# ---------------- staging ----------------


def bootstrap_ready(target: LakeTable, config) -> bool:
    """The initial-load gate: the fast path is on and the target is
    completely empty (no base files, no deltas, no truncate incarnation)."""
    if not config.bootstrap_fast_path or not target.exists():
        return False
    m = target.manifest()
    return (not any(info["files"] for info in m["buckets"].values())
            and not m.get("deltas") and not m.get("truncate_ts", 0))


def part_dirs(parent: str, col: str) -> dict:
    """Partition value -> dir under ``parent``, UNESCAPING Hive's %-hex
    encoding of special chars (a span named ``pt#p0`` is staged as
    ``table_name=pt%23p0``; a literal join would miss it and commit an
    empty window)."""
    if not os.path.isdir(parent):
        return {}
    return {unquote(d.split("=", 1)[1]): os.path.join(parent, d)
            for d in os.listdir(parent) if d.startswith(col + "=")}


class SpanExecutor:
    """One DDL-free span: windows ``(lo, uppers[0]], (uppers[0], uppers[1]],
    ...`` over the tables named in ``df``'s ``table_col``; ``registries``
    maps each table value to the schema registry its rows decode with."""

    def __init__(self, spark: SparkSession, df: DataFrame, lo: int,
                 uppers: list, registries: dict, config, table_col: str):
        self.spark = spark
        self.df = tag_windows(df, uppers)
        self.lo, self.uppers = lo, list(uppers)
        self.registries = registries
        self.key = list(config.key)
        self.defaults = config.defaults
        self.tc = table_col

    def windows(self):
        """(index, lower bound, upper bound) per window."""
        prev = self.lo
        for i, u in enumerate(self.uppers):
            yield i, prev, u
            prev = u

    def _mounts(self, df: DataFrame, tables, tap: LineageTap | None = None) -> list:
        """[(table values, mounted df, payload columns)], one per schema
        chain of ``tables`` below the span's upper bound: the rows decode
        against the snapshot at ``hi - 1`` of their own chain. ``df`` holds
        rows of ``tables`` only, so one chain mounts it whole."""
        hi = self.uppers[-1]
        chains: dict = {}
        for name in sorted(tables):
            reg = self.registries[name]
            chains.setdefault(reg.chain_digest(hi - 1), (reg, []))[1].append(name)
        if len(chains) == 1:
            (reg, names), = chains.values()
            return [(names, *mount_window(df, reg, hi, self.defaults, tap))]
        return [(names, *mount_window(df.filter(F.col(self.tc).isin(*names)),
                                      reg, hi, self.defaults, tap))
                for reg, names in chains.values()]

    def commits(self, feed_id: str, name: str, stats: dict,
                staging: str | None, bucketed: bool) -> list:
        """Per-window batches of table ``name``: batch id, resolved-ts,
        lineage rows and — from a :meth:`stage` dir — its staged files."""
        out = []
        for i, prev, u in self.windows():
            bid = f"{feed_id}:{prev}:{u}"
            b = {"batch_id": bid, "resolved_ts": u,
                 "lineage_rows": lineage_rows(bid, stats.get((i, name), []), u)}
            if staging is not None:
                wdir = part_dirs(os.path.join(staging, f"{WIN}={i}"), self.tc)
                b["files"], b["buckets"] = staged_files(wdir.get(name, ""), bucketed)
            out.append(b)
        return out

    # ---------------- bootstrap half ----------------

    def bootstrap(self, feeds: dict, n_buckets: int, staging: str) -> dict:
        """Initial load onto EMPTY targets, ``feeds`` = {table value:
        (LakeTable, feed id)}; one write job + one lineage job, then one
        ``bootstrap_base_group`` per table. Returns {table value: commit
        result}. The rows carry LWW order metadata only if the targets'
        schema has it (CoW tables do not). The tables share one schema
        chain (callers gate on it): the base is one mount.

        Placement: with at least ``defaultParallelism`` (table, bucket)
        slots, ONE exchange of the raw span places the slots onto
        ``defaultParallelism`` partitions, each slot in exactly one
        (operators/placement.py); the (table, bucket, key) aggregate reuses
        that partitioning in a single sort pass and the write streams
        straight out of mount, one file per slot. With fewer slots than
        cores that would idle the cluster, so the raw span spreads by
        (table, key[0]) — by key[0] alone for a single table, whose table
        column may be a literal the aggregate would not reuse a partitioning
        on — and the deduped mounted rows align in a second, small
        exchange."""
        tc, key = self.tc, self.key
        schema = next(iter(feeds.values()))[0].manifest()["schema"]
        meta = "_commit_ts" in [c[0] for c in schema]
        n_slots = len(feeds) * n_buckets
        dp = cluster_parallelism(self.spark)
        raw = self.df.drop(WIN).withColumn(
            "_bucket", LakeTable._bucket_expr(n_buckets, key[0]))
        if n_slots >= dp:
            tmap = F.create_map(*[x for i, name in enumerate(sorted(feeds))
                                  for x in (F.lit(name), F.lit(i))])
            idx = (F.coalesce(F.element_at(tmap, F.col(tc)), F.lit(0)) * n_buckets
                   + F.col("_bucket"))
            final = placed_fold(raw, idx, n_slots, [tc, "_bucket", *key],
                                stats=True).withColumn("op", op_from_rank())
        else:
            spread = [F.col(tc)] if len(feeds) > 1 else []
            raw = raw.repartition(dp, *spread, F.col(key[0]))
            final = dedup(raw, [tc, "_bucket", *key])
        # final-state tombstones leave the base entirely — exactly what
        # compact(drop_tombstones=True) produces in resolved-ts mode
        (_, mounted, payload), = self._mounts(
            final.filter(F.col("op_rank") != 1), feeds)
        src = mounted.select(tc, "_bucket", *key, *payload,
                             *(order_meta() if meta else []))
        if n_slots < dp:
            src = src.repartition(n_slots, F.col(tc), F.col("_bucket"))
        src.write.partitionBy(tc, "_bucket").parquet(staging)
        # lineage re-scans the WAL pruned to (win, table, partition, ts)
        # instead of caching the undeduped span (at a 100-TB initial load
        # that cache would hold the whole corpus); the fold spans windows,
        # so no row the mount sees carries a per-window count
        stats: dict = {}
        for r in (self.df.groupBy(WIN, tc, "partition_id")
                  .agg(F.count(F.lit(1)).alias("n"), F.max("commit_ts").alias("mx"))
                  .collect()):
            stats.setdefault((int(r[WIN]), r[tc]), []).append(
                (r["partition_id"], r["n"], r["mx"]))
        staged = part_dirs(staging, tc)
        out = {}
        for name in sorted(feeds):
            target, feed_id = feeds[name]
            bucket_files: dict = {}
            if name in staged:
                os.makedirs(target.data_dir, exist_ok=True)
                dest = os.path.join(target.data_dir, uuid.uuid4().hex)
                os.rename(staged[name], dest)
                bucket_files = staged_files(dest, True)[1]
            out[name] = target.bootstrap_base_group(
                self.commits(feed_id, name, stats, None, False), bucket_files)
        shutil.rmtree(staging, ignore_errors=True)
        return out

    # ---------------- delta half ----------------

    def dedup(self) -> DataFrame:
        """The span deduped per (window, table, key)."""
        return dedup(self.df, [WIN, self.tc, *self.key])

    def write_groups(self, deduped: DataFrame, tables, tap: LineageTap) -> list:
        """[(table values, rows to stage)] for the span's ``tables``: one
        group per type-compatible column set. Mounted chains union by name
        (a column a table never had is NULL there, and the per-table read
        projects by name, so it is never read); only chains that disagree
        on the TYPE of a shared column name write apart. Every mount feeds
        ``tap``."""
        groups: list = []
        for names, mounted, payload in self._mounts(deduped, tables, tap):
            src = mounted.select(WIN, self.tc, *self.key, *payload, *order_meta())
            types = dict(src.dtypes)
            for g in groups:
                if all(g[2].get(c, ty) == ty for c, ty in types.items()):
                    g[0].extend(names)
                    g[1] = g[1].unionByName(src, allowMissingColumns=True)
                    g[2].update(types)
                    break
            else:
                groups.append([list(names), src, types])
        return [(names, src) for names, src, _ in groups]

    def stage(self, src: DataFrame, staging: str,
              n_buckets: int | None, shared: bool) -> None:
        """Write one :meth:`write_groups` group for the whole span in ONE
        job under ``staging``: ``_win=i/<table>=v/`` (+ ``_bucket=b/`` when
        ``n_buckets``), or with ``shared`` one per-bucket fileset per window
        holding every table of the group, clustered by table within each
        file (file count independent of table count). No layout adds an
        exchange above the mount, so its lineage tap stays in the write's
        result stage (see :class:`LineageTap`)."""
        pcols = [WIN, self.tc]
        if n_buckets:
            src = src.withColumn(
                "_bucket", LakeTable._bucket_expr(n_buckets, self.key[0]))
            pcols.append("_bucket")
        if shared:
            src = src.sortWithinPartitions(WIN, "_bucket", self.tc)
            pcols.remove(self.tc)
        src.write.partitionBy(*pcols).parquet(staging)

    def stage_groups(self, tables, layout) -> tuple:
        """Dedup the span and stage each :meth:`write_groups` group of
        ``tables`` with its own write job; ``layout(group)`` gives the
        group's (staging dir, bucket count or None, shared). The dedup is
        cached only while 2+ groups' writes read it. Returns ([(group,
        staging dir, bucketed, shared)], {(window, table value):
        [(partition_id, events, max_commit_ts)]}) — the lineage every
        staged row's mount tapped."""
        tap = LineageTap(self.spark, [WIN, self.tc, "partition_id"])
        deduped = self.dedup()
        groups = self.write_groups(deduped, tables, tap)
        if len(groups) > 1:
            deduped.persist()
        staged = []
        try:
            for group, src in groups:
                staging, n_buckets, shared = layout(group)
                self.stage(src, staging, n_buckets, shared)
                staged.append((group, staging, n_buckets is not None, shared))
        finally:
            deduped.unpersist()
        stats: dict = {}
        for (w, t, p), (n, mx) in sorted(tap.counts().items()):
            stats.setdefault((w, t), []).append((p, n, mx))
        return staged, stats
