"""The benchmark's workloads: input generation, the measured phase and the
correctness gate. Inputs come from ``BinlogSpec``/``gen_binlog`` with the
run's seed and are written before any clock starts."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import replace

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ticdc_spark.functions.mount import mount
from ticdc_spark.operators.sortdedup import lww_dedup, with_op_rank
from ticdc_spark.plans.schema_registry import SchemaRegistry
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import (
    BinlogSpec,
    DDLSpec,
    gen_binlog,
    gen_ddl_log,
    gen_resolved_log,
)
from ticdc_spark.streaming.multi import MultiTableChangefeed
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig, expected_final_state

META = ["_commit_ts", "_start_ts", "_op_rank", "_deleted"]
RESOLVED_SCHEMA = "partition_id int, resolved_ts long, emit_seq long"

# ---- workload shapes (why each was chosen: README.md) ----
# fleet_sync: FLEET_TABLES tables, each with a WAL of FLEET_WINDOWS resolved
# windows of WINDOW_EVENTS events. The load call bootstraps FLEET_BOOTSTRAP
# windows per table as one span; the catch-up call applies the rest as one
# span through the journal, and its COMPACT_EVERY deltas per table trigger
# one compaction of every table.
FLEET_TABLES = 2
FLEET_WINDOWS = 4
FLEET_BOOTSTRAP = 2
WINDOW_EVENTS = 5_000
COMPACT_EVERY = 2
N_BUCKETS = 8  # a small table on a small host: one bootstrap task per bucket
# live tail: TAIL_BLOCKS_PER_S blocks of TAIL_BLOCK_EVENTS events land per
# second and TAIL_BLOCKS_PER_WINDOW of them fold into one window: a window
# every 2 s. The preload is one bootstrap span of TAIL_PRELOAD_WINDOWS
# windows (16k events). A phase is shorter than the first call, which
# takes the DDL block alone (5-8 s on a 4-core host), so the second call
# always finds the rest of the phase landed: the number of calls, and with
# it their fixed cost, is the same in every run. A phase starts compacted;
# its DDL splits a window into two deltas, and a 4 s phase (2 windows)
# stays below TAIL_COMPACT_EVERY deltas, so every phase, untraced or
# traced, does the same work; compaction is measured on fleet_sync.
TAIL_BLOCK_EVENTS = 250
TAIL_BLOCKS_PER_S = 8.0
TAIL_BLOCKS_PER_WINDOW = 16
TAIL_PRELOAD_WINDOWS = 4
TAIL_COMPACT_EVERY = 8
# beside the live tail: an independent user reading one bucket of the table
# on a fixed period
READ_PERIOD_S = 2.0


class Ops:
    """Counts operations (run() calls, reads, correctness checks) and runs
    each inside a tracer span when tracing. ``cpu()`` reads the CPU seconds
    the driver and its Spark processes have burnt so far."""

    def __init__(self, cpu):
        self.cpu = cpu
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self._lock = threading.Lock()

    def call(self, name: str, fn, *args, **kwargs):
        """Run one operation; a raised exception counts as a failure and
        yields None."""
        with self._lock:
            self.attempted += 1
        try:
            if self.tracer is not None:
                return self.tracer.span(name, fn, *args, **kwargs)
            return fn(*args, **kwargs)
        except Exception as e:  # a failed operation is a result, not a crash
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None

    def fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            self.errors.append(msg[:500])

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
        if not ok:
            self.fail(f"check {name} failed {detail}")


def snapshot_read(table: LakeTable, buckets: list | None = None) -> int:
    """A consumer's snapshot read: every column of every live row (of
    ``buckets`` when given)."""
    df = table.read(buckets=buckets)
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]
    return int(row["n"])


class Reader(threading.Thread):
    """Open-loop snapshot reader: a read of one bucket is due every
    ``period`` seconds from ``t0``; latency is timed from the due time, so a
    stalled read delays the ones behind it. Buckets are read round-robin."""

    def __init__(self, ops: Ops, table: LakeTable, t0: float, period: float = READ_PERIOD_S):
        super().__init__(name="reader", daemon=True)
        self.ops, self.table, self.t0, self.period = ops, table, t0, period
        self.latencies: list = []
        self.delta_depths: list = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        k = 0
        while True:
            due = self.t0 + k * self.period
            if self._stop_evt.is_set():
                return
            wait = due - time.perf_counter()
            if wait > 0 and self._stop_evt.wait(wait):
                return
            if self.ops.tracer is not None:
                self.delta_depths.append(self.table.delta_depth())
            bucket = [k % N_BUCKETS]
            if self.ops.call("bench.snapshot_read", snapshot_read, self.table,
                             bucket) is not None:
                self.latencies.append(time.perf_counter() - due)
            k += 1

    def finish(self) -> None:
        self._stop_evt.set()
        self.join()


def _check_tables(ops: Ops, names: list, got: list, want: list, events: int,
                  frontier: int) -> None:
    """The correctness gate, outside any timed region: each table's state
    equals the oracle's (``exceptAll`` both ways, all tables in one query),
    its lineage counts every landed event once and its checkpoint is the
    frontier."""
    diffs = []
    for name, table, w in zip(names, got, want):
        g = table.read().drop(*META)
        cols = sorted(g.columns)
        ok = cols == sorted(w.columns)
        ops.check(f"{name}.columns", ok, f"{cols} vs {sorted(w.columns)}")
        if ok:
            g, w = g.select(*cols), w.select(*cols)
            key = F.to_json(F.struct(*cols)).alias("row")
            diffs += [g.exceptAll(w).select(F.lit(f"{name} extra").alias("side"), key),
                      w.exceptAll(g).select(F.lit(f"{name} missing").alias("side"), key)]
    if diffs:
        diff = diffs[0]
        for d in diffs[1:]:
            diff = diff.unionByName(d)
        sides = {r["side"]: r["n"] for r in diff.groupBy("side").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        ops.check("state", not sides, f"rows differing from the oracle: {sides}")
    for name, table in zip(names, got):
        lineage = sum(r["event_count"] for r in table.lineage_df().collect())
        ops.check(f"{name}.lineage", lineage == events, f"lineage={lineage} landed={events}")
        ckpt = table.checkpoint["resolved_ts"]
        ops.check(f"{name}.checkpoint", ckpt == frontier,
                  f"checkpoint={ckpt} frontier={frontier}")


# --------------------------------------------------------------------------
# fleet sync
# --------------------------------------------------------------------------


class FleetSync:
    """Initial load, then catch-up, of a FLEET_TABLES-table WAL into fresh,
    empty targets through one ``MultiTableChangefeed``."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tables = [f"tbl_{i}" for i in range(FLEET_TABLES)]
        self.feeds: list = []

    def generate(self) -> None:
        n = FLEET_WINDOWS * WINDOW_EVENTS
        self.spec = BinlogSpec(n_events=n, n_convs=n // 50, n_turns=16,
                               block=WINDOW_EVENTS, n_partitions=8, seed=self.seed)
        parts = [gen_binlog(self.spark, replace(self.spec, seed=self.seed * 100 + i))
                 .withColumn("table_name", F.lit(t)) for i, t in enumerate(self.tables)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        wal = os.path.join(self.work, "wal")
        df.write.parquet(wal)
        self.binlog = self.spark.read.schema(df.schema).parquet(wal)
        self.resolved = gen_resolved_log(self.spark, self.spec)
        self.frontier = self.spec.base_ts + self.spec.n_blocks * self.spec.block

    def setup(self, ops: Ops) -> dict:
        t = time.perf_counter()
        warmup(self.spark)
        return {"warmup_s": time.perf_counter() - t}

    def roots(self) -> list:
        """Table directories that exist before the next measurement."""
        return []

    def prepare(self, ops: Ops) -> None:
        """Nothing to do: every sync starts from fresh, empty targets."""

    def measure(self, ops: Ops) -> dict:
        """One sync into fresh targets: the load call, then the catch-up
        call."""
        name = f"sync{len(self.feeds)}"
        root = os.path.join(self.work, name)
        feed = MultiTableChangefeed(
            self.spark, self.binlog, self.resolved, None,
            table_factory=lambda t: LakeTable(self.spark, os.path.join(root, t)),
            config=ChangefeedConfig(changefeed_id=name, n_buckets=N_BUCKETS,
                                    compact_every=COMPACT_EVERY),
            tables=self.tables)
        for f in feed.feeds.values():
            f.ensure_target()
        self.feeds.append(feed)
        targets = [f.target for f in feed.feeds.values()]
        out = {"roots": [root], "targets": targets, "depth": []}
        t0, c0 = time.perf_counter(), ops.cpu()
        s1 = ops.call("bench.run", feed.run, max_merges_per_table=FLEET_BOOTSTRAP)
        t1, c1 = time.perf_counter(), ops.cpu()
        s2 = ops.call("bench.run", feed.run)
        t2, c2 = time.perf_counter(), ops.cpu()
        if s1 is None or s2 is None:
            return out
        w1, w2 = s1["windows"] * FLEET_TABLES, s2["windows"] * FLEET_TABLES
        out.update({
            "load": (s1["events"], t1 - t0, c1 - c0),
            "catchup": (s2["events"], t2 - t1, c2 - c1),
            # every window is due when the sync starts and commits with the
            # call that applies it
            "lag": [t1 - t0] * w1 + [t2 - t0] * w2,
            "lag_cpu": [c1 - c0] * w1 + [c2 - c0] * w2,
            "busy_s": t2 - t0, "events": s1["events"] + s2["events"],
            "calls": 2, "windows": s1["windows"] + s2["windows"],
        })
        return out

    def verify(self, ops: Ops) -> None:
        names, got, want = [], [], []
        for k, feed in enumerate(self.feeds):
            for t in self.tables:
                sub = self.binlog.filter(F.col("table_name") == t).drop("table_name")
                f = feed.feeds[t]
                names.append(f"sync{k}.{t}")
                want.append(expected_final_state(sub, f.registry, self.frontier))
                got.append(f.target)
        _check_tables(ops, names, got, want, self.spec.n_events, self.frontier)


# --------------------------------------------------------------------------
# live tail
# --------------------------------------------------------------------------


class LiveTail:
    """One preloaded table fed by an open loop. A landing thread moves
    pre-generated WAL blocks into the live WAL directory and publishes their
    resolved markers on a fixed schedule; the feed thread calls ``run()``
    whenever new markers have landed and it is free; a reader issues snapshot
    reads on its own schedule. A column DDL sits in the first block of each
    phase, so the first call takes the per-window path and
    ``LakeTable.alter``; the first call always sees that block alone, which
    keeps the barrier's place in the phase fixed.

    WAL layout in blocks: preload | phase 1 | phases 2, 3 (traced runs
    only)."""

    def __init__(self, spark, work: str, seed: int, seconds: float, phases: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.phase_blocks = int(round(seconds * TAIL_BLOCKS_PER_S))
        self.phases = phases
        self.preload_blocks = TAIL_PRELOAD_WINDOWS * TAIL_BLOCKS_PER_WINDOW
        self.next_block = 0
        self.markers: list = []
        self.landed_events = 0
        self._cond = threading.Condition()

    def _ddls(self) -> tuple:
        """An add-column DDL inside the first block of each phase."""
        firsts = [self.preload_blocks + p * self.phase_blocks for p in range(self.phases)]
        return tuple(
            DDLSpec(commit_ts=BinlogSpec.base_ts + k * TAIL_BLOCK_EVENTS + TAIL_BLOCK_EVENTS // 2,
                    ddl_type="add_column", column=f"note{p}")
            for p, k in enumerate(firsts))

    def generate(self) -> None:
        n_blocks = self.preload_blocks + self.phases * self.phase_blocks
        n = n_blocks * TAIL_BLOCK_EVENTS
        # the key space of an untraced run, also when a traced run adds a phase
        keys = (self.preload_blocks + self.phase_blocks) * TAIL_BLOCK_EVENTS // 50
        self.spec = BinlogSpec(n_events=n, n_convs=max(keys, 100), n_turns=16,
                               block=TAIL_BLOCK_EVENTS, n_partitions=8, seed=self.seed,
                               ddls=self._ddls())
        df = gen_binlog(self.spark, self.spec)
        self.schema = df.schema
        # one parquet file per block, written from the driver: the WAL is
        # small and a partitioned Spark write of ~100 tiny dirs is slow
        blk = F.floor((F.col("commit_ts") - self.spec.base_ts - 1) / self.spec.block)
        table = df.withColumn("_blk", blk.cast("long")).toArrow().sort_by("_blk")
        ids = table.column("_blk").to_numpy()
        cuts = np.searchsorted(ids, np.arange(n_blocks + 1))
        table = table.drop_columns(["_blk"])
        staged = os.path.join(self.work, "staged")
        os.makedirs(staged)
        self.blocks = []
        for k in range(n_blocks):
            path = os.path.join(staged, f"b{k:06d}.parquet")
            pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), path)
            self.blocks.append(path)
        self.ddl_rows = [r.asDict() for r in gen_ddl_log(self.spark, self.spec).collect()]
        self.wal = os.path.join(self.work, "wal")
        os.makedirs(self.wal)

    def _land(self, k: int) -> None:
        """Land block k: its WAL file first, then its resolved markers."""
        os.rename(self.blocks[k], os.path.join(self.wal, os.path.basename(self.blocks[k])))
        r = self.spec.base_ts + (k + 1) * self.spec.block
        with self._cond:
            self.markers += [(p, r, k + 1) for p in range(self.spec.n_partitions)]
            self.landed_events += TAIL_BLOCK_EVENTS
            self.next_block = k + 1
            self._cond.notify_all()

    def _refresh(self, feed: Changefeed) -> None:
        """Point a feed at everything landed so far (the source's view)."""
        with self._cond:
            markers = list(self.markers)
        feed.binlog = self.spark.read.schema(self.schema).parquet(self.wal)
        feed.resolved_log = self.spark.createDataFrame(markers, RESOLVED_SCHEMA)

    def _catch_up(self, ops: Ops):
        ops.call("bench.source_refresh", self._refresh, self.cf)
        return ops.call("bench.run", self.cf.run)

    def setup(self, ops: Ops) -> dict:
        """The warm-up, then the preload: one bootstrap span on the empty
        table."""
        t0 = time.perf_counter()
        warmup(self.spark)
        t1 = time.perf_counter()
        for k in range(self.preload_blocks):
            self._land(k)
        c1 = ops.cpu()
        cfg = ChangefeedConfig(changefeed_id="bench-tail", n_buckets=N_BUCKETS,
                               compact_every=TAIL_COMPACT_EVERY,
                               frontiers_per_batch=TAIL_BLOCKS_PER_WINDOW)
        self.cf = Changefeed(self.spark, None, None, self.ddl_rows,
                             LakeTable(self.spark, os.path.join(self.work, "t")), cfg)
        s = self._catch_up(ops)
        t2, c2 = time.perf_counter(), ops.cpu()
        return {"warmup_s": t1 - t0, "preload_s": t2 - t1,
                "load": (s["events"], t2 - t1, c2 - c1) if s else None}

    def roots(self) -> list:
        """Table directories that exist before the next measurement."""
        return [self.cf.target.path]

    def prepare(self, ops: Ops) -> None:
        """Compact the table before a phase after the first, untimed and
        untraced, so every phase starts alike."""
        ops.call("bench.compact", self.cf.target.compact)

    def measure(self, ops: Ops) -> dict:
        """One open-loop phase: ``phase_blocks`` blocks land over the run's
        seconds; the phase ends when the feed has committed the last of
        them. The reader reads until then."""
        first, n = self.next_block, self.phase_blocks
        interval = 1.0 / TAIL_BLOCKS_PER_S
        t0 = time.perf_counter() + 0.05
        due = {first + i: t0 + (i + 1) * interval for i in range(n)}
        late: list = []
        due_cpu: dict = {}

        def land() -> None:
            try:
                for k in range(first, first + n):
                    wait = due[k] - time.perf_counter()
                    if wait > 0:
                        time.sleep(wait)
                    late.append(time.perf_counter() - due[k])
                    due_cpu[k] = ops.cpu()
                    self._land(k)
            except OSError as e:
                ops.fail(f"landing: {e}")

        lander = threading.Thread(target=land, name="lander", daemon=True)
        reader = Reader(ops, self.cf.target, t0)
        out = {"lag": [], "lag_cpu": [], "busy_s": 0.0, "busy_cpu": 0.0, "events": 0,
               "calls": 0, "windows": 0, "backlog": [], "call_s": []}
        lander.start()
        reader.start()
        acked = first
        try:
            while acked < first + n:
                with self._cond:
                    while self.next_block <= acked and lander.is_alive():
                        self._cond.wait(0.5)
                    landed = self.next_block
                if landed <= acked:
                    ops.fail("the landing thread stopped early")
                    break
                out["backlog"].append((landed - acked) / TAIL_BLOCKS_PER_WINDOW)
                a, ca = time.perf_counter(), ops.cpu()
                s = self._catch_up(ops)
                b, cb = time.perf_counter(), ops.cpu()
                if s is None:
                    break
                out["busy_s"] += b - a
                out["busy_cpu"] += cb - ca
                out["call_s"].append(round(b - a, 3))
                out["events"] += s["events"]
                out["calls"] += 1
                out["windows"] += s["merges"]
                covered = (s["checkpoint"] - self.spec.base_ts) // self.spec.block
                out["lag"] += [b - due[k] for k in range(acked, min(covered, first + n))]
                out["lag_cpu"] += [cb - due_cpu[k]
                                   for k in range(acked, min(covered, first + n))]
                acked = max(acked, covered)
        finally:
            lander.join()
            reader.finish()
        if out["calls"]:
            out["catchup"] = (out["events"], out["busy_s"], out["busy_cpu"])
        out["read"], out["depth"], out["late"] = reader.latencies, reader.delta_depths, late
        out["roots"], out["targets"] = [self.cf.target.path], [self.cf.target]
        return out

    def verify(self, ops: Ops) -> None:
        frontier = self.spec.base_ts + self.next_block * self.spec.block
        self._refresh(self.cf)
        want = expected_final_state(self.cf.binlog, self.cf.registry, frontier)
        _check_tables(ops, ["table"], [self.cf.target], [want], self.landed_events, frontier)


# --------------------------------------------------------------------------
# warm-up
# --------------------------------------------------------------------------


def warmup(spark) -> None:
    """An untimed pass of the engine's data path on a small input, so a fresh
    JVM's first-job costs (class loading, JIT, the first Python workers)
    land in set-up: prepare, LWW dedup and the mount UDF over a generated
    binlog (the pipeline of bench.py's blackhole entry)."""
    spec = BinlogSpec(n_events=2_000, n_convs=50, n_turns=8, block=100, n_partitions=8,
                      seed=1)
    deduped = lww_dedup(with_op_rank(gen_binlog(spark, spec)), stats=False)
    mount(deduped, SchemaRegistry(), spec.max_commit_ts).count()
